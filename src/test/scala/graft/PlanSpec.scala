package graft

import graft.queries.{LayerADemo, Relational, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort

/** Physical-plan audit: the properties that decide 100 TB viability —
  * predicate pushdown, column pruning, broadcast choices, absence of
  * needless shuffles, whole-stage codegen coverage. */
class PlanSpec extends SparkSpec {

  /** Final (post-AQE) executed plan: run the query, then render. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q01: filter + column pruning reach the parquet scan") {
    val p = finalPlan(Relational.q01PricingSummary(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"), s"no pushdown in:\n$p")
    // only the 7 needed columns in the read schema, not all 11
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "pruned column still read")
    // AQE reports codegen only on the executed final plan: traverse it
    val df = Relational.q01PricingSummary(spark, sfDir)
    df.collect()
    val finalPhysical = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    // "*(<id>)" prefixes mark whole-stage-codegen'd operators
    assert(finalPhysical.toString.contains("*("),
      s"no codegen stages in:\n$finalPhysical")
  }

  test("q06: all range predicates pushed") {
    val p = finalPlan(Relational.q06RevenueChange(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "IsNotNull(l_discount), IsNotNull(l_quantity)"), p)
    assert("""l_quantity#\d+ < 24\.0""".r.findFirstIn(p).isDefined, p)
    assert("""l_discount#\d+ >= 0\.05""".r.findFirstIn(p).isDefined, p)
  }

  test("q08: tiny dims broadcast, no sort-merge against region/nation") {
    val p = finalPlan(Relational.q08RegionNationRollup(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q13: big-big join is sort-merge as hinted") {
    val p = finalPlan(Relational.q13OrderLineitemSmj(spark, sfDir))
    assert(p.contains("SortMergeJoin"), p)
  }

  test("fused 1M generator plan: single range scan, zero exchanges") {
    // not executed (1M rows): fusion is visible pre-AQE
    val df = LayerADemo.bench1mGenerate(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Range (0, 1000000"), p)
    assert(!p.contains("Exchange"), s"generator fusion broke:\n$p")
  }

  test("top-k queries compile to TakeOrderedAndProject, not global sort") {
    val p = finalPlan(Relational.q03TopRevenueOrders(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q16 salted join: plan fans hot keys, result matches plain join") {
    val p = finalPlan(graft.queries.Skew.q16SaltedJoin(spark, sfDir))
    assert(p.contains("__salt") || p.contains("Generate"), p)
  }

  test("bucketed tables: co-located join runs without a shuffle") {
    val wh = java.nio.file.Files.createTempDirectory("bucketed")
    val o = Relational.table(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
    val li = Relational.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/o").mode("overwrite").saveAsTable("o_bkt")
    li.withColumnRenamed("l_orderkey", "o_orderkey")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/li").mode("overwrite").saveAsTable("li_bkt")
    // disable broadcast so the bucketed sort-merge path is exercised
    // (the 100 TB shape — neither side broadcastable)
    try GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("o_bkt")
        .join(spark.table("li_bkt"), "o_orderkey")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
    } finally {
      spark.sql("DROP TABLE IF EXISTS o_bkt")
      spark.sql("DROP TABLE IF EXISTS li_bkt")
    }
  }

  test("rule-mutator eligibility gates are UDF-free: only the rewrite " +
    "itself is a UDF") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import spark.implicits._

    def udfCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.expressions
        .flatMap(_.collect { case u: ScalaUDF => u }).size

    val df = Seq((0L, "hello"), (1L, "world5"))
      .toDF(graft.core.Gecko.RowId, "v")

    // M2: candidate-char eligibility compiles to a character-class
    // rlike; exactly ONE UDF (the splice) remains in the plan
    val cldr = graft.mut.RuleMutators.WithCldrKeymap(
      graft.mut.Cldr.neighborCandidates(
        getClass.getResourceAsStream("/assets/de-t-k0-windows.xml"), None),
      seed = 1)
    val m2Plan = cldr(df, Seq("v"), 0.5, col(graft.core.Gecko.RowId))
    assert(udfCount(m2Plan) == 1,
      s"M2 plan should contain exactly the rewrite UDF:\n${m2Plan.queryExecution.analyzed}")

    // M3/M17: regex eligibility is an rlike disjunction, not a UDF
    val phon = graft.mut.RuleMutators.WithPhoneticReplacementTable(
      Seq(("ell", "el", "_")), seed = 2)
    assert(udfCount(phon(df, Seq("v"), 0.5, col(graft.core.Gecko.RowId))) == 1)

    val rex = graft.mut.RuleMutators.WithRegexReplacementTable(
      Seq(("""(?P<d>\d)""", "i", Map("d" -> "0"))), seed = 3)
    assert(udfCount(rex(df, Seq("v"), 0.5, col(graft.core.Gecko.RowId))) == 1)

    // M4 was already expression-gated (instr/===)
    val ocr = graft.mut.RuleMutators.WithReplacementTable(
      Seq(("5", "s")), inline = true, reverse = false, seed = 4)
    assert(udfCount(ocr(df, Seq("v"), 0.5, col(graft.core.Gecko.RowId))) == 1)
  }

  test("t07 repetition: zero exchanges before the presentation sort — " +
    "the per-doc max-token-frequency never shuffles token rows") {
    val df = TextAnalysis.repetition(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // exactly the one exchange the final ORDER BY requires; the
    // explode+groupBy formulation this replaces would show two
    // HashAggregate exchanges over exploded tokens
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 exchange (the sort), got " +
      s"$exchanges in:\n$p")
    assert(!p.contains("Generate"), s"token explode leaked into:\n$p")
  }

  test("t06 normalize: column pruning — only doc_id and text read") {
    val df = TextAnalysis.normalize(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("lang"), s"pruned column still read in:\n$p")
  }

  test("t08 PII redaction runs at scan speed: no UDFs, no exchanges " +
    "before the presentation sort") {
    val df = TextAnalysis.piiRedact(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"redaction should be a pure scan pass:\n$p")
  }

  test("t09 decontamination: benchmark gram set broadcast, corpus " +
    "grams never shuffled wholesale") {
    val df = TextAnalysis.decontaminate(spark, sfDir)
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the only SHUFFLES allowed: the tiny benchmark-gram distinct, the
    // post-match aggregation, and the presentation sort — the exploded
    // corpus-gram stream itself stays map-side (broadcast exchanges of
    // the 20-row benchmark side are fine and not counted)
    val finalSection = p.split("== Initial Plan ==").head
    val shuffles = "Exchange (hash|range)partitioning".r
      .findAllIn(finalSection).length
    assert(shuffles <= 3, s"expected <=3 shuffle exchanges (bench " +
      s"distinct, match agg, sort), got $shuffles:\n$p")
  }

  test("t10 token histogram: partial-agg shuffle + TakeOrderedAndProject " +
    "— never a global sort of the histogram") {
    val p = TextAnalysis.tokenHistogram(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("partial_count"), s"map-side combine missing:\n$p")
  }

  test("t11 tf-idf: map-side explode, partial-agg shuffles, broadcast " +
    "corpus count — no cartesian on the tf x df join") {
    val df = TextAnalysis.tfidf(spark, sfDir)
    val p = finalPlan(df)
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the single-row n_docs agg rides in broadcast; tf join df must be
    // a proper equi-join on token
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"tf-df join is not an equi-join:\n${p.take(3000)}")
    assert(p.contains("partial_count"), s"map-side combine missing:\n$p")
  }

  test("c01 curation pipeline: ONE hash shuffle (the dedup groupBy); " +
    "scrub + gates fuse into the scan pass") {
    val df = graft.queries.Curation.curationPipeline(spark, sfDir)
    val p = finalPlan(df)
    val finalSection = p.split("== Initial Plan ==").head
    val hashShuffles = "Exchange hashpartitioning".r
      .findAllIn(finalSection).length
    assert(hashShuffles == 1,
      s"expected exactly 1 hash shuffle (dedup), got $hashShuffles:\n$p")
    assert(!p.contains("ScalaUDF"), "curation stages must stay codegen'd")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"pipeline must be join-free:\n${p.take(3000)}")
  }

  test("d08 paragraph dedup: two keyed shuffles (first-occurrence agg, " +
    "reassembly), join-free, partial min-struct agg") {
    val df = graft.queries.Dedup.paragraphDedup(spark, sfDir)
    val p = finalPlan(df)
    val finalSection = p.split("== Initial Plan ==").head
    val hashShuffles = "Exchange hashpartitioning".r
      .findAllIn(finalSection).length
    assert(hashShuffles == 2,
      s"expected 2 hash shuffles (para agg + doc agg), got " +
        s"$hashShuffles:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"paragraph dedup must be join-free:\n${p.take(3000)}")
    assert(p.contains("partial_min"), s"map-side combine missing:\n$p")
  }

  test("c02 data card: one partial-agg shuffle over the tiny " +
    "(source, lang) key space — a map-side-combine scan pass") {
    val df = graft.queries.Curation.sourceDatacard(spark, sfDir)
    val p = finalPlan(df)
    val finalSection = p.split("== Initial Plan ==").head
    val hashShuffles = "Exchange hashpartitioning".r
      .findAllIn(finalSection).length
    assert(hashShuffles == 1, s"expected 1 hash shuffle, got " +
      s"$hashShuffles:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"map-side combine missing:\n$p")
    assert(!p.contains("Join"), s"data card must be join-free:\n$p")
  }

  test("s06 embedding clusters: the corpus-wide assignment pass is " +
    "UDF-free — codegen'd k-cosine argmax, one partial-agg shuffle") {
    val df = graft.queries.Similarity.embeddingClusters(spark, sfDir)
    val p = finalPlan(df)
    assert(!p.contains("ScalaUDF"),
      s"corpus assignment must stay codegen'd:\n${p.take(3000)}")
    assert(p.contains("partial_count"), s"map-side combine missing:\n$p")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("t12 CMS heavy hitters: sketch build is a partial-agg shuffle " +
    "onto 4096 fixed cells; probes join the sketch via broadcast") {
    val df = graft.queries.Sketches.heavyHitters(spark, sfDir)
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"sketch probe join must broadcast the 4096-cell sketch:\n" +
        p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("partial_count"), s"map-side combine missing:\n$p")
  }

  test("e01 embedding quantization: pure per-row expressions — no " +
    "shuffle, no UDF, before the presentation sort") {
    import graft.queries.Similarity
    val p = Similarity.quantizeDemo(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"quantization should be a scan pass:\n$p")
  }

  test("ANN family: only the brute-force baseline is allowed a nested-" +
    "loop join; LSH and IVF paths are equi-joins on bucket keys") {
    import graft.queries.Similarity
    // s01 baseline: corpus × broadcast(tiny queries) — the nested loop
    // IS the design (single corpus pass); the corpus side must not
    // shuffle
    val brute = finalPlan(Similarity.annBruteForce(spark, sfDir))
    assert(brute.contains("BroadcastNestedLoopJoin"), brute)
    // s02/s04 scale paths: candidate generation must be a hash/merge
    // equi-join — a cartesian or nested loop here would be corpus²
    // (s02 via the plan variant: the shipped query materializes
    // through localCheckpoint, which hides the real plan)
    val (s02Df, s02Caches) = Similarity.annLshBucketedPlan(spark, sfDir)
    for ((name, df) <- Seq(
        ("s02", s02Df),
        ("s04", Similarity.annIvf(spark, sfDir)))) {
      val p = finalPlan(df)
      assert(!p.contains("CartesianProduct"),
        s"$name candidate join went cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name candidate join went nested-loop:\n$p")
    }
    // s02's corpus-wide bucket assignment is the native codegen'd
    // expression — no ScalaUDF anywhere in the scan
    val s02 = finalPlan(s02Df)
    assert(s02.contains("hyperplane_buckets"), s02)
    assert(!s02.contains("ScalaUDF"), s"UDF left in the s02 scan:\n$s02")
    s02Caches.foreach(_.unpersist(false))
    // s10's encode (native PqEncode w/ reference-object codebooks) and
    // ADC scoring (builtin element_at lookups) are both UDF-free too
    val s10 = finalPlan(Similarity.annPq(spark, sfDir))
    assert(s10.contains("pq_encode"), s10)
    assert(!s10.contains("ScalaUDF"), s"UDF left in the s10 path:\n$s10")
    // d03's corpus-wide fingerprint is the native simhash64 expression
    // (asserted on the pre-persist scan — the banded join caches it,
    // which would hide the expression inside the InMemoryRelation)
    val d03df = graft.queries.Dedup.simhashSigs(spark, sfDir)
    // presence is asserted on the optimized logical plan — physically
    // the call collapses into the aggregate's result expressions,
    // which the executed-plan string does not print
    val d03log = d03df.queryExecution.optimizedPlan.toString
    assert(d03log.contains("simhash64"), d03log)
    val d03 = finalPlan(d03df)
    assert(!d03.contains("ScalaUDF"), s"UDF left in the d03 scan:\n$d03")
    // d05's corpus-wide sign-bucket assignment is a 1-table instance
    // of the same native hyperplane expression
    val d05df = graft.queries.Dedup.d05Bucketed(
      Relational.table(spark, sfDir, "embeddings")
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")))
    val d05 = finalPlan(d05df)
    assert(d05.contains("hyperplane_buckets"), d05)
    assert(!d05.contains("ScalaUDF"), s"UDF left in the d05 scan:\n$d05")
  }

  test("d02 MinHash-LSH: banded candidate join is an equi-join, " +
    "never an all-pairs product") {
    import graft.queries.Dedup
    val (d02Df, d02Caches) = Dedup.dedupMinhashLshPlan(spark, sfDir)
    val p = finalPlan(d02Df)
    assert(!p.contains("CartesianProduct"), s"all-pairs join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"all-pairs join in:\n$p")
    d02Caches.foreach(_.unpersist(false))
  }

  test("d02, d13 and s02 plan hooks end without a global sort: the " +
    "frames they localCheckpoint carry no range sort (planned only)") {
    import graft.queries.{Dedup, Similarity}
    for ((name, hook) <- Seq[(String, () => (DataFrame, Seq[DataFrame]))](
        "d02" -> (() => Dedup.dedupMinhashLshPlan(spark, sfDir)),
        "d13" -> (() => Dedup.containmentDedupPlan(spark, sfDir)),
        "s02" -> (() => Similarity.annLshBucketedPlan(spark, sfDir)))) {
      val (df, caches) = hook()
      try {
        val plan = df.queryExecution.optimizedPlan
        assert(plan.collect { case s: Sort if s.global => s }.isEmpty,
          s"$name: global sort in the optimized plan:\n$plan")
      } finally caches.foreach(_.unpersist(false))
    }
  }

  test("t19 BM25: top-k via TakeOrderedAndProject, no cartesian in the " +
    "scoring joins") {
    val p = finalPlan(TextAnalysis.bm25TopK(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"global sort in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s09 epoch shuffle: exactly two windows — the per-bucket rank " +
    "and the 256-row offset prefix sum — offsets broadcast back") {
    // the AQE rendering repeats the plan ("Final"/"Initial" sections):
    // audit only the executed final section
    val p = finalPlan(graft.queries.Sampling.epochShuffle(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert("""Window""".r.findAllIn(p).length == 2, p)
    assert(p.contains("BroadcastExchange"), s"offsets not broadcast:\n$p")
  }

  test("l03 sorted neighborhood: the neighborhood probe is an " +
    "equi-join, never a theta/all-pairs product") {
    val p = finalPlan(graft.queries.Linkage.sortedNeighborhood(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"all-pairs join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"theta join in:\n$p")
  }

  test("q24 pivot: declared domain — single scan of orders, no " +
    "discovery pass") {
    val p = finalPlan(Relational.q24StatusPivot(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert("""orders\.parquet""".r.findAllIn(p).length == 1,
      s"pivot re-scanned orders:\n$p")
  }

  test("q25 correlated subqueries decorrelate: aggregate + equi-join, " +
    "never a per-row re-execution loop") {
    val p = finalPlan(Relational.q25CorrSubquery(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q26 EXISTS / NOT EXISTS chain decorrelates into one semi- " +
    "and one anti-join on the customer key, never a per-row probe") {
    val p = finalPlan(Relational.q26ExistsChain(spark, sfDir))
    assert(p.contains("LeftSemi"), s"no semi-join in:\n$p")
    assert(p.contains("LeftAnti"), s"no anti-join in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d10 incremental dedup: delta-vs-history is an anti-join, " +
    "no full-corpus re-aggregation of the delta path") {
    val p = finalPlan(graft.queries.Dedup.incrementalDedup(spark, sfDir))
    assert(p.contains("LeftAnti"), s"no anti-join in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t21 dup n-grams: gram counting is a keyed partial-agg shuffle " +
    "with no all-pairs comparison anywhere") {
    val p = finalPlan(TextAnalysis.dupNgramFraction(spark, sfDir))
    assert(p.contains("hashpartitioning(gram"), s"no gram shuffle in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  // ------------------------------- round-5 session-3 plan-shape audits

  test("q07 window top-k: Spark's WindowGroupLimit caps per-group " +
    "buffering — documented context for q27's aggregate variant") {
    val p = graft.queries.Relational
      .q07TopOrdersPerCustomer(spark, sfDir)
      .queryExecution.executedPlan.toString
    // Spark 3.5+ inserts WindowGroupLimit below the rank filter; the
    // full-row shuffle AND per-group sort remain (what q27 removes)
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(p.contains("Sort"), p.take(2000))
  }

  test("q28 grouping sets: ONE Expand + a single aggregate pair, " +
    "never a 3-way union of rescans") {
    val p = finalPlan(graft.queries.Relational
      .q28GroupingSets(spark, sfDir))
    assert(p.contains("Expand"), p.take(2000))
    assert(!p.contains("Union"), s"grouping sets must not rescan:\n$p")
  }

  test("d12 substring dedup: the gram window is the only " +
    "corpus-proportional shuffle and there is no pairwise join") {
    val p = finalPlan(graft.queries.Dedup.substringDedup(spark, sfDir))
    assert(p.contains("hashpartitioning(gram"), s"no gram shuffle in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  // ------------------------------- round-5 session-4 plan-shape audits

  test("t24 bpe apply: the encode pass is join-free map-side codegen — " +
    "rules are folded literals, the only shuffle is the per-doc agg") {
    val p = finalPlan(graft.queries.TextAnalysis.bpeApply(spark, sfDir))
    assert(!p.contains("Join"), s"encode pass must not join:\n$p")
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side partial agg in:\n$p")
  }

  test("t25 surprisal: vocab broadcasts back onto the token stream — " +
    "never a corpus-vs-corpus shuffle join, no UDF") {
    val p = finalPlan(graft.queries.TextAnalysis.surprisal(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for join:\n$p")
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("q29 window suite: all four functions ride ONE o_custkey " +
    "exchange and one sort — no per-function re-shuffle") {
    // count only the Final Plan — AQE's toString appends the Initial
    // Plan too, which would double-count every node
    val p = finalPlan(graft.queries.Relational
      .q29WindowSuite(spark, sfDir)).split("== Initial Plan ==")(0)
    val exchanges = "hashpartitioning\\(o_custkey".r
      .findAllIn(p).length
    assert(exchanges == 1, s"expected 1 window exchange, got $exchanges:\n$p")
    assert(p.contains("Window"), p.take(2000))
  }

  test("c06 expectations: every metric rides one scan — a single " +
    "Expand-based multi-distinct aggregate, no Union of rescans") {
    val p = finalPlan(graft.queries.Curation.expectations(spark, sfDir))
      .split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans:\n$p")
    assert(p.contains("Expand"), s"multi-distinct should Expand:\n$p")
    assert(!p.contains("Union"), s"audit must not rescan per metric:\n$p")
  }

  test("s12 negative sampling: anchors broadcast, partial min below " +
    "the exchange — negatives never round-trip the corpus") {
    val df = graft.queries.Sampling.negativeSampling(spark, sfDir)
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("partial_min"), s"map-side min missing:\n$p")
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }
}
