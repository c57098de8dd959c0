package graft

import org.apache.spark.sql.functions._
import graft.queries.{Relational, Sampling, Sources, TextAnalysis}

/** Round-6 session-2 operators: j10 bucketed co-located join and s23
  * contrastive triplet mining. Each test pins what the DuckDB hash
  * gate cannot see — the bucket layout actually eliminating the join
  * exchanges, and the triplet miner's cluster-exclusion / drop-ledger
  * algebra. */
class Round6Spec extends SparkSpec {

  test("j10: bucketed join plan has SortMergeJoin, bucketed scans, " +
    "and ZERO exchanges; result equals the raw-parquet join") {
    val (oTab, cTab) = Sources.writeBucketed(spark, sfDir)
    val joined = Sources.bucketedJoinRead(spark, oTab, cTab)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("Bucketed: true"), p.take(3000))
    assert(!p.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n${p.take(3000)}")

    // the full gated query returns exactly the raw-parquet result
    val bucketed = sortedRows(Sources.bucketedJoin(spark, sfDir))
    val raw = sortedRows(Relational.table(spark, sfDir, "orders")
      .join(Relational.table(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_price")))
    assert(bucketed == raw)
  }

  test("j11: the fact scan carries a dynamic partition pruning " +
    "filter and the pruned result equals the unpartitioned join") {
    val joined = Sources.dppJoinRead(spark, sfDir)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no DPP filter on the fact scan:\n${p.take(3000)}")
    val pruned = sortedRows(Sources.dppJoin(spark, sfDir))
    val raw = sortedRows(Relational.table(spark, sfDir, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .join(Relational.table(spark, sfDir, "orders")
        .filter(year(col("o_orderdate")) === 1996)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .distinct(), col("ship_month") === col("month"))
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_qty")))
    assert(pruned == raw)
    // the pruning is live: 1996 covers 12 of the >80 ship months
    val months = pruned.map(_.getString(0))
    assert(months.forall(_.startsWith("1996")) && months.length >= 10,
      months.toSeq)
  }

  test("j12: variant shredding round-trips typed values exactly — " +
    "including doubles through JSON text") {
    val shredded = sortedRows(Sources.variantShred(spark, sfDir))
    val raw = sortedRows(Relational.table(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority").as("pr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_price")))
    assert(shredded == raw)
  }

  test("j13: the fact side of the plan carries a bloom-filter " +
    "might_contain probe, and the result equals the plain join") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled",
      "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = Sources.bloomJoinOn(s2, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"no runtime bloom filter injected:\n${p.take(3000)}")
    val viaBloom = sortedRows(Sources.bloomJoin(spark, sfDir))
    val plain = sortedRows(Sources.bloomJoinOn(spark, sfDir))
    assert(viaBloom == plain)
  }

  test("j14: XML roundtrip preserves exact text bytes including " +
    "entity-escaped <, &, quotes, and newlines") {
    import spark.implicits._
    val hostile = Seq(
      (1L, "a<b>&amp;</b> \"quoted\" 'single'"),
      (2L, "line1\nline2 & <not-a-tag> ]]>"),
      (3L, "plain"),
      // surrounding whitespace is payload: the read sets
      // ignoreSurroundingSpaces=false explicitly, so leading/trailing
      // blanks (and a whitespace-heavy value) must survive byte-exact
      (4L, "  leading and trailing  "),
      (5L, " \t mixed\ttabs \t ")).toDF("id", "text")
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_j14_spec_${spark.sparkContext.applicationId}")
      .getAbsolutePath
    hostile.write.mode("overwrite").option("rowTag", "doc")
      .format("xml").save(out)
    val back = spark.read
      .schema("id LONG, text STRING")
      .option("rowTag", "doc")
      .option("ignoreSurroundingSpaces", "false").format("xml").load(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(back == Map(
      1L -> "a<b>&amp;</b> \"quoted\" 'single'",
      2L -> "line1\nline2 & <not-a-tag> ]]>",
      3L -> "plain",
      4L -> "  leading and trailing  ",
      5L -> " \t mixed\ttabs \t "))
    // and the gate query equals the straight parquet aggregate
    val viaXml = sortedRows(Sources.xmlRoundtrip(spark, sfDir))
    val raw = sortedRows(Relational.table(spark, sfDir, "documents")
      .filter(col("lang") === "es")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(length(col("text")).cast("long")).as("sum_chars")))
    assert(viaXml == raw)
  }

  test("j15: _metadata projection changes no row and sees all 8 " +
    "shards") {
    val rows = sortedRows(Sources.metadataColumns(spark, sfDir))
    assert(rows.forall(_.getLong(3) == 8L),
      rows.map(_.getLong(3)))
    val raw = sortedRows(Relational.table(spark, sfDir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id")))
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      raw.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
  }

  test("q42: the recursive spine is contiguous min..max month, and " +
    "the gap rows a GROUP BY cannot produce are live") {
    val rows = Relational.q42RecursiveSpine(spark, sfDir).collect()
    val months = rows.map(_.getString(0))
    assert(months.length >= 12 && months.toSet.size == months.length)
    // contiguity: every consecutive pair is exactly one month apart
    def idx(m: String) =
      m.take(4).toInt * 12 + m.drop(5).toInt
    months.sliding(2).foreach { case Array(a, b) =>
      assert(idx(b) == idx(a) + 1, s"spine gap between $a and $b")
    }
    // liveness: the sparse series has zero months AND nonzero months
    val counts = rows.map(_.getLong(1))
    assert(counts.contains(0L) && counts.exists(_ > 0),
      s"gap detection vacuous: ${counts.toSeq}")
    // the spine covers exactly the orders' month span
    val span = Relational.table(spark, sfDir, "orders")
      .agg(date_format(min(col("o_orderdate")), "yyyy-MM"),
        date_format(max(col("o_orderdate")), "yyyy-MM"))
      .collect().head
    assert(months.head == span.getString(0) &&
      months.last == span.getString(1))
  }

  test("q43: the correlated LATERAL decorrelates to a partial " +
    "WindowGroupLimit (bounded per-task top-k), and equals the " +
    "explicit window ranking") {
    val df = Relational.q43LateralTopk(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"LATERAL LIMIT not decorrelated to a group limit:\n${p.take(3000)}")
    assert(p.contains("Partial"), p.take(3000))
    val viaLateral = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = Relational.table(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .join(Relational.table(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .orderBy(col("c_custkey"), col("o_totalprice").desc,
        col("o_orderkey"))
      .select("c_custkey", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaLateral == viaWindow)
  }

  test("s23: triple conservation (one candidate per anchor), status " +
    "domain, kept-liveness, and determinism across runs") {
    val out = Sampling.contrastiveTriplets(spark, sfDir).collect()
    val statuses = out.map(_.getString(1)).toSet
    assert(statuses.subsetOf(Set("kept", "dropped_identity",
      "dropped_same_cluster")), statuses)
    // liveness: the miner actually produces triples
    val keptTotal = out.filter(_.getString(1) == "kept")
      .map(_.getLong(2)).sum
    assert(keptTotal > 0, "no kept triples mined")
    // conservation: every anchor with an existing positive yields
    // EXACTLY one candidate triple (rank-shift is total on blocks)
    val ids = Relational.table(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val nAnchors = ids.count(d => d % 10 <= 2 && ids.contains(d + 1))
    assert(out.map(_.getLong(2)).sum == nAnchors.toLong,
      s"candidate triples != anchors ($nAnchors)")
    // determinism: same result on a second run (pure md5 gates, no
    // partition-layout dependence)
    val again = Sampling.contrastiveTriplets(spark, sfDir).collect()
    assert(out.toSeq == again.toSeq)
  }

  test("sk01: KMV sketches are exact below k, estimates equal truth " +
    "at this SF, and the sketch is partition-layout-independent") {
    import graft.expr.KmvSketchAgg.kmvSketch
    // sf0.001 has 15 distinct users per type < k=64 → the sketch
    // holds the whole set and every estimate must be EXACT
    val rows = graft.queries.Sketches.kmvOverlap(spark, sfDir).collect()
    assert(rows.length == 10) // C(5 types, 2)
    rows.foreach { r =>
      assert(r.getLong(6) == r.getLong(2), s"est_a != exact_a: $r")
      assert(r.getLong(7) == r.getLong(3), s"est_b != exact_b: $r")
      assert(r.getLong(8) == r.getLong(4), s"est_union: $r")
      assert(r.getLong(9) == r.getLong(5), s"est_inter: $r")
    }
    // merge-tree independence: 1-partition and 8-partition builds
    // produce byte-identical sketches (set semantics, no order term)
    def sketchOf(parts: Int): Seq[Long] = spark.range(10000)
      .repartition(parts)
      .select(xxhash64((col("id") % 500).cast("string")).as("h"))
      .agg(kmvSketch(col("h"), 64)).collect().head.getSeq[Long](0)
    assert(sketchOf(1) == sketchOf(8))
    assert(sketchOf(8).length == 64)
    // and the inv contract holds where estimation is actually active
    // (n > k): 500 distinct hashed ids vs k=64
    val est = graft.expr.KmvSketchAgg
      .estimateDistinct(sketchOf(8).toArray, 64)
    assert(math.abs(est - 500) <= 500 * 0.35, s"est=$est")
  }

  test("t37: every pipeline stage is live, the ledger conserves the " +
    "planted corpus, and the dedup drop equals the plant count") {
    val rows = TextAnalysis.pretrainManifest(spark, sfDir).collect()
    val byFate = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFate.keySet == Set("1_dropped_dup", "2_dropped_quality",
      "3_dropped_contaminated", "4_eval", "4_train", "4_val"),
      byFate.keySet)
    val docs = Relational.table(spark, sfDir, "documents")
    val n = docs.count()
    val nPlanted = docs.filter(col("doc_id") % 20 === 0).count()
    // conservation: raw corpus = originals + planted exact copies
    assert(byFate.values.sum == n + nPlanted, byFate)
    // the dedup stage drops EXACTLY the planted copies (id-shifted
    // above every original, so min-keep always keeps the original)
    assert(byFate("1_dropped_dup") == nPlanted, byFate)
    // every stage ledger row is positive (liveness already implied
    // by the fate-set assert, but make the counts visible on failure)
    byFate.foreach { case (f, c) => assert(c > 0, s"$f empty") }
  }

  test("s23: no kept triple pairs an anchor with a negative from " +
    "its own near-dup cluster (closed-form replay)") {
    // replicate the miner but keep per-triple rows, then check the
    // exclusion property directly against closed-form cluster ids
    import org.apache.spark.sql.expressions.Window
    val docs = Relational.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        floor(size(split(col("text"), " ")) / 16).as("len_band"))
    val block = Window.partitionBy("lang", "len_band")
    val ranked = docs
      .withColumn("r", row_number().over(
        block.orderBy(md5(concat(lit("s23#"), col("doc_id"))),
          col("doc_id"))))
      .withColumn("block_n", count(lit(1)).over(block))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    def cluster(d: Long): Long = {
      val member = d % 10 <= 2 || (d % 10 <= 3 && ids.contains(d - 1))
      if (member) d - d % 10 else d
    }
    val negs = ranked.select(col("lang").as("nl"),
      col("len_band").as("nb"), col("r").as("nr"),
      col("doc_id").as("neg_id"))
    val triples = ranked.filter(col("doc_id") % 10 <= 2)
      .withColumn("neg_r", (col("r") - 1 + 7) % col("block_n") + 1)
      .join(negs, col("lang") === col("nl") &&
        col("len_band") === col("nb") && col("neg_r") === col("nr"))
      .select("doc_id", "neg_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, n) => ids.contains(a + 1) }
    // the miner's "kept" count must equal the candidates whose
    // negative is outside the anchor's cluster and not the positive
    val keptReplay = triples.count { case (a, n) =>
      n != a && n != a + 1 && cluster(n) != cluster(a)
    }
    val out = Sampling.contrastiveTriplets(spark, sfDir).collect()
    val keptTotal = out.filter(_.getString(1) == "kept")
      .map(_.getLong(2)).sum
    assert(keptTotal == keptReplay.toLong,
      s"kept=$keptTotal replay=$keptReplay")
  }
}
