package graft

import org.apache.spark.sql.functions._
import graft.queries.{Curation, Dedup, Graph, Relational, Streaming,
  TextAnalysis}

/** Round-5 session-6 operators: q34 unpivot round-trip, gr05
  * common-neighbor link prediction, t30 PMI collocations, c10
  * freshness audit, st18 sharded lateness audit. Each test pins the
  * property the DuckDB hash check cannot see from the outside — the
  * reshape is lossless, the caps/floors actually bind, the sharded
  * decomposition is exact. */
class Round5eSpec extends SparkSpec {

  import spark.implicits._

  test("q34: unpivot of the pivot equals the direct long-form " +
    "aggregate, and no empty cells leak") {
    val melted = Relational.all.collectFirst {
      case ("q34_unpivot", fn, _) => fn(spark, sfDir)
    }.get.collect()
    // the direct aggregate, computed without ever going wide
    val direct = Relational.table(spark, sfDir, "orders")
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_orderstatus").as("o_status"))
      .agg(count(lit(1)).as("n_orders"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(melted.nonEmpty)
    assert(melted.length == direct.size,
      "pivot->unpivot round trip changed the group count")
    melted.foreach { r =>
      val key = (r.getLong(0), r.getString(1))
      assert(r.getLong(2) > 0, s"empty cell leaked: $key")
      assert(direct(key) == r.getLong(2),
        s"count mismatch at $key after the round trip")
    }
  }

  test("gr05: the per-supplier cap bounds candidate generation, and " +
    "every score respects the common-neighbor algebra") {
    val rows = Graph.linkPrediction(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (c1, c2, cn, jac) =>
      assert(c1 < c2, "pair not canonically ordered")
      // cap = 5 neighbors per supplier => a pair can share at most as
      // many suppliers as either endpoint's capped degree, which is
      // itself unbounded across suppliers — but Jaccard is a ratio in
      // [0, 1e6] by construction, and cn >= 1 for any emitted pair
      assert(cn >= 1L)
      assert(jac >= 0L && jac <= 1000000L, s"jaccard_ppm $jac out of range")
    }
    // the top-k ordering is what the operator promises
    val sorted = rows.sortBy { case (c1, c2, cn, jac) =>
      (-cn, -jac, c1, c2) }
    assert(rows.toSeq == sorted.toSeq, "top-k order violated")
  }

  test("t30: the support floor binds and the scaled lift ranks " +
    "exactly like the rational it truncates") {
    val rows = TextAnalysis.all.collectFirst {
      case ("t30_pmi_collocations", fn, _) => fn(spark, sfDir)
    }.get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, cXy, cX, cY, lift) =>
      assert(cXy >= 5L, "support floor violated")
      assert(cXy <= cX && cXy <= cY,
        "bigram count exceeds a unigram count")
      assert(lift == cXy * 1000000L / (cX * cY),
        "lift_ppm is not the exact truncated rational")
    }
  }

  test("c10: freshness lags and hourly completeness obey the audit " +
    "algebra — one feed is the global newest") {
    val rows = Curation.freshnessAudit(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, lag, present, expected, missing, fresh) =>
      assert(n > 0 && lag >= 0L)
      assert(present >= 1L && present <= expected,
        "hour coverage exceeds the feed's own span")
      assert(missing == expected - present)
      assert(fresh == (if (lag <= 60L) 1L else 0L))
    }
    assert(rows.count(_._3 == 0L) >= 1,
      "no feed carries the global max timestamp")
  }

  test("st18: the sharded two-phase running max is exact — tiny " +
    "chunks, one giant chunk, and misaligned chunks all agree") {
    val ev = Streaming.events(spark, sfDir)
    def audit(chunk: Long) =
      Streaming.latenessAuditFrom(ev, chunk).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toSeq
    val naive = audit(Long.MaxValue) // single chunk = the unsharded def
    assert(naive.nonEmpty)
    assert(audit(7L) == naive, "7-row chunks diverge from unsharded")
    assert(audit(1L) == naive,
      "1-row chunks (pure cross-chunk prefix path) diverge")
    // buckets partition the feed
    naive.foreach { case (_, n, onTime, b10, b1h, bGe, maxMin) =>
      assert(onTime + b10 + b1h + bGe == n, "buckets do not partition")
      assert(maxMin >= 0L)
      assert((maxMin == 0L) || (b10 + b1h + bGe > 0))
    }
  }

  test("d13: every planted prefix doc is FULLY contained in its " +
    "source — and containment is asymmetric where Jaccard is not") {
    val rows = Dedup.containmentDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, shared, ngA, ngB, ppm) =>
      assert(a < b)
      assert(shared <= math.min(ngA, ngB),
        "shared grams exceed a doc's gram count")
      assert(ppm == shared * 1000000L / math.min(ngA, ngB))
      assert(ppm >= 600000L && ppm <= 1000000L)
    }
    // the planted prefix pairs: (source, source + PlantOffset), all at
    // exactly full containment — a prefix's 3-grams are a subset of
    // its source's
    val planted = rows.filter { case (a, b, _, _, _, _) =>
      b - a == Dedup.PlantOffset && a % 7 == 0 }
    assert(planted.nonEmpty, "no planted prefix pair surfaced")
    planted.foreach { case (a, _, shared, ngA, ngB, ppm) =>
      assert(ppm == 1000000L,
        s"planted prefix of doc $a not fully contained")
      assert(shared == math.min(ngA, ngB))
    }
  }

  test("t31: novelty is 100% for the first doc, first-occurrence " +
    "attribution is conserved, and repeated grams depress later docs") {
    val rows = TextAnalysis.all.collectFirst {
      case ("t31_ngram_novelty", fn, _) => fn(spark, sfDir)
    }.get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // output is in doc_id order; the earliest doc can only hold novel
    // grams
    assert(rows.head._3 == rows.head._2 && rows.head._4 == 1000000L,
      "the earliest document must be 100% novel")
    rows.foreach { case (_, n, novel, ppm) =>
      assert(novel >= 0L && novel <= n)
      assert(ppm == novel * 1000000L / n)
    }
    // conservation: total novel grams across docs == distinct grams in
    // the corpus (every gram is novel exactly once)
    val totalNovel = rows.map(_._3).sum
    val distinctGrams = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .selectExpr("split(text, ' ') AS t").filter("size(t) >= 3")
      .selectExpr("explode(array_distinct(transform(" +
        "sequence(1, size(t) - 2), i -> concat_ws(' ', " +
        "element_at(t, i), element_at(t, i + 1), " +
        "element_at(t, i + 2))))) AS g")
      .agg(countDistinct(col("g"))).collect()(0).getLong(0)
    assert(totalNovel == distinctGrams,
      s"first-occurrence attribution not conserved: " +
        s"$totalNovel novel vs $distinctGrams distinct")
    assert(rows.exists(_._4 < 1000000L),
      "no doc shares any gram — novelty is vacuous on this corpus")
  }

  test("q35: the sweep line conserves flow — deltas sum to zero, the " +
    "running count never goes negative, and the peak is positive") {
    val rows = Relational.all.collectFirst {
      case ("q35_open_order_concurrency", fn, _) => fn(spark, sfDir)
    }.get.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).sorted.toSeq == rows.map(_._1).toSeq)
    assert(rows.exists(_._2 > 0), "no month ever has an open order")
    rows.foreach { case (_, maxOpen, days) =>
      assert(maxOpen >= 0L, s"open-order count went negative: $maxOpen")
      assert(days >= 1L)
    }
    // flow conservation: every order opened is eventually closed, so
    // the final running value is 0 => the last month's step function
    // ends at 0 and the TOTAL of all deltas is 0. Recompute directly:
    val spans = Relational.table(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("e"))
      .join(Relational.table(spark, sfDir, "orders")
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
    val nSpans = spans.count()
    assert(nSpans > 0)
    // peak concurrency can never exceed the order count
    assert(rows.map(_._2).max <= nSpans)
  }

  test("s15: greedy k-center radii are non-increasing, centers are " +
    "distinct, and every center pair is at least the final radius " +
    "apart") {
    import graft.queries.Similarity
    val rows = Similarity.kcenterCoreset(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 5)
    assert(rows.map(_._1).toSeq == (0L to 4L))
    assert(rows.map(_._2).distinct.length == 5, "a center repeats")
    assert(rows.head._3 == 0L)
    val radii = rows.tail.map(_._3)
    assert(radii.forall(_ > 0L), "degenerate pick at distance 0")
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"greedy max-min radii must be non-increasing: ${radii.toSeq}")
    // the separation guarantee: when center r was picked it was
    // radius_r away from ALL earlier centers, so every pair of
    // chosen centers is >= the LAST (smallest) radius apart
    val ids = rows.map(_._2).toSet
    val qs = Similarity.quantizeEmbeddings(
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")))
      .filter(col("vec_id").isin(ids.toSeq: _*))
      .select("vec_id", "q").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val minRadius = radii.min
    for (a <- ids; b <- ids if a < b) {
      val d = qs(a).zip(qs(b))
        .map { case (x, y) => (x - y).toLong * (x - y) }.sum
      assert(d >= minRadius,
        s"centers $a,$b closer ($d) than the final radius $minRadius")
    }
  }

  test("j07: the merged read null-fills exactly the columns each " +
    "epoch never wrote") {
    import graft.queries.Sources
    val rows = sortedRows(Sources.schemaEvolution(spark, sfDir))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length == 2)
    val (e0, e1) = (rows(0), rows(1))
    assert(e0._1 == 0L && e1._1 == 1L)
    // epoch 0 wrote lang but never source/n_chars — and vice versa
    assert(e0._3 == 0L, "epoch 0 lost lang values in the merge")
    assert(e0._4 == e0._2 && e0._5 == e0._2,
      "epoch 0 rows must null-fill source and n_chars")
    assert(e1._3 == e1._2, "epoch 1 rows must null-fill lang")
    assert(e1._4 == 0L && e1._5 == 0L,
      "epoch 1 lost source/n_chars values in the merge")
    assert(e0._6 > 0L && e1._6 > 0L, "text payload vanished")
  }

  test("c11: the partial parent snapshot fires the audit, the clean " +
    "relations stay silent") {
    val rows = Curation.referentialIntegrity(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.length == 4)
    val byRel = rows.map(r => r._1 -> r).toMap
    val partial = byRel("lineitem->orders(partial)")
    assert(partial._3 > 0L, "planted partial load produced no orphans")
    assert(partial._4 > 0L && partial._4 <= partial._3,
      "missing-key count must be positive and <= orphan rows")
    Seq("orders->customer", "lineitem->part", "lineitem->supplier")
      .foreach { rel =>
        assert(byRel(rel)._3 == 0L && byRel(rel)._4 == 0L,
          s"clean relation $rel reported orphans")
      }
    rows.foreach { case (_, n, orphans, _) =>
      assert(orphans <= n)
    }
  }

  test("s16: largest-remainder quotas sum exactly to the budget, the " +
    "bonus seats go to the largest remainders, and selection honors " +
    "every quota") {
    import graft.queries.Sampling
    val rows = Sampling.budgetApportionment(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length == 5)
    assert(rows.map(_._2).sum == 50L,
      "quotas must sum exactly to the budget — no rounding drift")
    // weights 5:3:2:1:1 over N=50, W=12: floors 20/12/8/4/4, the two
    // bonus seats land on src0 (rem 10) and src1 (rem 6)
    val quota = rows.map(r => r._1 -> r._2).toMap
    assert(quota == Map("src0" -> 21L, "src1" -> 13L, "src2" -> 8L,
      "src3" -> 4L, "src4" -> 4L), s"wrong apportionment: $quota")
    rows.foreach { case (src, q, n, _, _) =>
      assert(n == q, s"$src selected $n != quota $q (supply shortfall?)")
    }
    // lowest-doc_id prefix selection: max selected id grows with quota
    // only within a source, and every selected count matches a direct
    // per-source head count
    rows.foreach { case (src, q, _, sumId, maxId) =>
      val expect = Relational.table(spark, sfDir, "documents")
        .filter(col("source") === src).orderBy("doc_id")
        .limit(q.toInt).agg(sum("doc_id"), max("doc_id")).collect()(0)
      assert(sumId == expect.getLong(0) && maxId == expect.getLong(1),
        s"$src selection is not the lowest-doc_id prefix")
    }
  }

  test("l05: two min-label rounds have converged on the real corpus, " +
    "every match pair lands in one entity, and records are conserved") {
    import graft.queries.Linkage
    val entities = Linkage.entityResolution(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(entities.nonEmpty)
    // conservation: every record (2 per customer) lands in exactly one
    // entity
    val nCustomers = Relational.table(spark, sfDir, "customer").count()
    assert(entities.map(_._2).sum == 2 * nCustomers,
      "entity sizes do not sum to the record count")
    assert(entities.exists(_._2 >= 2),
      "no multi-record entity — matching is vacuous")
    // every 'match' edge must be intra-entity: rebuild the labels the
    // same way a THIRD round would and check stability (the
    // convergence guard for the fixed 2-round unroll)
    // the DEFAULT blocking's decisions — the exact edge set
    // entityResolution consumed (l04's bare-prefix edges could be a
    // superset on an adversarial draw)
    val matches = Linkage.defaultMatchDecisions(spark, sfDir)
      .filter(col("decision") === "match")
      .select(col("cust_id"), col("rec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(matches.nonEmpty)
    // entity ids are cluster minima, so the strongest convergence
    // check is structural: build the TRUE transitive closure in-test
    // (union-find over the tiny match graph) and demand the operator's
    // (entity_id -> size) map equals it exactly — any unconverged
    // 2-round label would split a closure class and break equality
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val offset = Linkage.RecOffset
    matches.foreach { case (u, v) => union(u, v + offset) }
    val sizeByRoot = scala.collection.mutable.Map[Long, Long]()
    // every customer contributes cust_id and rec_id+offset
    Relational.table(spark, sfDir, "customer")
      .select(col("c_custkey")).collect().map(_.getLong(0))
      .foreach { id =>
        sizeByRoot(find(id)) = sizeByRoot.getOrElse(find(id), 0L) + 1
        sizeByRoot(find(id + offset)) =
          sizeByRoot.getOrElse(find(id + offset), 0L) + 1
      }
    val expected = sizeByRoot.toMap
    val got = entities.map(e => e._1 -> e._2).toMap
    assert(got == expected,
      "2-round labels diverge from the true transitive closure — " +
        "the fixed unroll has NOT converged on this corpus")
  }

  test("plan shapes: session-6 operators keep their scale contracts — " +
    "top-k heaps, no cartesian products, day-collapsed sweep window, " +
    "chunk-partitioned lateness window") {
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
    // gr05: per-partition top-k heap, no global sort of candidates,
    // and the wedge join is an equi-join (no cartesian anywhere)
    // (plan variants: the shipped queries materialize via
    // localCheckpoint, which would hide the real plan behind a scan)
    val (gr05Df, gr05Caches) = Graph.linkPredictionPlan(spark, sfDir)
    val gr05 = plan(gr05Df)
    assert(gr05.contains("TakeOrderedAndProject"), gr05)
    assert(!gr05.contains("Cartesian"), gr05)
    gr05Caches.foreach(_.unpersist(false))
    // d13: candidate generation + exact verify are all equi-joins
    val (d13Df, d13Caches) = Dedup.containmentDedupPlan(spark, sfDir)
    val d13 = plan(d13Df)
    assert(!d13.contains("Cartesian") && !d13.contains("BroadcastNestedLoop"),
      d13)
    d13Caches.foreach(_.unpersist(false))
    // q35: exactly ONE unpartitioned window, and it consumes a
    // day-level AGGREGATE (the sweep line rides the calendar domain,
    // not the fact table)
    val q35 = Relational.all.collectFirst {
      case ("q35_open_order_concurrency", fn, _) => fn(spark, sfDir) }.get
    val q35p = plan(q35)
    assert("Window".r.findAllIn(q35p).size == 1, q35p)
    // the window's input is the day-collapsed aggregate, so the plan
    // has aggregates BOTH below the window (day deltas) and above it
    // (per-month peaks)
    assert("HashAggregate".r.findAllIn(q35p).size >= 4, q35p)
    // st18: the per-row window is PARTITIONED by chunk — the only
    // unpartitioned window in the plan runs over chunk maxima
    // (aggregated input), never the raw events
    val st18 = plan(Streaming.latenessAuditFrom(
      Streaming.events(spark, sfDir), 8192L))
    assert("\\[chunk#\\d+L?\\], \\[event_id#".r.findFirstIn(st18)
      .isDefined, st18)
    assert(!st18.contains("Cartesian"), st18)
    // t31: no cartesian, and the first-occurrence join is gram-keyed
    val t31 = plan(TextAnalysis.all.collectFirst {
      case ("t31_ngram_novelty", fn, _) => fn(spark, sfDir) }.get)
    assert(!t31.contains("Cartesian"), t31)
  }
}
