package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{AsofJoin, AsofJoinNode}
import graft.queries.AsOf

/** Round-5 session-5: the native as-of join physical operator —
  * semantics pins on closed-form frames, bit-parity vs the proven
  * union+window formulation, plan shape, and rule-driven pushdown. */
class Round5dSpec extends SparkSpec {

  import spark.implicits._

  private def lhs: DataFrame = Seq(
    // (key, ts, tag)
    (1L, 10L, "l-a"), (1L, 20L, "l-b"), (1L, 5L, "l-early"),
    (2L, 50L, "l-c"), // key with no right rows at all
    (3L, 30L, "l-d"), (3L, 31L, "l-e"),
    (4L, 7L, "l-before-any") // right rows exist but all later
  ).toDF("k", "t", "ltag")

  private def rhs: DataFrame = Seq(
    // (key, ts, tie, payload)
    (1L, 10L, 1L, "r1@10#1"), (1L, 10L, 2L, "r1@10#2"), // tie on ts=10
    (1L, 15L, 1L, "r1@15"),
    (3L, 30L, 7L, "r3@30"), (3L, 29L, 9L, "r3@29"),
    (4L, 100L, 1L, "r4@100")
  ).toDF("k", "t", "tie", "pay")

  test("asof native: inclusive boundary, highest-tie wins, unmatched " +
    "left rows drop, state resets across keys") {
    val got = AsofJoin.asofJoin(lhs, rhs, "k", "t",
      payload = Seq("pay"), rightTie = "tie")
      .select("k", "t", "ltag", "asof_pay")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(got == Set(
      // ts=10 matches the ts=10 right rows inclusively; tie 2 wins
      (1L, 10L, "l-a", "r1@10#2"),
      // ts=20: most recent right is 15
      (1L, 20L, "l-b", "r1@15"),
      // l-early (ts=5) has no right <= 5 → dropped; key 2 → dropped;
      // key 4's only right row is later → dropped
      (3L, 30L, "l-d", "r3@30"),
      (3L, 31L, "l-e", "r3@30")))
  }

  test("asof native forward: earliest at-or-after match, lowest tie " +
    "wins, tolerance bounds the distance") {
    val fwd = AsofJoin.asofJoin(lhs, rhs, "k", "t",
      payload = Seq("pay"), rightTie = "tie",
      forward = true, toleranceMicros = None)
      .select("k", "t", "ltag", "asof_pay")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(fwd == Set(
      // ts=5 and ts=10 both see the ts=10 pair; LOWEST tie (#1) wins
      (1L, 5L, "l-early", "r1@10#1"),
      (1L, 10L, "l-a", "r1@10#1"),
      // ts=20 has no right at-or-after -> dropped; key 2 no rights;
      // key 3: both lefts (30, 31) — 30 matches r3@30, 31 has none
      (3L, 30L, "l-d", "r3@30"),
      // key 4: ts=7 matches the later r4@100
      (4L, 7L, "l-before-any", "r4@100")))
    // tolerance 50: key 4's 93-tick gap is now out of range
    val tol = AsofJoin.asofJoin(lhs, rhs, "k", "t",
      payload = Seq("pay"), rightTie = "tie",
      forward = true, toleranceMicros = Some(50L))
      .select("ltag").collect().map(_.getString(0)).toSet
    assert(tol == Set("l-early", "l-a", "l-d"))
    // backward tolerance: l-b (ts=20) is 5 ticks past r1@15 — in range
    // at 5, out of range at 4
    def bwd(t: Long) = AsofJoin.asofJoin(lhs, rhs, "k", "t",
      payload = Seq("pay"), rightTie = "tie",
      forward = false, toleranceMicros = Some(t))
      .select("ltag").collect().map(_.getString(0)).toSet
    assert(bwd(5L).contains("l-b") && !bwd(4L).contains("l-b"))
  }

  test("asof native: empty right side yields empty inner result") {
    val got = AsofJoin.asofJoin(lhs, rhs.filter(col("k") === -1),
      "k", "t", payload = Seq("pay"), rightTie = "tie")
    assert(got.count() == 0)
  }

  test("q31 native operator == q17 union+window formulation, " +
    "row for row") {
    val native = sortedRows(AsOf.q31AsofNative(spark, sfDir))
    val window = sortedRows(AsOf.q17AsofJoin(spark, sfDir))
    assert(native.nonEmpty && native == window)
  }

  test("q31 plan: AsofJoin physical node, no window buffer, " +
    "exactly one exchange per side") {
    val df = AsOf.q31AsofNative(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin"), p)
    assert(!p.contains("Window"), s"window buffer crept back:\n$p")
    // two join-side exchanges + the orderBy's range exchange
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"unexpected extra shuffles ($exchanges):\n$p")
  }

  test("asof pushdown rule: deterministic left-only predicates land " +
    "below the node and reach the parquet scan") {
    val e = queries.Streaming.events(spark, sfDir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val joinedThenFiltered = AsofJoin.asofJoin(purchases, signups,
      "user_id", "ts", Seq("value"), "event_id")
      .filter(col("event_id") % 2 === 0) // left-only predicate, applied ABOVE
    val opt = joinedThenFiltered.queryExecution.optimizedPlan
    val nodes = opt.collect { case n: AsofJoinNode => n }
    assert(nodes.length == 1, opt.toString)
    val leftHasFilter = nodes.head.left.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(leftHasFilter.nonEmpty,
      s"left-only filter not pushed below AsofJoinNode:\n$opt")
    // and the same result as filtering before the join
    val pre = AsofJoin.asofJoin(
      purchases.filter(col("event_id") % 2 === 0), signups,
      "user_id", "ts", Seq("value"), "event_id")
    assert(joinedThenFiltered.collect().toSeq == pre.collect().toSeq)
  }

  test("c08: incremental merge == one-shot recompute, and both epochs " +
    "contribute (the split is real)") {
    val inc = queries.Curation.incrementalMv(spark, sfDir)
    val full = queries.Relational.table(spark, sfDir, "orders")
      .groupBy(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum((col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long")).as("cents"))
    assert(sortedRows(inc) == sortedRows(full))
    val months = inc.select("month").distinct().collect()
      .map(_.getString(0))
    assert(months.exists(_ < "1997") && months.exists(_ >= "1997"))
  }

  test("q30: LOCF fills exactly the gap days — filled changes only on " +
    "observed days, leading days stay null") {
    val rows = queries.Relational.q30GapFill(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val byGroup = rows.groupBy(_._1)
    assert(byGroup.size >= 3)
    byGroup.foreach { case (_, g) =>
      var carry: Option[Long] = None
      g.sortBy(_._2).foreach { case (_, day, reading, filled) =>
        if (reading.isDefined) carry = reading
        assert(filled == carry, s"LOCF broke at $day")
      }
    }
    // the gap-fill must actually fill: more rows than observations
    assert(rows.count(_._3.isEmpty) > rows.count(_._3.isDefined))
  }

  test("t26: classifier gate is selective and consistent") {
    val rows = queries.TextAnalysis.classifierGate(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.forall { case (s, k) => (s >= 0) == (k == 1L) })
    assert(rows.exists(_._2 == 1L) && rows.exists(_._2 == 0L),
      "gate is vacuous: all kept or all dropped")
  }

  test("t27: Luhn gate splits the planted candidates — some validate " +
    "and redact, some are preserved false positives") {
    val rows = queries.TextAnalysis.luhnRedact(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (_, cards, valid) => assert(valid <= cards) }
    assert(rows.exists { case (_, c, v) => c > 0 && v > 0 })
    assert(rows.exists { case (_, c, v) => c > 0 && v == 0 })
    // plants land only on doc_id % 3 == 0 (corpus has no natural
    // 16-digit runs)
    rows.foreach { case (id, c, _) =>
      if (id % 3 != 0) assert(c == 0, s"unexpected candidate in doc $id")
    }
  }

  test("gr03: triangle algebra — per-node counts sum to 3x the " +
    "triangle total, closing is in-memory intersection (no wedge rows)") {
    // plan variant: the shipped query materializes via localCheckpoint
    // (cache release), which would hide the real plan behind a scan
    val (df, caches) =
      queries.Graph.trianglesPlan(spark, sfDir, queries.Graph.TriOrderCap)
    val counts = df.collect().map(_.getLong(1))
    assert(counts.nonEmpty && counts.forall(_ >= 1))
    assert(counts.sum % 3 == 0,
      "each triangle must contribute to exactly 3 nodes")
    val p = df.queryExecution.executedPlan.toString
    // r8 rework: wedges close via array_intersect over collected
    // adjacency — no materialized wedge join, no semi-join, and the
    // O(sum outdeg^2) candidates never become shuffle rows
    assert(p.contains("array_intersect"), p)
    assert(!p.contains("LeftSemi"), p)
    assert(!p.contains("Cartesian"), p)
    caches.foreach(_.unpersist(false))
  }

  test("s14: importance resampling is a map-only gate — replayable " +
    "and shuffle-free up to the output sort") {
    val a = queries.Sampling.importanceResample(spark, sfDir)
    val b = queries.Sampling.importanceResample(spark, sfDir)
    assert(sortedRows(a) == sortedRows(b))
    // AdaptiveSparkPlan.toString prints final AND initial plans; count
    // exchanges in the final section only
    val p = a.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange".r.findAllIn(p).size
    // the gate ends unsorted, so no exchange is left at all
    assert(exchanges == 0, s"resample gate must not shuffle:\n$p")
  }

  test("q32: RANGE frame is value-based — same-day peers share one " +
    "frame, and a >30-day gap resets the window to the row itself") {
    val rows = queries.Relational.q32RollingRange(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val byCust = rows.groupBy(_._1)
    byCust.values.foreach { g =>
      val sorted = g.sortBy(_._2)
      sorted.foreach { case (_, day, _, roll, nwin) =>
        val inFrame = sorted.filter(r => r._2 >= day - 30 && r._2 <= day)
        assert(inFrame.map(_._3).sum == roll && inFrame.size == nwin,
          s"frame mismatch at day $day")
      }
    }
    // the interval frame must be non-trivial somewhere: windows with
    // >1 row exist, and isolated orders fall back to frame-of-one
    assert(rows.exists(_._5 > 1) && rows.exists(_._5 == 1))
  }

  test("st17: foreachBatch upsert — replayed batches are no-ops " +
    "(versioned commits make the sink exactly-once)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_st17_spec").toString
    val src = s"$base/src"
    val ev = queries.Streaming.events(spark, sfDir)
    ev.repartition(6).write.mode("overwrite").parquet(src)
    def run(ckpt: String): Seq[org.apache.spark.sql.Row] = {
      graft.streaming.Replay.await(graft.streaming.EventStreams
        .upsertSink(spark, src, s"$base/state", ckpt, filesPerTrigger = 2))
      graft.streaming.EventStreams
        .upsertStateRead(spark, s"$base/state").get
        .orderBy("user_id", "event_type").collect().toSeq
    }
    val first = run(s"$base/ckpt1")
    // fresh checkpoint = full REPLAY of every batch; committed
    // versions make each one a no-op, so the state is unchanged
    val replayed = run(s"$base/ckpt2")
    assert(first == replayed, "replay mutated the committed state")
    // and the incremental result equals the one-shot batch compaction
    val oneShot = graft.streaming.EventStreams.compactLatest(ev)
      .orderBy("user_id", "event_type").collect().toSeq
    val current = graft.streaming.EventStreams
      .upsertStateRead(spark, s"$base/state").get
      .orderBy("user_id", "event_type").collect().toSeq
    assert(current == oneShot)
    // retention GC: drop all but the newest version — the readable
    // table is unchanged
    val removed = graft.streaming.EventStreams
      .upsertVacuum(s"$base/state", keep = 1)
    assert(removed >= 1, "vacuum found nothing to remove")
    val afterVacuum = graft.streaming.EventStreams
      .upsertStateRead(spark, s"$base/state").get
      .orderBy("user_id", "event_type").collect().toSeq
    assert(afterVacuum == oneShot, "vacuum changed the current table")
  }

  test("c09: merged HLL sketches track exact distincts where summed " +
    "per-epoch counts cannot (customers overlap the epochs)") {
    val rows = queries.Curation.sketchMv(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (p, est, exact) =>
      assert(math.abs(est - exact) * 100 <= exact * 5,
        s"$p: est $est vs exact $exact")
    }
    // the naive alternative — store per-epoch COUNTS and add them —
    // must overcount (epoch overlap), or storing sketches is pointless
    val orders = queries.Relational.table(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_custkey"),
        col("o_orderdate"))
    val split = lit("1997-01-01").cast("timestamp")
    val summed = orders
      .withColumn("epoch", (col("o_orderdate") < split).cast("int"))
      .groupBy("o_orderpriority", "epoch")
      .agg(countDistinct(col("o_custkey")).as("d"))
      .groupBy("o_orderpriority").agg(sum(col("d")).as("naive"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactM = rows.map(r => r._1 -> r._3).toMap
    assert(exactM.keys.exists(p => summed(p) > exactM(p)),
      "epochs don't overlap — the sketch-merge demo is vacuous")
  }

  test("j06: quarantine counts exactly the planted corruption — ok " +
    "and quarantined rows partition the table") {
    val rows = queries.Sources.jsonQuarantine(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val total = rows.map(_._3).sum
    val nEvents = queries.Streaming.events(spark, sfDir).count()
    assert(total == nEvents, "quarantine dropped or duplicated rows")
    val q = rows.filter(_._2 == "quarantined").map(_._3).sum
    val expected = queries.Streaming.events(spark, sfDir)
      .filter(col("event_id") % 13 === 0).count()
    assert(q == expected, s"quarantined $q != planted $expected")
    assert(rows.exists(_._2 == "ok"))
  }

  test("t29: backoff fires on singleton bigrams, the bigram path on " +
    "repeated ones, and repeated-bigram docs score cheaper") {
    val rows = queries.TextAnalysis.bigramSurprisal(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, bits) => assert(n >= 1 && bits >= 0) }
    // both scoring paths must be live: the backoff path fires only on
    // singleton bigrams, the bigram path only on repeated ones — so
    // the corpus must contain BOTH (asserted directly on the bigram
    // count table, not via a doc-level spread heuristic, which at
    // sf0.001 compresses below any fixed threshold)
    val bgCounts = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("split(text, ' ') AS toks")
      .filter("size(toks) >= 2")
      .selectExpr("explode(transform(sequence(1, size(toks) - 1), " +
        "i -> struct(element_at(toks, i) AS w1, " +
        "element_at(toks, i + 1) AS w2))) AS bg")
      .groupBy("bg").count().collect().map(_.getLong(1))
    assert(bgCounts.exists(_ == 1L),
      "no singleton bigrams — the backoff path is dead on this corpus")
    assert(bgCounts.exists(_ >= 2L),
      "no repeated bigrams — the bigram-LM path is dead on this corpus")
    // and the per-doc cost must still show SOME variance (not all docs
    // hitting one path with identical mixes)
    val bitsPerBg = rows.map(r => r._3.toDouble / r._2)
    assert(bitsPerBg.max - bitsPerBg.min > 0.0,
      "per-bigram cost is flat across docs — one path is dead")
  }

  test("e02: sign projection is linear, non-degenerate, and map-only") {
    val df = queries.Similarity.randomProjection(spark, sfDir)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byVec = rows.groupBy(_._1)
      .map { case (v, g) => v -> g.sortBy(_._2).map(_._3).toSeq }
    // linearity: proj(a) − proj(b) must equal the projection of the
    // component-wise difference — verified through the plane literals
    val planes = queries.Similarity.rpPlanes
    assert(planes.length == 8 && planes.forall(_.length == 64))
    assert(planes.flatten.count(_ == 1) > 100 &&
      planes.flatten.count(_ == -1) > 100, "sign planes degenerate")
    // every output dim varies across the corpus (no dead dimension)
    (0 until 8).foreach { j =>
      val vals = byVec.values.map(_(j)).toSet
      assert(vals.size > 1, s"projection dim $j is constant")
    }
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"projection must be map-only before the output sort:\n$p")
  }

  test("gr04: dense-core peeling strictly shrinks the graph and " +
    "raises its density") {
    val core = queries.Graph.denseCore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(core.nonEmpty && core.forall(_._2 >= 1))
    val fullNodes = queries.Graph.triangles(spark, sfDir).count()
    assert(core.length < fullNodes, "peeling removed nothing")
    // density of the surviving core (2E/V = mean degree) must beat
    // the starting graph's — the point of the greedy extraction
    val coreMeanDeg = core.map(_._2).sum.toDouble / core.length
    assert(coreMeanDeg > 4.0, s"core suspiciously sparse: $coreMeanDeg")
  }

  test("t28: planted canary docs are flagged contaminated; eval docs " +
    "never appear in the output") {
    val rows = queries.TextAnalysis.evalGramOverlap(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nGrams, nHits, flag) =>
      assert(id % 29 != 0, s"eval doc $id leaked into the corpus side")
      assert(nHits <= nGrams)
      assert((nHits > 0) == (flag == 1L))
      if (id % 31 == 1) assert(flag == 1L,
        s"planted canary doc $id not flagged")
    }
    // the gate must also be selective: clean docs exist
    assert(rows.exists(_._4 == 0L))
  }
}
