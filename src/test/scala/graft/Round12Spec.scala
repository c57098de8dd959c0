package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams

/** Round-12 pins: the packed binary LSH state codec (round-trip,
  * corruption rejection, and the loud restart-rejection of a
  * checkpoint written by the round-11 Java-serialization codec),
  * the sketch-driven CBO decision (sk08), the IVF upsert path (s25),
  * and the stream-state epoch re-shard handoff (st31). */
class Round12Spec extends SparkSpec {

  // ----------------------------------------- SigEntryCodec pins
  test("SigEntryCodec: round-trips (id, signature) exactly, at the " +
    "documented 13 + 8k byte size") {
    val rng = new scala.util.Random(12001)
    (0 until 200).foreach { _ =>
      val id = rng.nextLong()
      val k = rng.nextInt(64)
      val sig = Array.fill(k)(rng.nextLong())
      val bytes = EventStreams.SigEntryCodec.encode(id, sig)
      assert(bytes.length == 13 + 8 * k)
      val (id2, sig2) = EventStreams.SigEntryCodec.decode(bytes)
      assert(id2 == id)
      assert(sig2.toSeq == sig.toSeq)
    }
  }

  test("SigEntryCodec: measured byte delta vs the round-11 Java " +
    "serialization — packed beats the serialized array alone, and " +
    "the documented 269-vs-283 numbers are live") {
    val sig = Array.tabulate(32)(i => i * 0x9e3779b97f4a7c15L)
    val packed = EventStreams.SigEntryCodec.encode(42L, sig).length
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(sig)
    oos.flush()
    // the r11 tuple layout java-serialized ONLY the array; its Long
    // half rode as a separate row field — so this is the java side's
    // floor, before tuple framing
    val javaSer = bos.size()
    assert(packed == 269, s"packed entry is $packed bytes")
    assert(javaSer == 283, s"java-serialized long[32] is $javaSer bytes")
    assert(packed < javaSer)
  }

  test("SigEntryCodec: wrong version and truncated entries reject " +
    "loudly — no silent state migration") {
    val good = EventStreams.SigEntryCodec.encode(7L, Array(1L, 2L, 3L))
    val badVersion = good.clone(); badVersion(0) = 99.toByte
    val e1 = intercept[IllegalArgumentException] {
      EventStreams.SigEntryCodec.decode(badVersion)
    }
    assert(e1.getMessage.contains("version"))
    val truncated = good.take(good.length - 4)
    intercept[IllegalArgumentException] {
      EventStreams.SigEntryCodec.decode(truncated)
    }
  }

  // ----------------------------------------- sk08 flip machinery
  test("sk08: a cap between a table's exact count and its sketch " +
    "estimate produces a decision FLIP, executed per the estimate " +
    "and audited green") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_r12_sk08").toFile
    try {
      val dir = base.getAbsolutePath
      // synthetic catalog: orders has >k distinct pk values so its
      // KMV readout is a genuine ESTIMATE (deterministic for a fixed
      // dataset — xxhash64 has no seed draw), customer is strictly
      // larger so orders is the small side of customer-orders
      (0 until 25).toDF("n_nationkey")
        .write.mode("overwrite").parquet(s"$dir/nation.parquet")
      (0 until 20000).map(i => (i.toLong, i % 25))
        .toDF("c_custkey", "c_nationkey")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      (0 until 12000).map(i => (i.toLong, (i % 20000).toLong))
        .toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      (0 until 3000).map(i => ((i % 12000).toLong, i))
        .toDF("l_orderkey", "l_linenumber")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // first pass at an out-of-band cap just to read the estimate
      val probe = queries.Sketches.cboSketchStrategyAt(spark, dir, 1L)
        .filter(col("pair") === "customer-orders").collect().head
      val exact = probe.getAs[Long]("n_right")  // orders
      val est = probe.getAs[Long]("est_right")
      assert(exact == 12000L)
      assert(est != exact,
        s"KMV estimate landed exactly on truth ($est) — " +
          "flip unconstructible with this dataset; adjust sizes")
      // a cap strictly between est and exact: the two decision paths
      // MUST disagree on broadcast-vs-shuffle for the orders side
      val cap = (math.min(est, exact) + math.max(est, exact) - 1) / 2
      val row = queries.Sketches.cboSketchStrategyAt(spark, dir, cap)
        .filter(col("pair") === "customer-orders").collect().head
      assert(row.getAs[Boolean]("flip"),
        s"expected a flip at cap=$cap (est=$est exact=$exact)")
      assert(row.getAs[String]("decision_est") !=
        row.getAs[String]("decision_exact"))
      // the ESTIMATE drove the physical plan, and the audit saw it
      assert(row.getAs[Boolean]("audit_ok"))
      val expectedOp =
        if (row.getAs[String]("decision_est") == "shuffle")
          "SortMergeJoin" else "BroadcastHashJoin"
      assert(row.getAs[String]("executed_join") == expectedOp)
      assert(row.getAs[Boolean]("est_ok")) // flip ≠ broken estimator
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  test("sk08 on gate data: no flips at the production cap, est " +
    "within contract, every audit green") {
    val rows = queries.Sketches.cboSketchStrategy(spark, sfDir).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(!r.getAs[Boolean]("flip"), r.toString)
      assert(r.getAs[Boolean]("audit_ok"), r.toString)
      assert(r.getAs[Boolean]("est_ok"), r.toString)
      assert(r.getAs[String]("decision_est") ==
        r.getAs[String]("decision_exact"))
    }
  }

  // ----------------------------------------- gk_rank / sk09 pins
  test("gk_rank: CDF readout on a known uniform distribution — " +
    "band, boundaries, monotonicity, SQL surface") {
    import graft.expr.GkSketchAgg._
    val df = spark.range(10000)
      .select(col("id").cast("double").as("x"))
    val stateRow = df.agg(gkSketch(col("x"), 1000).as("st"))
    stateRow.createOrReplaceTempView("gk_rank_probe")
    def rank(v: Double): Double =
      stateRow.select(gkRank(col("st"), lit(v))).collect().head.getDouble(0)
    // exact boundaries
    assert(rank(-1.0) == 0.0)
    assert(rank(10000.0) == 10000.0)
    assert(rank(99999.0) == 10000.0)
    // interior: true rank of v is v+1 values ≤ v; band = 2εn = 20
    Seq(100.0, 2500.0, 5000.0, 9000.0).foreach { v =>
      assert(math.abs(rank(v) - (v + 1)) <= 20.0,
        s"rank($v) = ${rank(v)}")
    }
    // monotone
    val rs = (0 to 100).map(i => rank(i * 100.0))
    assert(rs.zip(rs.tail).forall { case (a, b) => a <= b })
    // SQL registration (the test session has no extensions conf —
    // use the explicit register() surface, same as KmvSketchSpec)
    graft.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT gk_rank(st, 5000.0) FROM gk_rank_probe")
      .collect().head.getDouble(0)
    assert(viaSql == rank(5000.0))
  }

  test("sk09 on gate data: every selectivity estimate within the " +
    "4-epsilon band, exact counts sane") {
    val rows = queries.Sketches.selectivityEstimation(spark, sfDir)
      .collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("ok"), r.toString)
      assert(r.getAs[Long]("exact_rows") >= 0)
    }
    // the three orders ranges partition (0, 600000] — their exact
    // counts must sum to the rows with 0 < price ≤ 600000 (all, for
    // TPC-H totalprice)
    val ordersSum = rows.filter(_.getAs[String]("tbl") == "orders")
      .map(_.getAs[Long]("exact_rows")).sum
    val n = rows.find(_.getAs[String]("tbl") == "orders").get
      .getAs[Long]("n")
    assert(ordersSum == n,
      s"orders ranges should partition the domain: $ordersSum != $n")
  }

  // ----------------------------------------- t41 LM perplexity
  test("t41: bigram-LM entropy hand-check on a constructed corpus — " +
    "repetitive text scores exactly its closed-form entropy, " +
    "diverse text scores higher") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_r12_t41").toFile
    try {
      // vocab V = 8 (a..h); the repetitive doc's only bigram (a,a)
      // occurs 8 times, and a appears 10 times as w1 overall, so
      // P(a|a) = (8+1)/(10+8) = 1/2 -> H(rep) = 1 bit exactly
      val rep = "a a a a a a a a a"
      val div = "a b c d e f g h a c e b"
      Seq((1L, rep, "rep", "s", rep.length.toLong),
        (2L, div, "div", "s", div.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .parquet(s"${base.getAbsolutePath}/documents.parquet")
      val rows = queries.TextAnalysis
        .lmPerplexity(spark, base.getAbsolutePath)
        .collect().map(r => r.getAs[String]("lang") -> r).toMap
      assert(rows("rep").getAs[Long]("n_bigrams") == 8L)
      assert(rows("div").getAs[Long]("n_bigrams") == 11L)
      assert(rows("rep").getAs[Long]("vocab") == 8L)
      assert(math.abs(rows("rep").getAs[Double]("mean_h_bits") - 1.0)
        < 1e-9, s"H(rep) = ${rows("rep").getAs[Double]("mean_h_bits")}")
      assert(rows("div").getAs[Double]("mean_h_bits") >
        rows("rep").getAs[Double]("mean_h_bits"),
        "diverse text must score higher cross-entropy")
      val inv = queries.TextAnalysis
        .lmPerplexityInv(spark, base.getAbsolutePath).collect()
      assert(inv.forall(_.getAs[Boolean]("h_in_band")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  // ----------------------------------------- s25 upsert mechanics
  test("s25 upsert: only affected posting lists are rewritten (file " +
    "level), replaced vec_ids carry the new payload exactly once") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_r12_s25").toFile
    try {
      // injected, well-separated centroids so list membership is
      // obvious: ids 1-3 → cid 0, ids 4-6 → cid 1
      val cents = Array(Array(1f, 0f), Array(0f, 1f))
      val base = Seq(
        (1L, Seq(1f, 0.01f)), (2L, Seq(1f, 0.02f)), (3L, Seq(1f, 0.03f)),
        (4L, Seq(0.01f, 1f)), (5L, Seq(0.02f, 1f)), (6L, Seq(0.03f, 1f)))
        .toDF("vec_id", "embedding")
      queries.Similarity.writeIvfIndex(spark, base, cents, root)
      val postingsDir = new java.io.File(root, "postings")
      def files(cid: Int): Set[String] = {
        val d = new java.io.File(postingsDir, s"cid=$cid")
        d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet
      }
      val cid0Before = files(0)
      // delta lands ONLY in list 1: one insert (7) + one replace (4)
      val delta = Seq((7L, Seq(0.04f, 1f)), (4L, Seq(0.05f, 1f)))
        .toDF("vec_id", "embedding")
      queries.Similarity.upsertIvfIndex(spark,
        root.getAbsolutePath, delta)
      // dynamic partition overwrite left the unaffected list alone
      assert(files(0) == cid0Before,
        "cid=0 files changed though no batch row landed there")
      val post = spark.read.parquet(postingsDir.getAbsolutePath)
      assert(post.count() == 7)
      val four = post.filter(col("vec_id") === 4L).collect()
      assert(four.length == 1, "replaced id must appear exactly once")
      assert(four.head.getSeq[Float](
        four.head.fieldIndex("embedding")) == Seq(0.05f, 1f),
        "replace must carry the NEW payload")
      assert(post.filter(col("vec_id") === 7L).count() == 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("s25 on gate data: upserted-index serve == full-rebuild serve, " +
    "no duplicates, k bounded") {
    val row = queries.Similarity.annUpsertIvfInv(spark, sfDir)
      .collect().head
    assert(row.getAs[Boolean]("parity_ok"))
    assert(row.getAs[Boolean]("no_dup"))
    assert(row.getAs[Boolean]("k_bounded"))
  }

  // ----------------------------------------- st32 streamed ingest
  test("upsertIvfIndex is replay-idempotent: re-upserting the same " +
    "batch leaves the postings row set unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_r12_replay").toFile
    try {
      val cents = Array(Array(1f, 0f), Array(0f, 1f))
      val base = Seq((1L, Seq(1f, 0.01f)), (2L, Seq(0.01f, 1f)))
        .toDF("vec_id", "embedding")
      queries.Similarity.writeIvfIndex(spark, base, cents, root)
      val batch = Seq((3L, Seq(0.02f, 1f)), (2L, Seq(0.03f, 1f)))
        .toDF("vec_id", "embedding")
      val postingsDir = new java.io.File(root, "postings")
      def rowSet(): Set[(Long, Seq[Float], Int)] =
        spark.read.parquet(postingsDir.getAbsolutePath).collect()
          .map(r => (r.getLong(r.fieldIndex("vec_id")),
            r.getSeq[Float](r.fieldIndex("embedding")),
            r.getInt(r.fieldIndex("cid")))).toSet
      queries.Similarity.upsertIvfIndex(spark, root.getAbsolutePath,
        batch)
      val after1 = rowSet()
      // a foreachBatch replay re-delivers the SAME batch
      queries.Similarity.upsertIvfIndex(spark, root.getAbsolutePath,
        batch)
      assert(rowSet() == after1,
        "replayed upsert must be a no-op on the row set")
      assert(after1.map(_._1) == Set(1L, 2L, 3L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("st32 on gate data: streamed 4-batch ingest serves identically " +
    "to a one-shot same-centroid build") {
    val row = queries.Streaming.annIngestInv(spark, sfDir)
      .collect().head
    assert(row.getAs[Boolean]("parity_ok"))
    assert(row.getAs[Boolean]("no_dup"))
    assert(row.getAs[Boolean]("k_bounded"))
  }

  test("s25 upsert: a replace whose new embedding moves to a " +
    "DIFFERENT list evicts the old row via the id map, and an " +
    "empty batch is a no-op") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_r12_xlist").toFile
    try {
      val cents = Array(Array(1f, 0f), Array(0f, 1f))
      val base = Seq(
        (1L, Seq(1f, 0.01f)), (4L, Seq(1f, 0.02f)), // both in cid=0
        (5L, Seq(0.01f, 1f)))                       // cid=1
        .toDF("vec_id", "embedding")
      queries.Similarity.writeIvfIndex(spark, base, cents, root)
      val postingsDir = new java.io.File(root, "postings")
      def post() = spark.read.parquet(postingsDir.getAbsolutePath)
      // id 4 moves from list 0 to list 1
      val move = Seq((4L, Seq(0.05f, 1f))).toDF("vec_id", "embedding")
      queries.Similarity.upsertIvfIndex(spark, root.getAbsolutePath,
        move)
      val four = post().filter(col("vec_id") === 4L).collect()
      assert(four.length == 1,
        s"moved id must exist exactly once, got ${four.length}")
      assert(four.head.getInt(four.head.fieldIndex("cid")) == 1,
        "moved id must live in its NEW list")
      assert(four.head.getSeq[Float](
        four.head.fieldIndex("embedding")) == Seq(0.05f, 1f))
      assert(post().count() == 3)
      // the id map followed the move
      val m = spark.read
        .parquet(new java.io.File(root, "idmap").getAbsolutePath)
        .filter(col("vec_id") === 4L).collect()
      assert(m.length == 1 && m.head.getInt(m.head.fieldIndex("cid")) == 1)
      // empty batch: no crash, no change
      val before = post().collect().map(_.toString).sorted.toSeq
      queries.Similarity.upsertIvfIndex(spark, root.getAbsolutePath,
        spark.emptyDataFrame.selectExpr("CAST(1 AS LONG) AS vec_id",
          "array(CAST(0.0 AS FLOAT)) AS embedding").limit(0))
      assert(post().collect().map(_.toString).sorted.toSeq == before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("s25 id map: the replaced-id lookup prunes bucket partitions " +
    "STATICALLY — untouched buckets' files are never opened") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = java.nio.file.Files
      .createTempDirectory("graft_r12_idmap").toFile
    try {
      val cents = Array(Array(1f, 0f), Array(0f, 1f))
      // enough ids to populate many id-map hash buckets
      val base = (1L to 200L).map(i =>
        (i, if (i % 2 == 0) Seq(1f, 0.01f) else Seq(0.01f, 1f)))
        .toDF("vec_id", "embedding")
      queries.Similarity.writeIvfIndex(spark, base, cents, root)
      val idmapDir = new java.io.File(root, "idmap")
      val totalBuckets = idmapDir.listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("bucket="))
      assert(totalBuckets > 4, s"want many buckets, got $totalBuckets")
      // the upsert path's lookup shape: idmap filtered to ONE id's bucket
      val oneBucket = spark.read.parquet(idmapDir.getAbsolutePath)
        .filter(col("bucket") === 3)
      oneBucket.collect()
      val plan = oneBucket.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = plan.collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty)
      assert(scans.head.partitionFilters.nonEmpty,
        "bucket filter must be a partitionFilter (static pruning)")
      assert(scans.head.selectedPartitions.partitionCount == 1,
        s"one bucket of $totalBuckets must select exactly 1 dir, " +
          s"got ${scans.head.selectedPartitions.partitionCount}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  // ----------------------------------------- st31 epoch handoff
  test("st31: snapshot + fresh-state restart + batch seam join " +
    "reproduces the uninterrupted stream's pair set, with real " +
    "cross-shard contribution") {
    val row = queries.Streaming.lshHandoffInv(spark, sfDir)
      .collect().head
    assert(row.getAs[Boolean]("parity_ok"),
      "handoff pair set diverged from the uninterrupted run")
    assert(row.getAs[Boolean]("cross_used"),
      "no pair crossed the shard seam — the pin would be vacuous")
    assert(row.getAs[Boolean]("snapshot_ok"))
    // the planted epoch-crossing pairs (id, id+1e6) with id%7 == 3 or
    // 6 can ONLY be seen by the handoff join — check one explicitly
    val base = queries.Streaming.buildLshHandoff(spark, sfDir)
    val handed = queries.Streaming.lshEpochHandoff(spark, sfDir)
    val seamPairs = handed
      .filter(col("b") - col("a") === 1000000L &&
        pmod(col("a"), lit(7)).isin(3, 6))
    assert(seamPairs.count() > 0,
      "expected at least one planted pair spanning the 3|4 or 6|0 seam")
    // and the snapshot holds exactly the retiring shard's docs
    val snapIds = spark.read.parquet(s"$base/snapshot")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(snapIds.forall(id => id % 7 < 4),
      "snapshot leaked a new-shard doc id")
  }

  // ---------------- legacy-checkpoint restart rejection (the
  // state-schema-evolution contract: a checkpoint whose "docs"
  // ListState was written by the round-11 Java-serialization tuple
  // encoder is structurally incompatible with the packed binary
  // value; restarting over it must FAIL loudly, never decode garbage)
  test("st30 state codec change rejects a legacy checkpoint on " +
    "restart instead of silently misreading it") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_r12_legacy").toFile
    try {
      val src = new java.io.File(base, "src"); src.mkdirs()
      def writeEpoch(name: String, ids: Seq[Long]): Unit = {
        val stage = new java.io.File(base, s"stage_$name")
        ids.map(i => (i, Array.fill(4)(i))).toDF("doc_id", "sig")
          .coalesce(1).write.mode("overwrite")
          .parquet(stage.getAbsolutePath)
        val part = stage.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          new java.io.File(src, s"$name.parquet").toPath)
        org.apache.commons.io.FileUtils.deleteDirectory(stage)
      }
      writeEpoch("e0", Seq(1L, 2L))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sig",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType))))
      GraftSession.withConf(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")) {
        def run(legacy: Boolean): Unit = {
          val banded = spark.readStream.schema(schema)
            .parquet(src.getAbsolutePath)
            .select(col("doc_id"), lit(0).as("band"), lit(0).as("bh"),
              col("sig"), lit("I").as("op"))
            .as[EventStreams.BandedDoc]
          val matched =
            if (legacy)
              banded.groupByKey(d => (d.band, d.bh))
                .transformWithState(new LegacyLshBucketMatcher,
                  org.apache.spark.sql.streaming.TimeMode.None(),
                  OutputMode.Append())
            else EventStreams.lshDedupStream(banded)
          val q = matched.toDF().writeStream.format("parquet")
            .option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ckpt")
            .trigger(
              org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        run(legacy = true) // seeds the checkpoint with tuple-encoded state
        writeEpoch("e1", Seq(3L, 4L))
        val e = intercept[Exception] { run(legacy = false) }
        val msgs = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).map(t => s"${t.getClass.getName}: " +
            s"${Option(t.getMessage).getOrElse("")}").mkString("\n")
        assert(msgs.toLowerCase.contains("schema") ||
          msgs.toLowerCase.contains("state"),
          s"expected a state-schema rejection, got:\n$msgs")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }
}

/** The round-11 state layout, kept ONLY to pin that its checkpoints
  * are rejected: "docs" ListState of (Long, Array[Long]) tuples under
  * `Encoders.javaSerialization` — the codec [[EventStreams
  * .SigEntryCodec]] replaced. */
private class LegacyLshBucketMatcher
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      (Int, Int), EventStreams.BandedDoc, EventStreams.CandPair] {
  @transient private var docs:
    org.apache.spark.sql.streaming.ListState[(Long, Array[Long])] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    docs = getHandle.getListState[(Long, Array[Long])]("docs",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.javaSerialization[Array[Long]]),
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: (Int, Int),
      rows: Iterator[EventStreams.BandedDoc],
      timers: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[EventStreams.CandPair] = {
    rows.foreach(d => docs.appendValue((d.doc_id, d.sig)))
    Iterator.empty
  }
}
