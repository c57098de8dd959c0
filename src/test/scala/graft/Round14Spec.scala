package graft

import org.apache.spark.sql.functions._

/** Round-14: the r13-advice hardening (s31's postings↔idmap crash
  * window, q46's atomic meta swap, BM25's no-null-text precondition)
  * and the round's new operators.
  */
class Round14Spec extends SparkSpec {

  // ---- s31 crash window #2: postings published, idmap NOT.
  // Round13bSpec pins the centroid window; this pins the one before
  // it — a stale idmap row would send a later upsert's eviction to
  // the wrong list and leave the id duplicated.
  test("s31 roll-forward: a rebalance crashed between the postings " +
    "publish and the idmap publish is repaired — idmap re-derived " +
    "from the orphan postings, and a subsequent upsert of a moved " +
    "id stays duplicate-free") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_r14_rollfwd_idmap").toFile
    try {
      val cents = Array(Array(1f, 0f), Array(0f, 1f))
      val base = Seq(
        (1L, Seq(1f, 0.01f)), (2L, Seq(1f, 0.02f)),
        (3L, Seq(1f, 0.40f)), (4L, Seq(1f, 0.41f)),
        (5L, Seq(1f, 0.42f)), (6L, Seq(1f, 0.03f)),
        (7L, Seq(0.01f, 1f)), (8L, Seq(0.02f, 1f)))
        .toDF("vec_id", "embedding")
      queries.Similarity.writeIvfIndex(spark, base, cents, root)
      // snapshot idmap + centroids BEFORE the split so both can be
      // reverted — simulating a crash right after the postings publish
      val idmapDir = new java.io.File(root, "idmap")
      val centsDir = new java.io.File(root, "centroids")
      val idmapSnap = new java.io.File(root.getParentFile,
        root.getName + "_idmap_snap")
      org.apache.commons.io.FileUtils.copyDirectory(idmapDir, idmapSnap)
      queries.Similarity.rebalanceIvfIndex(spark,
        root.getAbsolutePath, splits = 1)
      org.apache.commons.io.FileUtils.deleteDirectory(idmapDir)
      org.apache.commons.io.FileUtils.copyDirectory(idmapSnap, idmapDir)
      org.apache.commons.io.FileUtils.deleteDirectory(idmapSnap)
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(centsDir.getAbsolutePath)
      // sanity: the simulated state really is inconsistent
      val postingsDir = new java.io.File(root, "postings")
      def disagreements(): Long = {
        val post = spark.read.parquet(postingsDir.getAbsolutePath)
          .select(col("vec_id"), col("cid"))
        val im = spark.read.parquet(idmapDir.getAbsolutePath)
          .select(col("vec_id"), col("cid").as("mc"))
        post.join(im, Seq("vec_id"))
          .filter(col("cid") =!= col("mc")).count()
      }
      assert(disagreements() > 0,
        "the crash simulation must leave stale idmap rows")
      // the next run rolls the interrupted commit forward in full
      queries.Similarity.rebalanceIvfIndex(spark,
        root.getAbsolutePath, splits = 1)
      assert(disagreements() == 0,
        "roll-forward must re-derive idmap rows for orphan lists")
      assert(spark.read.parquet(centsDir.getAbsolutePath).count() == 3)
      // the scenario the stale map would corrupt: upsert a REPLACE of
      // a vec_id that the split moved to the fresh list, with an
      // embedding that assigns to a different list — must evict from
      // the list the id actually lives in, leaving exactly one copy
      val post0 = spark.read.parquet(postingsDir.getAbsolutePath)
      val movedId = post0.filter(col("cid") === 2)
        .select("vec_id").limit(1).collect().head.getLong(0)
      val replace = Seq((movedId, Seq(0.03f, 1f)))
        .toDF("vec_id", "embedding")
      queries.Similarity.upsertIvfIndex(spark, root.getAbsolutePath,
        replace)
      val post = spark.read.parquet(postingsDir.getAbsolutePath)
      assert(post.filter(col("vec_id") === movedId).count() == 1,
        "a replaced moved id must appear exactly once after upsert")
      assert(post.count() == 8 &&
        post.select("vec_id").distinct().count() == 8)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  // ---- q46 meta swap: crash windows of the rename pair
  test("q46 meta pointer: a crash that loses meta/ mid-swap is " +
    "recovered from the newest complete snapshot; a partial meta " +
    "dir falls back the same way; re-compaction converges") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_r14_ttmeta").toFile
    try {
      queries.Layout.writeVersionedOrders(spark, sfDir, root)
      def snap(v: Int): Set[String] =
        queries.Layout.readOrdersAsOf(spark, root.getAbsolutePath, v)
          .collect().map(_.toString).toSet
      val v2Before = snap(2)
      val v3Before = snap(3)
      queries.Layout.compactVersions(spark, root.getAbsolutePath, 2)
      val metaDir = new java.io.File(root, "meta")
      assert(metaDir.isDirectory)
      // window 1: meta/ gone entirely (between the two renames)
      org.apache.commons.io.FileUtils.deleteDirectory(metaDir)
      assert(queries.Layout.ttMeta(spark, root.getAbsolutePath) ==
        (2, "base_v2"),
        "ttMeta must recover the pointer from the newest snapshot")
      assert(snap(2) == v2Before && snap(3) == v3Before,
        "reads through the recovered pointer must be exact")
      // a read below the recovered horizon still fails loudly
      intercept[IllegalArgumentException] {
        queries.Layout.readOrdersAsOf(spark, root.getAbsolutePath, 1)
          .collect()
      }
      // window 2: meta/ present but PARTIAL (no readable parquet)
      assert(metaDir.mkdirs())
      java.nio.file.Files.write(
        new java.io.File(metaDir, "part-00000.parquet").toPath,
        Array[Byte](1, 2, 3))
      assert(queries.Layout.ttMeta(spark, root.getAbsolutePath) ==
        (2, "base_v2"),
        "a partial meta dir must fall back, not throw")
      // re-compaction from the recovered state converges: pointer
      // rewritten, reads unchanged
      org.apache.commons.io.FileUtils.deleteDirectory(metaDir)
      queries.Layout.compactVersions(spark, root.getAbsolutePath, 3)
      assert(snap(3) == v3Before)
      assert(queries.Layout.ttMeta(spark, root.getAbsolutePath) ==
        (3, "base_v3"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  // ---- sk12: the CBO loop closed into Catalyst
  test("sk12: the optimizer rule rewrites the hint-free query to the " +
    "stats-chosen plan (order flip on narrow, user order on wide) " +
    "and the rule-off replay runs the user's unhinted plan") {
    val rows = queries.Sketches.cboApplied(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("narrow", "wide"))
    rows.foreach { case (scenario, r) =>
      def b(n: String) = r.getBoolean(r.fieldIndex(n))
      def s(n: String) = r.getString(r.fieldIndex(n))
      assert(b("order_audit"),
        s"$scenario: executed first join ${s("executed_first")} != " +
          s"chosen ${s("chosen_first")}")
      assert(b("strategy_audit"),
        s"$scenario: executed ops (${s("executed_inner")}, " +
          s"${s("executed_outer")}) != decided " +
          s"(${s("inner_strategy")}, ${s("outer_strategy")})")
      assert(b("ruleoff_audit"),
        s"$scenario: rule-off run was not the user's unhinted plan " +
          s"(${s("ruleoff_first")}, ${s("ruleoff_inner")}, " +
          s"${s("ruleoff_outer")})")
      assert(b("decision_matches_exact"), s"$scenario: est decision " +
        "diverged from the exact replay")
    }
    // the flip: narrow's ~1% predicate must move the executed order
    // away from the order the user wrote — the rule is load-bearing
    assert(rows("narrow").getBoolean(
      rows("narrow").fieldIndex("rule_load_bearing")),
      "narrow must flip the join order away from the user's")
    assert(rows("narrow").getString(
      rows("narrow").fieldIndex("executed_first")) == "orders-lineitem")
    assert(!rows("wide").getBoolean(
      rows("wide").fieldIndex("rule_load_bearing")),
      "wide must keep the user's order")
  }

  // ---- q47 OCC: crash windows + serialization
  test("q47 OCC: a writer that dies after staging leaves nothing in " +
    "deltas/ (claim IS publish — one atomic rename); a later writer " +
    "commits unobstructed; sequential read-modify-write commits " +
    "compose with no lost update") {
    import org.apache.spark.sql.DataFrame
    val root = java.nio.file.Files
      .createTempDirectory("graft_r14_occ").toFile
    try {
      queries.Layout.writeVersionedOrders(spark, sfDir, root)
      val rootP = root.getAbsolutePath
      assert(queries.Layout.currentVersion(spark, rootP) == 3)
      val v3 = queries.Layout.readOrdersAsOf(spark, rootP, 3)
        .collect().map(_.toString).toSet
      // crash AFTER staging, BEFORE the atomic claim-rename: the only
      // pre-commit crash window the protocol has
      val boom = intercept[RuntimeException] {
        queries.Layout.commitDeltaOcc(spark, rootP, "crasher",
          st => st.filter(pmod(col("k"), lit(20)) === 9)
            .select(col("k"), lit(0L).as("cents"), lit("D").as("op")),
          beforeClaim = (_, _) => throw new RuntimeException("crash"))
      }
      assert(boom.getMessage == "crash")
      // nothing — not even a partial dir — reached the version log;
      // the staged delta sits in the writer's private stage dir
      assert(!new java.io.File(root, "deltas/v=4").exists(),
        "a pre-claim crash must leave deltas/ untouched")
      assert(new java.io.File(root,
        "deltas_stage/crasher/_SUCCESS").exists())
      // the dead stage is invisible: version still 3, reads intact
      assert(queries.Layout.currentVersion(spark, rootP) == 3)
      assert(queries.Layout.readOrdersAsOf(spark, rootP, 3)
        .collect().map(_.toString).toSet == v3)
      // a new writer commits immediately — no sweep, no wait knob
      def bump(by: Long)(st: DataFrame): DataFrame =
        st.filter(pmod(col("k"), lit(20)) === 7)
          .select(col("k"), (col("cents") + by).as("cents"),
            lit("U").as("op"))
      val v4 = queries.Layout.commitDeltaOcc(spark, rootP, "w1",
        bump(100))
      assert(v4 == 4)
      // the committed slot is complete the instant it exists
      assert(new java.io.File(root, "deltas/v=4/_SUCCESS").exists())
      // read-modify-write sequential commit: +3 lands on TOP of +100
      val v5 = queries.Layout.commitDeltaOcc(spark, rootP, "w2",
        bump(3))
      assert(v5 == 5)
      val base7 = queries.Layout.readOrdersAsOf(spark, rootP, 3)
        .filter(pmod(col("k"), lit(20)) === 7)
        .agg(sum("cents")).collect().head.getLong(0)
      val fin7 = queries.Layout.readOrdersAsOf(spark, rootP, 5)
        .filter(pmod(col("k"), lit(20)) === 7)
        .agg(sum("cents")).collect().head.getLong(0)
      val n7 = queries.Layout.readOrdersAsOf(spark, rootP, 3)
        .filter(pmod(col("k"), lit(20)) === 7).count()
      assert(fin7 == base7 + 103 * n7,
        s"composed bump must be +103/row: base=$base7 fin=$fin7 n=$n7")
      // historic reads unchanged by the new commits
      assert(queries.Layout.readOrdersAsOf(spark, rootP, 3)
        .collect().map(_.toString).toSet == v3)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  // ---- s32 erasure: file-level rewrite scope + replay no-op
  test("s32 IVF erasure: only the deleted ids' lists and idmap " +
    "buckets are rewritten, an emptied list's dir is removed, and a " +
    "replayed delete rewrites nothing at all") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_r14_erase_ivf").toFile
    try {
      val cents = Array(Array(1f, 0f), Array(0f, 1f))
      val base = Seq(
        (1L, Seq(1f, 0.01f)), (2L, Seq(1f, 0.02f)),
        (3L, Seq(1f, 0.40f)), (4L, Seq(1f, 0.41f)),
        (5L, Seq(1f, 0.42f)), (6L, Seq(1f, 0.03f)),
        (7L, Seq(0.01f, 1f)), (8L, Seq(0.02f, 1f)))
        .toDF("vec_id", "embedding")
      queries.Similarity.writeIvfIndex(spark, base, cents, root)
      def mtimes(sub: String): Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(root, sub))
          .map(f => f.getAbsolutePath -> f.lastModified()).toMap
      }
      val cold = mtimes("postings/cid=1")
      // delete two of cid=0's six vectors
      queries.Similarity.deleteFromIvfIndex(spark,
        root.getAbsolutePath, Seq(3L, 4L).toDF("vec_id"))
      assert(mtimes("postings/cid=1") == cold,
        "the untouched list's files must stay byte-identical")
      val post = spark.read
        .parquet(new java.io.File(root, "postings").getAbsolutePath)
      assert(post.count() == 6 &&
        post.filter(col("vec_id").isin(3L, 4L)).count() == 0)
      val im = spark.read
        .parquet(new java.io.File(root, "idmap").getAbsolutePath)
      assert(im.count() == 6 &&
        im.filter(col("vec_id").isin(3L, 4L)).count() == 0)
      // replay: byte-identical everything (early-return no-op)
      val all1 = mtimes("postings") ++ mtimes("idmap") ++
        mtimes("centroids")
      queries.Similarity.deleteFromIvfIndex(spark,
        root.getAbsolutePath, Seq(3L, 4L).toDF("vec_id"))
      assert(mtimes("postings") ++ mtimes("idmap") ++
        mtimes("centroids") == all1,
        "a replayed delete must rewrite nothing")
      // empty a whole list: cid=1 loses both its vectors
      queries.Similarity.deleteFromIvfIndex(spark,
        root.getAbsolutePath, Seq(7L, 8L).toDF("vec_id"))
      assert(!new java.io.File(root, "postings/cid=1").exists(),
        "an emptied list's stale dir must be removed")
      assert(spark.read.parquet(
        new java.io.File(root, "postings").getAbsolutePath)
        .count() == 4)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("s32 BM25 erasure: untouched token buckets stay byte-" +
    "identical, stats reflect only the survivors, replay is a no-op") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_r14_erase_bm").toFile
    try {
      val docs = Seq((1L, "a b"), (2L, "c d"), (3L, "a e"))
        .toDF("doc_id", "text")
      queries.Similarity.writeBm25Index(spark, docs, root)
      def mtimes(sub: String): Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(root, sub))
          .map(f => f.getAbsolutePath -> f.lastModified()).toMap
      }
      // doc 2's token buckets, from the docmap (what the delete reads)
      val doc2Tbs = spark.read
        .parquet(new java.io.File(root, "docmap").getAbsolutePath)
        .filter(col("doc_id") === 2L)
        .select(explode(col("tbs"))).collect().map(_.getInt(0)).toSet
      val untouched = new java.io.File(root, "postings").listFiles()
        .filter(d => d.isDirectory &&
          !doc2Tbs.contains(d.getName.stripPrefix("tb=").toInt))
        .map(_.getName)
      val before = untouched.map(n => n -> mtimes(s"postings/$n")).toMap
      queries.Similarity.deleteFromBm25Index(spark,
        root.getAbsolutePath, Seq(2L).toDF("doc_id"))
      untouched.foreach { n =>
        assert(mtimes(s"postings/$n") == before(n),
          s"posting bucket $n holds no deleted doc and must be " +
            "byte-identical")
      }
      val post = spark.read
        .parquet(new java.io.File(root, "postings").getAbsolutePath)
      assert(post.filter(col("doc_id") === 2L).count() == 0)
      val totals = queries.Similarity
        .readBm25Totals(spark, root.getAbsolutePath).collect().head
      assert(totals.getLong(0) == 2 && totals.getLong(1) == 4,
        s"totals must be survivors-only, got $totals")
      // df of a token only doc 2 had must be gone from the dict
      val dict = spark.read
        .parquet(new java.io.File(root, "dict").getAbsolutePath)
      assert(dict.filter(col("token").isin("c", "d")).count() == 0)
      assert(dict.filter(col("token") === "a")
        .collect().head.getAs[Long]("df") == 2)
      // replay: byte-identical everything
      val all1 = Seq("postings", "dict", "docmap", "totals")
        .map(mtimes).reduce(_ ++ _)
      queries.Similarity.deleteFromBm25Index(spark,
        root.getAbsolutePath, Seq(2L).toDF("doc_id"))
      assert(Seq("postings", "dict", "docmap", "totals")
        .map(mtimes).reduce(_ ++ _) == all1,
        "a replayed delete must rewrite nothing")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  // ---- sk13: the fingerprint primitive under the staleness guard
  test("sk13 fingerprint: stable across reads, sensitive to appends " +
    "and in-place rewrites, file- and directory-table agnostic") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_r14_fp").toFile
    try {
      val f = new java.io.File(base, "t.parquet")
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      val fp1 = graft.plans.CboCatalog.fingerprintOf(f.getAbsolutePath)
      assert(graft.plans.CboCatalog.fingerprintOf(
        f.getAbsolutePath) == fp1, "reads must not move it")
      // in-place rewrite (same length, later mtime) must change it
      Thread.sleep(1100) // FS mtime granularity
      java.nio.file.Files.write(f.toPath, Array[Byte](4, 5, 6))
      assert(graft.plans.CboCatalog.fingerprintOf(
        f.getAbsolutePath) != fp1, "same-length rewrite must change it")
      // directory table: append flips it, _metadata files don't count
      val d = new java.io.File(base, "dir.parquet"); d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "part-0.parquet").toPath, Array[Byte](1))
      val dp1 = graft.plans.CboCatalog.fingerprintOf(d.getAbsolutePath)
      java.nio.file.Files.write(
        new java.io.File(d, "_SUCCESS").toPath, Array[Byte]())
      assert(graft.plans.CboCatalog.fingerprintOf(
        d.getAbsolutePath) == dp1, "marker files must not count")
      java.nio.file.Files.write(
        new java.io.File(d, "part-1.parquet").toPath, Array[Byte](2))
      assert(graft.plans.CboCatalog.fingerprintOf(
        d.getAbsolutePath) != dp1, "an appended part must change it")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  // ---- st39: tombstone semantics at the matcher level
  test("st39 tombstones: a tombstone for an absent id is a no-op, a " +
    "present id is forgotten, and a REPLAYED tombstone converges — " +
    "future arrivals pair only with survivors") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val base = java.nio.file.Files
      .createTempDirectory("graft_r14_tomb").toFile
    try {
      val src = new java.io.File(base, "src"); src.mkdirs()
      def writeEpoch(name: String, rows: Seq[(Long, String)],
          mtime: Long): Unit = {
        val stage = new java.io.File(base, s"stage_$name")
        rows.map { case (i, op) => (i, Array.fill(4)(i), op) }
          .toDF("doc_id", "sig", "op")
          .coalesce(1).write.mode("overwrite")
          .parquet(stage.getAbsolutePath)
        val part = stage.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(src, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime)
        org.apache.commons.io.FileUtils.deleteDirectory(stage)
      }
      // e0: ingest 1,2 — e1: tombstone 2, tombstone 99 (absent),
      // tombstone 2 AGAIN (replay in the same shard) — e2: ingest 3
      writeEpoch("e0", Seq(1L -> "I", 2L -> "I"), 1700000000000L)
      writeEpoch("e1", Seq(2L -> "D", 99L -> "D", 2L -> "D"),
        1700000060000L)
      writeEpoch("e2", Seq(3L -> "I"), 1700000120000L)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sig",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType)))
      GraftSession.withConf(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")) {
        val banded = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(src.getAbsolutePath)
          .select(col("doc_id"), lit(0).as("band"), lit(0).as("bh"),
            col("sig"), col("op"))
          .as[EventStreams.BandedDoc]
        val q = EventStreams.lshDedupStream(banded).toDF()
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(
            org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val pairs = spark.read.parquet(s"$base/out")
        .select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // e0 emits (1,2); e2's doc 3 pairs ONLY with survivor 1 —
      // (2,3) must be absent (2 was purged) and 99 never existed
      assert(pairs == Set((1L, 2L), (1L, 3L)),
        s"got $pairs — tombstone must suppress (2,3) only")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  // ---- BM25 no-null-text precondition: loud, not silent
  test("BM25 build and upsert reject null-text documents loudly " +
    "(a silent drop would diverge n_docs from an all-docs oracle)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_r14_bm25null").toFile
    try {
      val bad = Seq((1L, "a b"), (2L, null.asInstanceOf[String]))
        .toDF("doc_id", "text")
      intercept[IllegalArgumentException] {
        queries.Similarity.writeBm25Index(spark, bad, root)
      }
      val good = Seq((1L, "a b"), (2L, ""), (3L, "c a"))
        .toDF("doc_id", "text")
      queries.Similarity.writeBm25Index(spark, good, root)
      // empty-STRING text still posts (one "" token) — all 3 docs
      // survive into the derived totals
      val totals = queries.Similarity
        .readBm25Totals(spark, root.getAbsolutePath).collect().head
      assert(totals.getLong(0) == 3, s"n_docs=${totals.getLong(0)}")
      intercept[IllegalArgumentException] {
        queries.Similarity.upsertBm25Index(spark,
          root.getAbsolutePath,
          Seq((4L, null.asInstanceOf[String])).toDF("doc_id", "text"))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }
}
