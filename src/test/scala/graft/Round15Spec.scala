package graft

import org.apache.spark.sql.functions._

/** Round-15: the r14-advice hardening (CBO rotation purity, OCC
  * atomic rename-claim under a slow-loser race, recursive staleness
  * fingerprints, deterministic in-batch tombstone order) and the
  * round's CBO chain/semi extensions.
  */
class Round15Spec extends SparkSpec {

  private def withCboRule[T](body: => T): T = {
    plans.CboReorder.install(spark)
    try GraftSession.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      plans.CboCatalog.EnabledKey -> "true")(body)
    finally plans.CboCatalog.clear()
  }

  // ---- r14 advice #1: a computed alias in the mid-Project must not
  // rotate into an unresolvable plan
  test("CBO rotate purity: a mid-Project with a computed alias keeps " +
    "the user's join order (and the query both resolves and matches " +
    "the rule-off answer), even when the stats say rotate") {
    withCboRule {
      queries.Sketches.registerCboStats(spark,
        queries.Sketches.analyzeForCbo(spark, sfDir), sfDir)
      def q(): org.apache.spark.sql.DataFrame = {
        val cust = queries.Relational.table(spark, sfDir, "customer")
          .select("c_custkey")
        val ord = queries.Relational.table(spark, sfDir, "orders")
          .select("o_custkey", "o_orderkey")
        val line = queries.Relational.table(spark, sfDir, "lineitem")
          .select(col("l_orderkey"),
            col("l_extendedprice").cast("double").as("price"))
        // the narrow filter makes orders⋈lineitem the smaller first
        // join — the rule WANTS to rotate — but the mid-Project's
        // computed `bucket` column is consumed above the outer join,
        // so rotation would drop its definition
        cust.join(ord, col("c_custkey") === col("o_custkey"))
          .select(col("o_orderkey"),
            pmod(col("o_custkey"), lit(7)).as("bucket"))
          .join(line.filter(col("price") > 0.0 && col("price") <= 2000.0)
            .select("l_orderkey"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("bucket").count()
      }
      val on = q().collect().map(_.toString).toSet // must not throw
      val off = GraftSession.withConf(spark,
        plans.CboCatalog.EnabledKey -> "false") {
        q().collect().map(_.toString).toSet
      }
      assert(on == off, "rule-on answer must equal rule-off")
      assert(on.nonEmpty)
    }
  }

  // ---- task 6: one directory listing per table per rule application
  test("CBO fingerprint memo: one listing per distinct table per " +
    "rule application (even with the same tables in two joins), and " +
    "zero listings when the rule is disabled") {
    withCboRule {
      queries.Sketches.registerCboStats(spark,
        queries.Sketches.analyzeForCbo(spark, sfDir), sfDir)
      // build the UNOPTIMIZED-by-the-rule plan: rule off
      val plan = GraftSession.withConf(spark,
        plans.CboCatalog.EnabledKey -> "false") {
        val cust = queries.Relational.table(spark, sfDir, "customer")
          .select("c_custkey")
        val ord = queries.Relational.table(spark, sfDir, "orders")
          .select("o_custkey", "o_orderkey")
        val line = queries.Relational.table(spark, sfDir, "lineitem")
          .select("l_orderkey")
        def joined() = cust
          .join(ord, col("c_custkey") === col("o_custkey"))
          .join(line, col("o_orderkey") === col("l_orderkey"))
          .groupBy().count()
        val plan = joined().union(joined()).queryExecution.optimizedPlan
        // rule disabled: apply must not list anything
        val base0 = plans.CboCatalog.fingerprintCalls.get()
        plans.CboReorder(plan)
        assert(plans.CboCatalog.fingerprintCalls.get() == base0,
          "a disabled rule must not touch the filesystem")
        plan
      }
      // rule enabled again: two 3-table joins over the same 3 tables →
      // exactly 3 listings in one application
      val base1 = plans.CboCatalog.fingerprintCalls.get()
      plans.CboReorder(plan)
      val listed = plans.CboCatalog.fingerprintCalls.get() - base1
      assert(listed == 3,
        s"expected 3 listings (one per distinct table), got $listed")
    }
  }

  // ---- r14 advice #3 + task 6: the fingerprint primitive
  test("fingerprint: partition-subdirectory appends are seen " +
    "(recursive walk), a same-size in-place rewrite is seen without " +
    "waiting out an mtime tick, and a versioned root fingerprints by " +
    "its commit pointer + published deltas only") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_r15_fp").toFile
    try {
      // hive-partitioned table: data only in subdirectories
      val t = new java.io.File(base, "part.parquet")
      val p1 = new java.io.File(t, "month=1"); p1.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(p1, "f1.parquet").toPath, Array[Byte](1, 2))
      val fp1 = plans.CboCatalog.fingerprintOf(t.getAbsolutePath)
      val p2 = new java.io.File(t, "month=2"); p2.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(p2, "f2.parquet").toPath, Array[Byte](3))
      assert(plans.CboCatalog.fingerprintOf(t.getAbsolutePath) != fp1,
        "an append inside a partition subdirectory must change it")
      // same-size in-place rewrite, no sleep: ns mtime / inode moves
      val fp2 = plans.CboCatalog.fingerprintOf(t.getAbsolutePath)
      java.nio.file.Files.write(
        new java.io.File(p1, "f1.parquet").toPath, Array[Byte](9, 9))
      assert(plans.CboCatalog.fingerprintOf(t.getAbsolutePath) != fp2,
        "a same-size same-tick rewrite must change it")
      // versioned root: the commit pointer is the fingerprint
      val v = new java.io.File(base, "versioned"); v.mkdirs()
      val meta = new java.io.File(v, "meta"); meta.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(meta, "ptr.parquet").toPath, Array[Byte](1))
      val d1 = new java.io.File(v, "deltas/v=1"); d1.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d1, "_SUCCESS").toPath, Array[Byte]())
      val vf1 = plans.CboCatalog.fingerprintOf(v.getAbsolutePath)
      // an unpublished delta (no _SUCCESS) is invisible to readers —
      // and to the fingerprint
      val d2 = new java.io.File(v, "deltas/v=2"); d2.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d2, "data.parquet").toPath, Array[Byte](5))
      assert(plans.CboCatalog.fingerprintOf(v.getAbsolutePath) == vf1,
        "an unpublished delta must not change a versioned root's print")
      java.nio.file.Files.write(
        new java.io.File(d2, "_SUCCESS").toPath, Array[Byte]())
      assert(plans.CboCatalog.fingerprintOf(v.getAbsolutePath) != vf1,
        "a published delta must change it")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  // ---- r14 advice #2: the lost-update race the sweep allowed
  test("q47 OCC: a slow writer that staged against an old version " +
    "and loses the claim-rename rebases onto the winner — no lost " +
    "update, no mixed version dir") {
    import org.apache.spark.sql.DataFrame
    val root = java.nio.file.Files
      .createTempDirectory("graft_r15_occ_race").toFile
    try {
      queries.Layout.writeVersionedOrders(spark, sfDir, root)
      val rootP = root.getAbsolutePath
      def bump(by: Long)(st: DataFrame): DataFrame =
        st.filter(pmod(col("k"), lit(20)) === 7)
          .select(col("k"), (col("cents") + by).as("cents"),
            lit("U").as("op"))
      val slowMayClaim = new java.util.concurrent.CountDownLatch(1)
      val slowStaged = new java.util.concurrent.CountDownLatch(1)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val slow = Future {
        queries.Layout.commitDeltaOcc(spark, rootP, "slow", bump(100),
          beforeClaim = (_, v) => if (v == 4) {
            slowStaged.countDown()
            slowMayClaim.await()
          })
      }
      slowStaged.await()
      // the fast writer wins v4 while the slow one holds a fully
      // staged delta computed against v3
      val vFast = queries.Layout.commitDeltaOcc(spark, rootP, "fast",
        bump(3))
      assert(vFast == 4)
      slowMayClaim.countDown()
      val vSlow = Await.result(slow,
        scala.concurrent.duration.Duration(120, "s"))
      assert(vSlow == 5, s"slow writer must rebase to v5, got $vSlow")
      // both updates present exactly once: +103 per affected row
      val base7 = queries.Layout.readOrdersAsOf(spark, rootP, 3)
        .filter(pmod(col("k"), lit(20)) === 7)
        .agg(sum("cents")).collect().head.getLong(0)
      val n7 = queries.Layout.readOrdersAsOf(spark, rootP, 3)
        .filter(pmod(col("k"), lit(20)) === 7).count()
      val fin7 = queries.Layout.readOrdersAsOf(spark, rootP, 5)
        .filter(pmod(col("k"), lit(20)) === 7)
        .agg(sum("cents")).collect().head.getLong(0)
      assert(fin7 == base7 + 103 * n7,
        s"no lost update: base=$base7 fin=$fin7 n=$n7")
      // every published slot is complete, none mixed
      Seq(4, 5).foreach { v =>
        assert(new java.io.File(root, s"deltas/v=$v/_SUCCESS").exists())
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  // ---- r14 advice #4: in-batch insert/tombstone tie is deterministic
  test("streamed LSH: an insert and a tombstone for the same doc_id " +
    "in ONE micro-batch apply delete-wins — the doc never survives " +
    "into later batches, regardless of arrival order") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val base = java.nio.file.Files
      .createTempDirectory("graft_r15_tombtie").toFile
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
      writeEpoch("e0", Seq(1L -> "I"), 1700000000000L)
      // the tie batch: doc 5 inserted AND tombstoned in one epoch
      writeEpoch("e1", Seq(5L -> "I", 5L -> "D"), 1700000060000L)
      writeEpoch("e2", Seq(6L -> "I"), 1700000120000L)
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
      // (1,5) is sink history from 5's insert moment; (5,6) must be
      // absent — the same-batch tombstone wins
      assert(pairs == Set((1L, 5L), (1L, 6L)),
        s"got $pairs — same-batch tombstone must purge doc 5")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  // ---- chain rewrite declines safely on an impure mid-Project
  test("CBO chain: a 4-table chain whose mid-Project computes an " +
    "alias is not flattened (no unresolvable plan); the answer " +
    "matches rule-off") {
    withCboRule {
      queries.Sketches.registerCboStats(spark,
        queries.Sketches.analyzeForCbo(spark, sfDir), sfDir)
      def q(): org.apache.spark.sql.DataFrame = {
        val nat = queries.Relational.table(spark, sfDir, "nation")
          .select("n_nationkey")
        val cust = queries.Relational.table(spark, sfDir, "customer")
          .select("c_custkey", "c_nationkey")
        val ord = queries.Relational.table(spark, sfDir, "orders")
          .select("o_custkey", "o_orderkey")
        val line = queries.Relational.table(spark, sfDir, "lineitem")
          .select(col("l_orderkey"),
            col("l_extendedprice").cast("double").as("price"))
        nat.join(cust, col("n_nationkey") === col("c_nationkey"))
          .join(ord, col("c_custkey") === col("o_custkey"))
          // computed alias consumed ABOVE the last join: flattening
          // would orphan it
          .select(col("o_orderkey"),
            pmod(col("o_custkey"), lit(5)).as("bucket"))
          .join(line.filter(col("price") > 0.0 && col("price") <= 2000.0)
            .select("l_orderkey"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("bucket").count()
      }
      val on = q().collect().map(_.toString).toSet
      val off = GraftSession.withConf(spark,
        plans.CboCatalog.EnabledKey -> "false") {
        q().collect().map(_.toString).toSet
      }
      assert(on == off && on.nonEmpty)
    }
  }

  // ---- task 4: the d09/d16 assignment paths agree exactly
  test("SemDeDup assignment: the broadcast-join argmax path (forced " +
    "via the literal-max threshold) returns byte-identical d09 and " +
    "d16 results to the compiled-literal path") {
    val key = "spark.graft.semdedup.centroidLiteralMax"
    val lit09 = sortedRows(queries.Dedup.semanticDedup(spark, sfDir))
      .map(_.toString)
    val lit16 = sortedRows(queries.Dedup.semanticCalibration(spark, sfDir))
      .map(_.toString)
    // every k takes the join path
    GraftSession.withConf(spark, key -> "0") {
      val join09 = sortedRows(queries.Dedup.semanticDedup(spark, sfDir))
        .map(_.toString)
      val join16 = sortedRows(
        queries.Dedup.semanticCalibration(spark, sfDir)).map(_.toString)
      assert(join09 == lit09, "d09 paths must agree")
      assert(join16 == lit16, "d16 paths must agree")
      assert(lit09.nonEmpty && lit16.nonEmpty)
    }
  }

  // ---- task 5: semi/anti strategy pinning
  test("CBO semi/anti pinning: an analyzed left-semi join broadcasts " +
    "its under-cap right leg via the injected hint (rule-off stays " +
    "shuffle with auto-broadcast disabled), same answer both ways") {
    withCboRule {
      queries.Sketches.registerCboStats(spark,
        queries.Sketches.analyzeForCbo(spark, sfDir), sfDir)
      def q() = {
        val ord = queries.Relational.table(spark, sfDir, "orders")
          .select("o_custkey", "o_orderkey")
        val cust = queries.Relational.table(spark, sfDir, "customer")
          .select("c_custkey")
        ord.join(cust, col("o_custkey") === col("c_custkey"),
          "left_semi").groupBy().count()
      }
      def innerJoinOp(df: org.apache.spark.sql.DataFrame): String = {
        val n = df.collect().head.getLong(0)
        assert(n > 0)
        queries.Sketches.executedJoins(df).head.getClass.getSimpleName
      }
      val onOp = innerJoinOp(q())
      val offOp = GraftSession.withConf(spark,
        plans.CboCatalog.EnabledKey -> "false")(innerJoinOp(q()))
      assert(onOp == "BroadcastHashJoinExec",
        s"rule-on must broadcast the analyzed under-cap leg, got $onOp")
      assert(offOp == "SortMergeJoinExec",
        s"rule-off with auto-broadcast off must shuffle, got $offOp")
    }
  }
}
