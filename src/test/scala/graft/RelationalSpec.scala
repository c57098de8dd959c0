package graft

import graft.queries.Relational
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.ParquetSchemaBridge

/** Smoke + determinism for the Layer B corpus. Value-level correctness
  * is validated against the DuckDB oracle by the driver (and locally by
  * scripts/compare_oracle.py). */
class RelationalSpec extends SparkSpec {

  for ((name, fn, sql) <- Relational.all) {
    test(s"$name runs, is non-empty, and is deterministic") {
      val a = sortedRows(fn(spark, sfDir))
      assert(a.nonEmpty, s"$name returned 0 rows at sf0.001")
      val b = sortedRows(fn(spark, sfDir))
      assert(a.sameElements(b), s"$name not deterministic across runs")
      val head = sql.trim.toLowerCase
      assert(head.startsWith("select") || head.startsWith("with"))
    }
  }

  test("q18: HLL sketch tracks exact distincts within the error bound") {
    Relational.q18ApproxDistinct(spark, sfDir).collect().foreach { r =>
      val (eo, ao) = (r.getLong(1), r.getLong(2))
      val (ep, ap) = (r.getLong(3), r.getLong(4))
      assert(math.abs(ao - eo) <= math.max(3, 0.1 * eo), s"orders $eo vs $ao")
      assert(math.abs(ap - ep) <= math.max(3, 0.1 * ep), s"parts $ep vs $ap")
    }
  }

  test("q20: t-digest percentiles track exact q19 within 2%") {
    val exact = Relational.q19Percentiles(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Relational.q20ApproxPercentiles(spark, sfDir).collect().foreach { r =>
      val (e50, e95) = exact(r.getString(0))
      assert(math.abs(r.getDouble(1) - e50) <= 0.02 * e50,
        s"p50 $e50 vs ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - e95) <= 0.02 * e95,
        s"p95 $e95 vs ${r.getDouble(2)}")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("queries and oracleSql keys line up") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  /** Spark jobs that `body` starts on this thread. They carry a fresh
    * job group; a sentinel job in a second group, seen by the listener
    * after them, shows the listener bus has delivered them. */
  private def jobsDuring[A](body: => A): (Int, A) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"graft-table-jobs-${System.nanoTime}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some(`sentinel`) => drained.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "jobsDuring sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      (jobs.get, out)
    } finally sc.removeSparkListener(listener)
  }

  private def footerSchema(path: String) =
    ParquetSchemaBridge.footerSchema(spark, path)

  test("table: the footer schema equals Spark's inferred schema for " +
    "every table at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val names = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      assert(names.length >= 10, s"$dir: ${names.toSeq}")
      for (name <- names) {
        val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
        assert(footerSchema(s"$dir/$name.parquet").contains(inferred),
          s"$dir/$name: footer schema differs from $inferred")
        assert(Relational.table(spark, dir, name).schema == inferred)
      }
    }
  }

  test("table: a Spark-written multi-file directory with _SUCCESS reads " +
    "the same schema and rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_table_schema")
      .toFile
    try {
      val path = s"$dir/multi.parquet"
      spark.range(0, 60, 1, 3)
        .selectExpr("id", "cast(id as string) AS s", "array(id, id) AS xs",
          "named_struct('d', cast(id AS double)) AS st",
          "cast(id AS decimal(12, 2)) AS dec")
        .write.parquet(path)
      val files = new java.io.File(path).list().toSeq
      assert(files.contains("_SUCCESS") &&
        files.count(_.startsWith("part-")) >= 2, s"layout: $files")
      val inferred = spark.read.parquet(path)
      assert(footerSchema(path).contains(inferred.schema))
      val got = Relational.table(spark, dir.toString, "multi")
      assert(got.schema == inferred.schema)
      assert(got.orderBy("id").collect().toSeq ==
        inferred.orderBy("id").collect().toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("table: runs no Spark job, where schema inference runs one") {
    val path = s"$sfDir/customer.parquet"
    val (inferJobs, _) = jobsDuring(spark.read.parquet(path))
    assert(inferJobs >= 1, "the listener must see inference's job")
    val (n, df) = jobsDuring(Relational.table(spark, sfDir, "customer"))
    assert(n == 0, s"table(...) ran $n Spark jobs")
    assert(df.schema == spark.read.parquet(path).schema)
  }

  test("table: with schema merging on, Spark's own inference runs") {
    GraftSession.withConf(spark, "spark.sql.parquet.mergeSchema" -> "true") {
      assert(footerSchema(s"$sfDir/customer.parquet").isEmpty)
      assert(Relational.table(spark, sfDir, "customer").schema ==
        spark.read.parquet(s"$sfDir/customer.parquet").schema)
    }
  }
}
