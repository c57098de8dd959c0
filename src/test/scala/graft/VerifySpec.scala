package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The gate writer: the one place that fixes a gate file's row order. */
class VerifySpec extends SparkSpec {

  /** Runs `write` and returns the executed plan of the write command. */
  private def writtenPlan(write: => Unit): String = {
    val plans = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "command") plans.put(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      write
      val p = plans.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(p != null, "no write command reached the listener")
      p
    } finally spark.listenerManager.unregister(listener)
  }

  test("write: one file in canonical row order, nulls first, a map " +
    "column carried but not sorted on, and no range exchange") {
    // 40 rows emitted in descending key order over 4 partitions; every
    // key holds two rows, the null one emitted second
    val df: DataFrame = spark.range(0, 40, 1, 4)
      .select((lit(39L) - col("id")).as("x"))
      .select((col("x") / 2).cast("long").as("k"),
        when(col("x") % 2 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("s"), col("x").cast("string"))).as("s"),
        map(lit("x"), col("x")).as("m"))
    assert(Verify.sortKeys(df.schema) == Seq("k", "s"))
    val emitted = df.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(emitted.head == ((19L, "s39")), emitted.take(3).mkString(","))

    val dir = java.nio.file.Files.createTempDirectory("graft_verify")
      .toFile
    val out = new java.io.File(dir, "q").getAbsolutePath
    try {
      val plan = writtenPlan(Verify.write(df, out))
      assert(!plan.toLowerCase.contains("rangepartitioning"),
        s"range exchange in the gate write:\n$plan")
      assert(new java.io.File(out).listFiles()
        .count(_.getName.endsWith(".parquet")) == 1)
      val back = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), Option(r.getString(1)),
          r.getMap[String, Long](2).toMap))
      val expected = (0L until 20L).flatMap(k => Seq(
        (k, None, Map("x" -> 2 * k)),
        (k, Some(s"s${2 * k + 1}"), Map("x" -> (2 * k + 1)))))
      assert(back.toSeq == expected)
      // the plan check sees range exchanges where there is one
      val sorted = writtenPlan(df.orderBy("k").write.mode("overwrite")
        .parquet(s"$out-global"))
      assert(sorted.toLowerCase.contains("rangepartitioning"), sorted)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
