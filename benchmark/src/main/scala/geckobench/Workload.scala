package geckobench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one closed-loop run needs from its workload. A run stages the
  * seeded inputs (part of set-up), then calls [[iteration]] again and
  * again, each call starting only after the previous one has returned
  * its checked result. The first two iterations are untimed warm-ups;
  * the first runs at another shuffle partition count, and every later
  * iteration must return exactly what it returned. */
trait Workload {
  /** Builds the seeded inputs under `dir`. Everything the timed calls
    * read is produced here, from the seed alone. */
  def stage(spark: SparkSession, seed: Long, dir: java.io.File): Unit

  /** One job: the workload's timed calls, in order, each inside
    * `ctx.call`. Returns the values the output checks compare across
    * iterations and partition counts. */
  def iteration(ctx: Ctx): Map[String, Any]

  /** Traced-run-only measurements of one layer in isolation (kernel
    * throughput, candidate counts), keyed by name. Never counted in
    * `job_s`. */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty

  /** Result values the run reports, from the first iteration's result. */
  def report(first: Map[String, Any]): Map[String, Double] = Map.empty
}

/** Thrown by a call whose output failed its check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Per-run state shared by the loop and the workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val cores: Int) {
  var attempted = 0L
  var failed = 0L

  /** One timed call into a layer: a span named `layerCall` (for
    * example `dedup.minhash_lsh`). A call that throws, or whose output
    * check throws [[CheckFailed]], counts as failed, and the failure
    * ends the iteration. */
  def call[T](layerCall: String)(body: => T): T = {
    attempted += 1
    try tracer.span(layerCall)(body)
    catch {
      case e: Throwable =>
        failed += 1
        throw e
    }
  }

  /** A span that is not itself a timed call (a finer layer boundary
    * inside one, or a probe). */
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def require(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)

  /** Order-independent fingerprint of a result: its row count and the
    * exact sum of one 64-bit hash per row. Computing it is the action
    * that materializes the result. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Runs `body` with the shuffle partition count set to `n`. */
  def withPartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Writes a frame to Spark's no-op sink: the frame is fully computed
    * and nothing is kept. */
  def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Workload {
  def named(name: String): Workload = name match {
    case "linkage_roundtrip" => LinkageRoundtrip
    case "corpus_curation" => CorpusCuration
    case other => throw new IllegalArgumentException(
      s"unknown workload `$other`; expected linkage_roundtrip or " +
        "corpus_curation")
  }

  /** Fixture tables shipped with the repository's tests. */
  val Assets = "src/test/resources/assets"

  /** The CLDR German keymap bundled as an engine resource. */
  def deKeymap(): Map[Char, String] =
    graft.mut.Cldr.neighborCandidates(
      getClass.getResourceAsStream("/assets/de-t-k0-windows.xml"), None)
}
