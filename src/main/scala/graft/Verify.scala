package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A gate query's row order is presentation: the queries end without
    * a sort, and this writer alone fixes the order of every gate file.
    * It writes [[canonical]] `df`, so the file's bytes do not depend on
    * the order in which the query's last stage emitted its rows. */
  def write(df: DataFrame, path: String): Unit =
    canonical(df).write.mode("overwrite").parquet(path)

  /** `df` in one partition, its rows sorted within it by [[sortKeys]]:
    * a single-task sort with no range exchange. */
  def canonical(df: DataFrame): DataFrame =
    df.coalesce(1).sortWithinPartitions(sortKeys(df.schema)
      .map(n => col("`" + n.replace("`", "``") + "`")): _*)

  /** Every orderable column, in schema order. Map-typed columns (and
    * arrays or structs holding one) have no ordering and are skipped. */
  private[graft] def sortKeys(schema: StructType): Seq[String] =
    schema.fields.toSeq.filter(f => RowOrdering.isOrderable(f.dataType))
      .map(_.name)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // same production session the bench measures (AQE, extensions) —
    // the gate should verify the plans users actually run
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (unset for the driver = run everything)
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try write(fn(spark, sfDir), s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
