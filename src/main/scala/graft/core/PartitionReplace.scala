package graft.core

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col

/** In-place rewrite of some partitions of a parquet store partitioned
  * by one int column: the protocol every stored index (IVF postings
  * and id map, BM25 postings, dict, doc map and totals) and st36's
  * base table grow and shrink through. Partitions the rewrite does
  * not touch keep their files. */
object PartitionReplace {

  /** Replaces the `touched` partitions of the store at `path` with
    * `rows`, partitioned by `part`:
    *  1. `rows` are written into `<path>_stage` beside the store — a
    *     merge reads the partitions it replaces, and Spark refuses a
    *     write over a path its own plan reads;
    *  2. the stage is published with `partitionOverwriteMode=dynamic`,
    *     which replaces exactly the partitions that receive rows;
    *  3. each touched partition that received none is deleted (dynamic
    *     overwrite would keep its stale rows);
    *  4. the stage is removed.
    * Returns the partitions that hold rows after the call, listed from
    * the stage's `part=` directories rather than with a Spark job.
    * Empty `rows` publish nothing and delete every touched partition;
    * rows the optimizer proves empty (what [[published]] returns for
    * no partitions) also write no stage, so they cost no Spark job. */
  def replace(rows: DataFrame, path: String, part: String,
      touched: Iterable[Int]): Set[Int] = {
    val target = new File(path)
    val stage = new File(target.getParentFile, s"${target.getName}_stage")
    val provedEmpty = rows.queryExecution.optimizedPlan match {
      case r: LocalRelation => r.data.isEmpty
      case _ => false
    }
    if (provedEmpty) FileUtils.deleteDirectory(stage)
    else rows.write.partitionBy(part).mode("overwrite")
      .parquet(stage.getAbsolutePath)
    val kept = Option(stage.listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.startsWith(s"$part="))
      .map(_.stripPrefix(s"$part=").toInt).toSet
    // read with `rows`' schema: parquet schema inference is a job
    if (kept.nonEmpty)
      rows.sparkSession.read.schema(rows.schema)
        .parquet(stage.getAbsolutePath)
        .write.partitionBy(part).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    touched.filterNot(kept).foreach(p =>
      FileUtils.deleteDirectory(new File(target, s"$part=$p")))
    FileUtils.deleteDirectory(stage)
    kept
  }

  /** The rows that `replace(rows, path, part, _)` left in `parts`, for
    * a store derived from them, read with `rows`' schema; no partitions
    * give an empty frame, which costs no job in [[replace]]. `rows`
    * itself must not be read again once published: its plan may list
    * files the publish deleted. */
  def published(rows: DataFrame, path: String, part: String,
      parts: Set[Int]): DataFrame =
    if (parts.isEmpty)
      rows.sparkSession.createDataFrame(java.util.List.of[Row](), rows.schema)
    else rows.sparkSession.read.schema(rows.schema).parquet(path)
      .filter(col(part).isin(parts.toSeq.map(Integer.valueOf): _*))
}
