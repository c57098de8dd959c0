package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** `spark.read.parquet(path)` without a schema infers one through
  * `ParquetFileFormat.mergeSchemasInParallel`, which runs a one-task
  * Spark job per call even when it touches a single footer. This
  * bridge (inside the parquet package, so it can see Spark's
  * `private[parquet]` footer readers; same technique as
  * `org.apache.spark.sql.graftbridge`) reads that footer on the driver
  * with Spark's own code instead, so the caller can pass the schema
  * with `.schema(...)` and no job runs. */
object ParquetSchemaBridge {

  /** The schema `spark.read.parquet(path)` reports for the parquet
    * file or flat directory at `path`, read from one footer on the
    * driver. The footer is picked by Spark's non-merging rule
    * (`ParquetUtils.inferSchema`): `_common_metadata`, then
    * `_metadata`, then the first data file by path; other names
    * starting with `_` or `.` are skipped, as the file index skips
    * them. None — the caller keeps Spark's own inference — when
    * schema merging is on, the path is missing, a directory has
    * subdirectories (partition discovery), or there is no footer to
    * read. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = session.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root)) return None
    val rootStatus = fs.getFileStatus(root)
    val leaves: Seq[FileStatus] =
      if (!rootStatus.isDirectory) Seq(rootStatus)
      else {
        val children = fs.listStatus(root).toSeq
          .filterNot(f => hidden(f.getPath.getName))
        if (children.exists(_.isDirectory)) return None
        children
      }
    val sorted = leaves.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    val touch = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(sorted.find(f => !summary(f.getPath.getName)))
    touch.flatMap { f =>
      val footers = ParquetFileFormat.readParquetFootersInParallel(
        hadoopConf, Seq(f), conf.ignoreCorruptFiles)
      // the file source reports every field nullable
      ParquetFileFormat.readSchema(footers, spark).map(_.asNullable)
    }
  }

  private def summary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_METADATA_FILE

  /** Names the file index drops (`InMemoryFileIndex`'s filter). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")) && !summary(name)
}
