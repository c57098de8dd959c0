package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one way the engine replays a staged parquet source as a
  * stream: a checkpointed `Trigger.AvailableNow` query that consumes
  * the files already in the source, `filesPerTrigger` per
  * micro-batch, and then stops. Every streamed gate row and its
  * builders start through [[start]] and wait through [[await]]. */
object Replay {

  /** Where a replay writes its rows. */
  sealed trait Sink

  /** A parquet file sink at `path`. */
  final case class ToParquet(path: String) extends Sink

  /** A `foreachBatch` function of (micro-batch, batch id). */
  final case class ForEachBatch(f: (DataFrame, Long) => Unit) extends Sink

  /** Start the replay of the parquet files under `src`, read with the
    * DDL `schema`, through `transform`, into `sink`, checkpointed at
    * `ckpt`. The stream is read from `s`, so settings on `s` (or on a
    * session clone passed as `s`) scope to this query. */
  def start(s: SparkSession, schema: String, src: String, ckpt: String,
      sink: Sink, filesPerTrigger: Int = 1,
      transform: DataFrame => DataFrame = identity): StreamingQuery = {
    val out = transform(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(src))
      .writeStream
    (sink match {
      case ToParquet(path) => out.format("parquet").option("path", path)
      case ForEachBatch(f) => out.foreachBatch(f)
    }).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Wait for every query to finish. On the first failure, stop the
    * rest and rethrow: otherwise the exception would leave the
    * sibling queries running in the session. */
  def await(queries: StreamingQuery*): Unit =
    try queries.foreach(_.awaitTermination())
    catch {
      case e: Throwable =>
        queries.foreach(q => try q.stop() catch { case _: Throwable => () })
        throw e
    }
}
