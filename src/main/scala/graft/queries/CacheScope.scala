package graft.queries

import org.apache.spark.sql.DataFrame

/** Release-after-materialize discipline for gated queries that cache
  * intermediate frames.
  *
  * A gated query function returns a LAZY frame, so unpersisting its
  * cached inputs before the caller's action would defeat the cache.
  * Instead the (small, aggregate-sized) final result is materialized
  * eagerly via `localCheckpoint` and the inputs are released right
  * away. Checkpoint blocks are reclaimed by the ContextCleaner when
  * the RDD is garbage-collected — unlike `Dataset.persist` entries,
  * which the CacheManager pins until an explicit unpersist — so over
  * a 246-query single-session suite nothing accumulates in executor
  * storage memory.
  *
  * Only use on results that are orders of magnitude smaller than the
  * cached inputs (final aggregates, top-k frames): the checkpoint
  * holds the full result in block storage until GC.
  *
  * Do not sort a result before checkpointing it. A gate query's row
  * order is presentation: `graft.Verify.write` canonicalizes it and
  * tests sort before comparing, so a sort here is a range-sampling job
  * and a range shuffle that every caller pays for nothing. Sort only
  * where a `limit`, a rank or a consumer reads the order.
  */
object CacheScope {

  /** Materialize `result` eagerly, then unpersist every frame in
    * `cached` (non-blocking). Returns the checkpointed result; its
    * lineage no longer references the released caches. */
  def materializeAndRelease(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    cached.foreach(_.unpersist(false))
    out
  }

  /** Pin a SMALL frame that an invariant/audit plan references more
    * than once. Spark has no common-subexpression reuse across join
    * branches (only exchange reuse, which rarely covers a whole serve
    * or dedup pipeline), so an inv row that crossJoins k checks over
    * the same served result recomputes the serve k times — measured
    * r15-opt: st32's inv paid its two ANN serves 5× between them.
    * A localCheckpoint of the few-hundred-row result makes every
    * reference a block read. Only for KB-scale frames: the checkpoint
    * materializes eagerly and lives until GC. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)
}
