package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Round-11 pins: the stored-IVF serve path's static partition
  * pruning (s24), the streamed LSH dedup's exact parity with batch
  * d02 (st30), and the stats-driven join-strategy audit (sk07). */
class Round11Spec extends SparkSpec {

  // ------------------------------------------ s24 stored IVF serve
  test("s24 serve scan: a cid IN (...) probe prunes posting " +
    "partitions STATICALLY — unprobed lists' files are never opened") {
    val scan = queries.Similarity.storedIvfServeScan(spark, sfDir)
    scan.collect() // force planning + partition listing
    val plan = scan.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a parquet file scan")
    val f = scans.head
    assert(f.partitionFilters.nonEmpty,
      "cid filter must land in partitionFilters (static pruning), " +
        s"got data filters only: ${f.dataFilters}")
    val selected = f.selectedPartitions.partitionCount
    val total = queries.Similarity.annStoredIvfPostingCount(spark, sfDir)
    assert(selected == 2,
      s"probe of {0,1} must select exactly 2 partition dirs, " +
        s"got $selected of $total")
    assert(total > 2, s"index must have >2 posting lists, got $total")
  }

  test("s24 serve results == in-plan s04 IVF results, bit for bit") {
    val served = sortedRows(queries.Similarity.annStoredIvf(spark, sfDir)
      .select("query_id", "neighbor_id", "rank"))
    val inPlan = sortedRows(queries.Similarity.annIvf(spark, sfDir)
      .select("query_id", "neighbor_id", "rank"))
    assert(served == inPlan)
    assert(served.nonEmpty)
  }

  // ------------------------------------------- st30 streamed LSH
  test("st30: streamed LSH pair set == batch d02 output exactly " +
    "(ids and estimated Jaccard), and planted pairs cross batches") {
    val streamed = queries.Streaming.lshDedupStreamed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val batch = queries.Dedup.dedupMinhashLsh(spark, sfDir)
      .select("a", "b", "est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; " +
        s"batch-only: ${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
    // the planted copies (id + 1e6 ≡ +1 mod 7) arrive in a different
    // micro-batch than their originals, so at least one matched pair
    // was decided by the cross-batch ListState path
    val crossBatch = streamed.exists { case (a, b, _) =>
      a % 7 != b % 7
    }
    assert(crossBatch, "no pair spans two micro-batches — the " +
      "cross-batch state path went unexercised")
  }

  // ------------------------------------------------ sk07 CBO audit
  test("sk07: every audited join executed with the stats-chosen " +
    "strategy, and the decision flips with table size") {
    val rows = queries.Sketches.cboStrategy(spark, sfDir).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("plan_matches")),
        s"${r.getString(0)}: decided ${r.getString(3)} but executed " +
          r.getString(r.fieldIndex("executed_join")))
    }
    val decisions = rows.map(r =>
      r.getString(0) -> r.getString(r.fieldIndex("decision"))).toMap
    // at sf0.001 nation (25) is always broadcastable; lineitem is the
    // biggest table so its pair must never broadcast the big side
    assert(decisions("nation-customer") == "broadcast_nation")
  }
}
