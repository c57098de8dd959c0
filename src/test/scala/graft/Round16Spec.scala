package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16: compact bench line budget math. The r15 gate regression
  * was gr11_label_propagation silently truncated off the driver-parsed
  * compact stdout line when sk14's headline insertion pushed the
  * strict-prefix cut past the budget. These tests pin the invariants
  * WITHOUT running a bench: (1) every driver-tracked key is inside the
  * guaranteed prefix, (2) the guaranteed prefix survives serialization
  * even at worst-case value widths, (3) the whole line fits the
  * driver's 2000-char stdout tail.
  */
class Round16Spec extends AnyFunSuite {

  // Independent copy of the keys the driver has read off the compact
  // line in rounds 14/15 (59 common + sk14 + gr11). Deliberately NOT
  // derived from Bench.headline: if someone removes or reorders one of
  // these in Bench.scala, this list catches it.
  private val driverTracked = Seq(
    "a01_bench_generate_1m", "a02_bench_mutate_1m",
    "q03_top_revenue_orders", "q07_top_orders_per_customer",
    "q13_order_lineitem_smj", "q16_salted_join", "q17_asof_join",
    "d01_dedup_exact", "d02_dedup_minhash_lsh", "d06_dedup_clusters",
    "d08_paragraph_dedup", "d09_semantic_dedup", "q21_range_join",
    "j10_bucketed_join", "j11_dpp_join", "j13_bloom_join",
    "q42_recursive_spine", "q43_lateral_topk",
    "s23_contrastive_triplets", "t37_pretrain_manifest",
    "st21_spend_alerts_streamed", "st25_quota_streamed",
    "st26_attribution_streamed", "st27_attribution_outer_streamed",
    "sk02_hll_overlap", "sk03_quantile_sketch", "sk04_gk_profile",
    "sk05_join_card", "sk06_hll_mv",
    "st28_quantile_profile_streamed", "st29_enrich_streamed",
    "st30_lsh_dedup_streamed", "s24_ann_stored_ivf",
    "sk07_cbo_strategy", "t40_compression_quality",
    "sk08_cbo_sketch", "s25_ann_upsert", "st31_epoch_handoff",
    "sk09_selectivity", "st32_ann_ingest_streamed",
    "t41_lm_perplexity", "sk14_cbo_chain",
    "sk11_cbo_planner", "sk12_cbo_applied", "s29_hybrid_stored",
    "s30_bm25_upserted", "s31_ann_rebalanced", "s32_index_erasure",
    "q45_time_travel", "q46_time_travel_compacted",
    "q47_concurrent_commit", "c16_retractable_mv",
    "st35_bm25_ingest_streamed", "st36_retract_mv_streamed",
    "st37_analyze_streamed", "st38_rebalance_under_ingest",
    "st39_state_erasure", "a03_bench_generate_mutate_100m",
    "s26_hybrid_rrf", "s27_ann_filtered", "gr11_label_propagation")

  test("every driver-tracked key sits inside the guaranteed prefix, " +
    "in Bench.headline order") {
    assert(driverTracked.size === Bench.guaranteedCount)
    assert(Bench.headline.take(Bench.guaranteedCount) === driverTracked)
  }

  test("guaranteed prefix survives worst-case serialization and the " +
    "line fits the driver's 2000-char stdout tail") {
    // worst realistic widths: every value 5 chars ("45.78" — the widest
    // any sf0.1 row has ever measured is a03's 45.78 at 8 cores)
    val worstValues =
      Bench.headline.map(k => k -> 45.78).toMap
    // fixed head/tail sized like a real r15 line, padded pessimistically:
    // head with a 4-digit total, tail with 3-digit n_queries and full
    // control block (the r15 actuals were head 57 + tail 205 = 262)
    val fixedWorst = 270
    val budget = Bench.lineTotalBudget - fixedWorst
    val (qsJson, truncated) =
      Bench.compactQueries(Bench.headline, worstValues, budget)
    val guaranteed = Bench.headline.take(Bench.guaranteedCount).toSet
    val lostGuaranteed = truncated.filter(guaranteed.contains)
    assert(lostGuaranteed.isEmpty,
      s"guaranteed driver-line keys truncated: $lostGuaranteed")
    driverTracked.foreach(k =>
      assert(qsJson.contains("\"" + k + "\":"),
        s"guaranteed key $k missing from serialized line"))
    // whole line must fit the 2000-char tail with its newline
    assert(fixedWorst + qsJson.length + 1 <= 2000)
  }

  test("strict priority-prefix: serializer stops at the first " +
    "over-budget entry instead of back-filling short keys") {
    val vals = Map("aaaa_long_key_that_overflows" -> 1.0, "b" -> 1.0)
    val order = Seq("aaaa_long_key_that_overflows", "b")
    val (qsJson, truncated) = Bench.compactQueries(order, vals, 10)
    assert(qsJson.isEmpty)
    assert(truncated === order)
  }

  test("st40_family_rebuild bypasses the stream memo and reproduces " +
    "st21's committed result exactly") {
    val spark = TestSpark.spark
    val dir = TestSpark.sfDir
    // (user_id, event_id) need not be a unique key, so compare whole
    // rows as multisets: every distinct row with its exact
    // multiplicity, collected before the next call rewrites the sinks
    def counted(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(df.columns.map(org.apache.spark.sql.functions.col): _*)
        .count().collect().toSet
    // memoized path first (populates the family sinks)...
    val memoized = counted(queries.Streaming.spendAlertsStreamed(spark, dir))
    // ...then the rebuild row, which drops the two family entries and
    // re-runs their streams from scratch; results must be identical
    val rebuilt = counted(queries.Streaming.familyRebuild(spark, dir))
    assert(rebuilt === memoized)
    assert(rebuilt.nonEmpty)
  }
}
