package graft

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Round-16: the compact bench line. A key missing from the
  * driver-parsed line reads as a dropped query (gr11 in r15), so the
  * line carries every [[Bench.driverKeys]] entry and
  * [[Bench.compactLine]] reports a lost key or an overflow, which a
  * full bench run turns into a non-zero exit. These tests run that
  * same builder WITHOUT running a bench.
  */
class Round16Spec extends AnyFunSuite {

  // Independent copy of the 63 keys on the driver-parsed line of
  // BENCH_r16.json and BENCH_r16_c8.json: the 61 keys tracked since
  // round 15, then st40 and gr12. Deliberately NOT derived from
  // Bench.driverKeys: if someone removes or reorders one of these in
  // Bench.scala, this list catches it.
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
    "s26_hybrid_rrf", "s27_ann_filtered", "gr11_label_propagation",
    "st40_family_rebuild", "gr12_modularity")

  /** A full run's results: the given driver values plus filler rows up
    * to `nQueries` entries (filler never reaches the line). */
  private def fullRun(values: Map[String, Double],
      nQueries: Int): Map[String, Double] =
    values ++ (values.size until nQueries).map(i => s"filler_$i" -> 0.01)

  private val worstControls = Bench.controlJson(12.34, 12.34, 12.34,
    12.34, 1234.56)

  test("the driver-tracked keys equal Bench.driverKeys, in order") {
    assert(driverTracked.size === 63)
    assert(Bench.driverKeys === driverTracked)
  }

  test("guaranteed prefix survives worst-case serialization and the " +
    "line fits the driver's 2000-char stdout tail") {
    // Every value under 10 s at its widest (4 chars), the only two
    // rows over 10 s on the r14-r16 driver lines (a03, st40) at 6
    // chars, a 7-char total, 5-char controls, a 4-digit
    // normalized_total, 3-digit n_queries and a 30-char sf path. With
    // every value at 5 chars the line would be ~2050 chars; a host
    // that slow is caught by the runtime check instead.
    val values = driverTracked.map(k => k -> 9.99).toMap ++ Map(
      "a03_bench_generate_mutate_100m" -> 123.45,
      "st40_family_rebuild" -> 123.45)
    val (line, problems) = Bench.compactLine(fullRun(values, 353),
      1234.56, "/" + "d" * 29, 32, 3, worstControls, "bench.json")
    assert(problems.isEmpty, problems)
    assert(line.length <= 1999, s"line is ${line.length} chars")
    val parsed = new ObjectMapper().readTree(line)
    assert(parsed.get("queries").fieldNames().asScala.toSeq ===
      driverTracked)
    assert(parsed.get("n_queries").asInt === 353)
  }

  test("on the r16 driver lines' values the line is byte-identical") {
    val mapper = new ObjectMapper()
    Seq("BENCH_r16.json", "BENCH_r16_c8.json").foreach { name =>
      val tail = mapper.readTree(new File(name)).get("tail").asText
      val old = tail.split("\n").filter(_.nonEmpty).last
      val p = mapper.readTree(old)
      val values = p.get("queries").properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble).toMap
      def d(k: String) = p.get(k).asDouble
      val (line, problems) = Bench.compactLine(
        fullRun(values, p.get("n_queries").asInt), d("value"),
        p.get("sf").asText, p.get("cpus").asInt, p.get("iters").asInt,
        Bench.controlJson(d("control_pre"), d("control_post"),
          d("control_shuffle_pre"), d("control_shuffle_post"),
          d("normalized_total")),
        p.get("full").asText)
      assert(problems.isEmpty, s"$name: $problems")
      assert(line === old, name)
    }
  }

  test("a driver key missing from the results is rejected") {
    val values = driverTracked.map(k => k -> 1.0).toMap -
      "gr11_label_propagation"
    val (line, problems) = Bench.compactLine(fullRun(values, 353), 100.0,
      "sf", 4, 3, worstControls, "bench.json")
    assert(problems ===
      Seq("driver key missing from results: gr11_label_propagation"))
    assert(!line.contains("gr11_label_propagation"))
  }

  test("a line over the driver's 2000-char tail is rejected") {
    val values = driverTracked.map(k => k -> 1.0).toMap
    val sfDir = "/" + "d" * 300
    val (line, problems) = Bench.compactLine(fullRun(values, 353), 100.0,
      sfDir, 4, 3, worstControls, "bench.json")
    assert(line.length + 1 > 2000)
    assert(problems === Seq(s"compact line is ${line.length + 1} chars " +
      "with its newline; the driver reads 2000"))
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
