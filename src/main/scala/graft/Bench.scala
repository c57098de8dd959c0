package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, writes the metrics JSON to bench.json (in
  * SPARK_GRAFT_OUT, or the working dir) and prints it, followed by the
  * compact line of [[driverKeys]] that fits the driver's 2000-char
  * stdout tail — the file is the canonical machine-readable artifact;
  * the compact stdout line is what tail-parsing drivers read. A full
  * run whose compact line loses a driver key or overflows the tail
  * exits 1 after printing both lines. */
object Bench {
  /** The keys of the compact stdout line, in line order: the 61 keys
    * the driver has tracked since round 15, then st40 and gr12 — the
    * 63 keys on the parsed line of BENCH_r16.json and
    * BENCH_r16_c8.json. Every key is serialized on every run; a key
    * missing from the line reads as a dropped query to the driver
    * regardless of bench.json. */
  val driverKeys: Seq[String] = Seq(
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

  /** The driver keeps a 2000-char tail of stdout and parses its last
    * line as JSON, so the compact line plus its newline must fit. */
  val driverTailChars = 2000

  private def r2(d: Double): Double = math.rint(d * 100) / 100

  /** The host-noise control fields shared by bench.json and the
    * compact line. */
  def controlJson(pre: Double, post: Double, shufflePre: Double,
      shufflePost: Double, normalizedTotal: Double): String =
    s""""control_pre":${r2(pre)},"control_post":${r2(post)},""" +
      s""""control_shuffle_pre":${r2(shufflePre)},""" +
      s""""control_shuffle_post":${r2(shufflePost)},""" +
      s""""normalized_total":${r2(normalizedTotal)}"""

  /** The compact stdout line: total, every [[driverKeys]] result at
    * centisecond resolution, then the run fields. Returns the line and
    * what is wrong with it for the driver — a driver key absent from
    * `results`, or a line that overflows [[driverTailChars]] — so a
    * full run can fail instead of losing a key silently. */
  def compactLine(results: Map[String, Double], total: Double,
      sfDir: String, cpus: Int, iters: Int, controls: String,
      full: String): (String, Seq[String]) = {
    val missing = driverKeys.filterNot(results.contains)
    val queries = driverKeys.filter(results.contains)
      .map(k => "\"" + k + "\":" + r2(results(k))).mkString(",")
    val line =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec",""" +
        s""""queries":{$queries},"sf":"$sfDir","cpus":$cpus,""" +
        s""""iters":$iters,"n_queries":${results.size},$controls,""" +
        s""""full":"$full"}"""
    val overflow =
      if (line.length + 1 > driverTailChars)
        Seq(s"compact line is ${line.length + 1} chars with its newline; " +
          s"the driver reads $driverTailChars")
      else Nil
    (line, missing.map(k => s"driver key missing from results: $k") ++
      overflow)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the actual core count — a hardcoded local[32] silently
    // oversubscribes smaller machines and skews timings
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
      .max(1)
    // Measure under the PRODUCTION session (GraftSession: AQE +
    // runtime coalescing + skew-join + Kryo + extensions), not a
    // bare default session — the bench should time the plans users
    // actually get, and AQE coalescing tames the cold-start sweep
    // variance the r5 verdict flagged on q07/st06/st07.
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // session warmup so the first measured query doesn't pay codegen +
    // datasource init (~3s); touches every table's footer too
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    // warm the mutator p-protocol path (stats agg + when()-fold codegen:
    // the first stats-bearing mutator query otherwise pays ~2s of
    // one-time janino/JIT compilation — measured as the r1 m13 outlier)
    locally {
      import org.apache.spark.sql.functions.col
      // 'A'-prefixed values keep the lowercase mutator's eligibility
      // non-zero — digits-only values would fire a spurious p-unmet
      // warning during warmup
      val tiny = spark.range(100)
        .selectExpr("id as __row_id", "concat('A', id) as v")
      graft.mut.Mutators.WithLowercase(seed = 1)(
        tiny, Seq("v"), 0.5, col("__row_id")).count()
      ()
    }

    // fixed-work drift control: pure-CPU, data-independent (200M
    // xxhash64 in whole-stage codegen, one task per core). Its time
    // moves ONLY with ambient host load + JIT state, so every bench
    // carries its own denominator for "ambient drift vs real
    // regression" — the r9 close ran under load-avg ~4 and its
    // +15-20% uniform elevation stayed an argument for lack of one.
    // Measured min-of-iters BEFORE and AFTER the suite (drift can
    // arrive mid-run); ~1s quiet-host reference recorded in
    // BASELINE.md next to each round's close.
    def controlSec(): Double = (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      // bit_xor, not sum: 200M full-range hashes overflow a long sum
      // under ANSI mode
      spark.range(0L, 200000000L, 1L, cpus.toInt)
        .selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    // the SHUFFLE-path twin: fixed-work exchange (20M rows -> 200k
    // groups) through real shuffle write/read + hash aggregation.
    // The r10 forensics found an environment where the codegen
    // control stayed flat while every shuffle/stream-bearing query
    // ran uniformly ~1.3-1.4x slower — only a control that exercises
    // the exchange machinery can tell that mode from a regression.
    def controlShuffleSec(): Double = (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, cpus.toInt)
        .selectExpr("pmod(xxhash64(id), 200000) as k")
        .groupBy("k").count()
        .selectExpr("bit_xor(count)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    // dev-only subset filter (unset for the driver = run everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // controls cost ~2-6 s per pair of passes — real money on a
    // quick dev-subset loop where they can exceed the measured work,
    // free on a full close. Run them on full runs (the driver's
    // shape) or on demand via SPARK_GRAFT_CONTROLS=1; a skipped
    // control records -1, never a fake 0.
    val runControls = only.isEmpty ||
      sys.env.get("SPARK_GRAFT_CONTROLS").contains("1")
    val controlPre = if (runControls) controlSec() else -1.0
    val controlShufflePre = if (runControls) controlShuffleSec() else -1.0
    // n iterations per query, report the per-query MIN: single-shot
    // numbers at sub-second scale are dominated by JIT/janino warmup
    // and run-order noise (the r2 m15/m05 "regressions" were exactly
    // that), and min-of-n is the standard steady-state estimator
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }.map {
      case (name, fn) =>
        val times = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              -1.0
          }
        }
        // any failed iteration poisons the query: report -1, never a
        // (fast) partial success
        name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    val controlPost = if (runControls) controlSec() else -1.0
    val controlShufflePost = if (runControls) controlShuffleSec() else -1.0
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // the control-NORMALIZED headline: suite-seconds per
    // shuffle-control-second (mean of pre/post). BASELINE r10
    // computed ≈270 by hand for two same-code runs whose absolute
    // totals differed 13% with the controls moving in lockstep —
    // emitting it mechanically gives every round a drift-immune
    // number to trend (r11's 208.0 s close normalizes to ~239
    // against its elevated 1.02/0.72 controls, i.e. flat-to-faster).
    val normalizedTotal =
      if (controlShufflePre > 0 && controlShufflePost > 0)
        total / ((controlShufflePre + controlShufflePost) / 2)
      else -1.0
    val controls = controlJson(controlPre, controlPost, controlShufflePre,
      controlShufflePost, normalizedTotal)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""sf":"$sfDir","cpus":$cpus,"iters":$iters,$controls}"""
    // Dev-subset runs write bench_subset.json — a quick
    // SPARK_GRAFT_BENCH_ONLY run must never clobber the canonical
    // full-run artifact (it did, twice, in round 10) — and lack most
    // driver keys by design, so only a full run's line is checked
    val outName = if (only.isEmpty) "bench.json" else "bench_subset.json"
    val (jsonCompact, lineProblems) = compactLine(results.toMap, total,
      sfDir, cpus.toInt, iters, controls, outName)
    val problems = if (only.isEmpty) lineProblems else Nil

    // file first: survives any stdout interleaving from sbt/Spark
    val outDir = sys.env.getOrElse("SPARK_GRAFT_OUT", ".")
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, outName),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outName: ${e.getMessage}")
    }

    // stop Spark BEFORE the JSON lines so no executor-shutdown noise
    // lands after them — the compact JSON must be the last stdout line
    // (the full per-query line is far longer than the driver's tail).
    // That alone was not enough in r13: a maintenance-thread WARN
    // (StateStore) fired from a JVM shutdown hook AFTER the last
    // println and broke the driver's tail parse — so force every
    // logger silent first (shutdown hooks run with the root logger's
    // level; OFF means nothing can land after our line).
    spark.sparkContext.setLogLevel("OFF")
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    spark.stop()
    problems.foreach(p => System.err.println(s"[bench] $p"))
    System.out.flush()
    println(json)
    println(jsonCompact)
    System.out.flush()
    if (problems.nonEmpty) sys.exit(1)
  }
}
