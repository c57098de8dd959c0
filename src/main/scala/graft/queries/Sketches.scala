package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Artifacts

/** Count-min sketch heavy hitters — the streaming-friendly frequency
  * sketch (Cormode & Muthukrishnan 2005). The sketch build is ONE
  * partial-agg shuffle onto a FIXED d×w key space (4×1024 cells —
  * collapses to ≤4096 rows per task regardless of corpus size), and
  * point queries join the candidate set against the tiny materialized
  * sketch via broadcast. At 100 TB the sketch stays 4096 cells; only
  * the map-side scan grows.
  *
  * The CMS overestimate-only property (est ≥ true, always — every
  * collision adds, nothing subtracts) is deterministic given the data
  * and seeds, which makes it an exact invariant the DuckDB oracle can
  * check: the oracle recomputes true counts and asserts the flags the
  * Spark side derived from the sketch.
  */
object Sketches {

  private val D = 4
  private val W = 1024
  private val Seeds = Seq(1, 2, 3, 4)
  private val TopK = 30

  private def tokenStream(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")

  /** The d×w sketch: every token occurrence lands in one bucket per
    * hash row. xxhash64 seeded by row index keeps the d rows
    * independent. */
  private def sketch(toks: DataFrame): DataFrame =
    toks.select(posexplode(array(Seeds.map(sd =>
        pmod(xxhash64(lit(sd), col("token")), lit(W))): _*)))
      .toDF("row", "bucket")
      .groupBy("row", "bucket").agg(count(lit(1)).as("c"))

  /** t12 — heavy hitters: CMS point-query estimates for the exact
    * top-K tokens, next to their true counts. est ≥ true always; at
    * these scales the 4-row min keeps est within a few counts of
    * true. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenStream(s, dir)
    val top = toks.groupBy("token").agg(count(lit(1)).as("n_true"))
      .orderBy(col("n_true").desc, col("token")).limit(TopK)
    val probes = top.select(col("token"), col("n_true"),
      posexplode(array(Seeds.map(sd =>
        pmod(xxhash64(lit(sd), col("token")), lit(W))): _*)))
      .toDF("token", "n_true", "row", "bucket")
    probes.join(broadcast(sketch(toks)), Seq("row", "bucket"))
      .groupBy("token", "n_true").agg(min(col("c")).as("est"))
      .orderBy(col("n_true").desc, col("token"))
  }

  /** t12's invariant projection, fully oracle-checked: the oracle
    * recomputes the exact top-K and asserts the deterministic CMS
    * contract — the sketch never underestimates. */
  def cmsInv(s: SparkSession, dir: String): DataFrame =
    heavyHitters(s, dir).select(col("token"), col("n_true"),
      (col("est") >= col("n_true")).as("overestimate_ok"))

  val cmsInvSql: String = s"""
    SELECT t AS token, count(*) AS n_true, TRUE AS overestimate_ok
    FROM (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents)
    WHERE t <> ''
    GROUP BY t
    ORDER BY n_true DESC, t
    LIMIT $TopK"""

  // ------------------------------------------------ KMV set sketches
  private[queries] val KmvK = 64
  // error contracts for the inv oracle: KMV σ ≈ 1/√(k−2) ≈ 12.7% at
  // k=64; distinct estimates bound at 35% (≈2.7σ) RELATIVE TO THE
  // ESTIMATED SET. The inclusion–exclusion intersection is different:
  // est_inter = est_a + est_b − est_union, so its ABSOLUTE error is
  // the compounded error of three estimates that each scale with
  // their own (union-sized) sets — ~σ·union·√3 ≈ 0.22·union — and is
  // UNRELATED to the true intersection size (a near-disjoint pair of
  // big sets has exact_inter ≈ 0 but full-sized absolute error). The
  // intersection bound is therefore relative to exact_UNION (50% ≈
  // 2.3σ·√3), never to exact_inter. Deterministic given
  // (data, xxhash64), but the driver REDRAWS testdata between rounds,
  // so the margins are deliberately generous rather than fitted to
  // one draw.
  private val DistinctBound = 0.35
  private val InterBound = 0.50

  /** Per-event-type KMV sketches + pairwise audience-overlap
    * estimates next to exact truth. The sketch build is the 100 TB
    * path: one partial-agg shuffle whose state is ≤k longs per group
    * regardless of user cardinality ([[graft.expr.KmvSketchAgg]]);
    * the estimator then runs on 5 collected sketches (≤ k longs each
    * — small-side by construction, like every sketch readout). Union
    * = merge-and-trim of two sketches, distinct = (k−1)/u(kth min),
    * intersection = inclusion–exclusion floored at 0. The exact
    * columns exist for the audit contract; a production pipeline at
    * a scale where exact distinct is unaffordable ships only the
    * sketches — they are mergeable and storable (c09's MV pattern
    * applies unchanged). Estimates are engine-specific (xxhash64) →
    * rows-only; sk01_kmv_inv carries the oracle-checked contract. */
  def kmvOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.expr.KmvSketchAgg._
    val ut = Relational.table(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val sketches = Relational.table(s, dir, "events")
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .groupBy("event_type").agg(kmvSketch(col("h"), KmvK).as("sk"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val est = sketches.keys.toSeq.sorted.combinations(2).map {
      case Seq(ta, tb) =>
        val (a, b) = (sketches(ta), sketches(tb))
        val ea = estimateDistinct(a, KmvK)
        val eb = estimateDistinct(b, KmvK)
        val eu = estimateDistinct(unionSketch(a, b, KmvK), KmvK)
        val ei = math.max(0.0, ea + eb - eu)
        (ta, tb, math.round(ea), math.round(eb), math.round(eu),
          math.round(ei))
    }.toSeq
    import s.implicits._
    val estDf = est.toDF("ta", "tb", "est_a", "est_b", "est_union",
      "est_inter")
    estDf.join(exactPairs(s, ut), Seq("ta", "tb"))
      .select(col("ta"), col("tb"), col("exact_a"), col("exact_b"),
        col("exact_union"), col("exact_inter"), col("est_a"),
        col("est_b"), col("est_union"), col("est_inter"))
      .orderBy("ta", "tb")
  }

  /** Exact pairwise distinct/union/intersection truth over the
    * (type, user) distinct pairs — cross-pairs the (tiny) type
    * domain so zero-overlap pairs survive with 0. */
  private def exactPairs(s: SparkSession, ut: DataFrame): DataFrame = {
    val n = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val types = ut.select("event_type").distinct()
    val pairs = types.toDF("ta")
      .crossJoin(types.toDF("tb")).filter(col("ta") < col("tb"))
    val inter = ut.toDF("ta", "u")
      .join(ut.toDF("tb", "u2"),
        col("u") === col("u2") && col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("i"))
    pairs.join(inter, Seq("ta", "tb"), "left")
      .join(n.toDF("ta", "na"), Seq("ta"))
      .join(n.toDF("tb", "nb"), Seq("tb"))
      .select(col("ta"), col("tb"), col("na").as("exact_a"),
        col("nb").as("exact_b"),
        (col("na") + col("nb") - coalesce(col("i"), lit(0L)))
          .as("exact_union"),
        coalesce(col("i"), lit(0L)).as("exact_inter"))
  }

  /** sk01's invariant projection, fully oracle-checked: exact truth
    * plus the error-contract flags the Spark side derived from the
    * sketches — the oracle recomputes the truth and asserts TRUE. */
  def kmvInv(s: SparkSession, dir: String): DataFrame = {
    // `ref` is the set whose size the error actually scales with —
    // the estimated set itself for distinct counts, the UNION for the
    // inclusion–exclusion intersection (see the bound comment above)
    def ok(est: String, exact: String, ref: String, bound: Double) =
      (abs(col(est) - col(exact)) <=
        ceil(col(ref) * bound) + lit(1L)).as(s"ok_$est")
    kmvOverlap(s, dir).select(col("ta"), col("tb"),
      col("exact_a"), col("exact_b"), col("exact_union"),
      col("exact_inter"),
      ok("est_a", "exact_a", "exact_a", DistinctBound),
      ok("est_b", "exact_b", "exact_b", DistinctBound),
      ok("est_union", "exact_union", "exact_union", DistinctBound),
      ok("est_inter", "exact_inter", "exact_union", InterBound))
  }

  val kmvInvSql: String = """
    WITH ut AS (
      SELECT DISTINCT event_type, user_id FROM events),
    n AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
    types AS (SELECT DISTINCT event_type FROM events),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM types a JOIN types b ON a.event_type < b.event_type),
    inter AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
        count(*) AS i
      FROM ut a JOIN ut b ON a.user_id = b.user_id
        AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.ta, p.tb,
      CAST(na.n AS BIGINT) AS exact_a,
      CAST(nb.n AS BIGINT) AS exact_b,
      CAST(na.n + nb.n - coalesce(i.i, 0) AS BIGINT) AS exact_union,
      CAST(coalesce(i.i, 0) AS BIGINT) AS exact_inter,
      TRUE AS ok_est_a, TRUE AS ok_est_b,
      TRUE AS ok_est_union, TRUE AS ok_est_inter
    FROM pairs p
    LEFT JOIN inter i ON p.ta = i.ta AND p.tb = i.tb
    JOIN n na ON p.ta = na.event_type
    JOIN n nb ON p.tb = nb.event_type
    ORDER BY p.ta, p.tb"""

  // --------------------------------------------- HLL (Datasketches)
  /** lgConfigK = 12 → 4 KB sketch, rel. std. error ≈ 1.04/√2¹² ≈
    * 1.6%. Inv margins are multiples of σ with redraw slack, same
    * sizing logic as the KMV bounds above: distinct at 10% (≈6σ of
    * the estimated set), inclusion–exclusion intersection at 15% of
    * the UNION (≈3σ·√3 compounded — see the KMV comment for why the
    * intersection error scales with the union, never with the
    * intersection). */
  private val HllLgK = 12
  private val HllDistinctBound = 0.10
  private val HllInterBound = 0.15

  /** sk02 — audience overlap on Spark's built-in Datasketches HLL
    * (`hll_sketch_agg` / `hll_union` / `hll_sketch_estimate`): the
    * platform twin of sk01's custom KMV aggregate. Same contract —
    * mergeable fixed-size state (4 KB at lgK=12) per group at ANY
    * cardinality — but the whole estimator stays IN-PLAN: sketches
    * pair via a crossJoin of the 5-row per-type sketch table
    * (self-join of an aggregate, trivially broadcast) and union /
    * estimate / inclusion–exclusion are all column expressions, so
    * nothing is collected to the driver. This is the shape a 100 TB
    * overlap matrix runs: per-group sketch build is one
    * partial-aggregated shuffle; the pairwise stage's input is
    * #groups rows, independent of corpus size. KMV keeps two things
    * HLL lacks — the sketch IS the k minimum hashes (auditable) and
    * set ops beyond union come from first principles — while HLL
    * buys 8× tighter error per byte; the engine ships both.
    * Estimates are engine-specific (Datasketches hash) → rows-only;
    * sk02_hll_inv carries the oracle-checked error contract. */
  def hllOverlap(s: SparkSession, dir: String): DataFrame = {
    val ut = Relational.table(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    // materialize the (tiny) per-type sketch table ONCE before the
    // pairwise self-join — a lazy frame would rebuild the corpus
    // aggregation on BOTH crossJoin sides (two full scans, visible
    // as twin Scan nodes in the un-checkpointed plan)
    val sk = Relational.table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(HllLgK)).as("sk"))
      .localCheckpoint()
    val pairs = sk.select(col("event_type").as("ta"), col("sk").as("ska"))
      .crossJoin(sk.select(col("event_type").as("tb"),
        col("sk").as("skb")))
      .filter(col("ta") < col("tb"))
      .select(col("ta"), col("tb"),
        hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb")))
          .as("est_union"))
      .withColumn("est_inter",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
    pairs.join(exactPairs(s, ut), Seq("ta", "tb"))
      .select(col("ta"), col("tb"), col("exact_a"), col("exact_b"),
        col("exact_union"), col("exact_inter"), col("est_a"),
        col("est_b"), col("est_union"), col("est_inter"))
      .orderBy("ta", "tb")
  }

  /** sk02's invariant projection, fully oracle-checked — kmvInv's
    * contract at HLL's tighter bounds. */
  def hllInv(s: SparkSession, dir: String): DataFrame = {
    def ok(est: String, exact: String, ref: String, bound: Double) =
      (abs(col(est) - col(exact)) <=
        ceil(col(ref) * bound) + lit(1L)).as(s"ok_$est")
    hllOverlap(s, dir).select(col("ta"), col("tb"),
      col("exact_a"), col("exact_b"), col("exact_union"),
      col("exact_inter"),
      ok("est_a", "exact_a", "exact_a", HllDistinctBound),
      ok("est_b", "exact_b", "exact_b", HllDistinctBound),
      ok("est_union", "exact_union", "exact_union", HllDistinctBound),
      ok("est_inter", "exact_inter", "exact_union", HllInterBound))
  }

  /** Same exact-truth replay as kmvInvSql; only the flag margins the
    * Spark side derived differ, and the oracle asserts them TRUE. */
  val hllInvSql: String = kmvInvSql

  // ------------------------------------- sk03 quantile sketch (GK)
  /** approx_percentile accuracy knob: rank error ≤ n/QAcc. */
  private val QAcc = 1000

  /** The event-value stream in exact integer micros (the st21
    * convention), the domain every quantile below lives in. */
  private def valueMicros(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "events")
      .select(col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
          * 1000000).cast("long").as("m"))

  /** sk03 — per-type value quantiles via Spark's Greenwald–Khanna
    * `approx_percentile`, completing the sketch trio the engine
    * ships: cardinality (sk01 KMV / sk02 HLL), frequency (t22
    * Misra-Gries / t12 CMS), and now QUANTILES — the three summaries
    * a 100 TB profiling pass actually computes. GK state is
    * O(QAcc·log n) per group regardless of input size, merges across
    * partials, and guarantees the returned element's RANK is within
    * n/[[QAcc]] of the target — the contract sk03_quantile_inv
    * checks. Estimates depend on the merge tree → rows-only;
    * the inv row carries the oracle-checked contract. */
  def quantileSketch(s: SparkSession, dir: String): DataFrame =
    valueMicros(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("m"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(QAcc)).as("est"))
      .select(col("event_type"), col("n"),
        col("est").getItem(0).as("est_q50"),
        col("est").getItem(1).as("est_q90"),
        col("est").getItem(2).as("est_q99"))
      .orderBy("event_type")

  /** sk03's invariant projection, fully oracle-checked: exact
    * discrete quantiles (value at rank ⌈q·n⌉ — pure integer rank
    * arithmetic both engines replay) plus the GK rank-error flags.
    * The estimate is an actual input element, so its rank membership
    * test is two counting aggregates: ∃ rank r ∈ [#{m<est}+1, #{m≤est}]
    * with |r − ⌈q·n⌉| ≤ n/QAcc  ⇔  #{m≤est} ≥ target − ε  AND
    * #{m<est} + 1 ≤ target + ε. The exact columns are the audit
    * contract (like sk01's): a production profile at sketch scale
    * ships only the GK summaries; the per-type global sort behind
    * the exact ranks is gate-affordable, not the 100 TB path. */
  def quantileInv(s: SparkSession, dir: String): DataFrame =
    quantileInvOn(s, dir, quantileSketch(s, dir)
      .select("event_type", "n", "est_q50", "est_q90", "est_q99"),
      epsFactor = 1)

  /** The rank-band audit for ANY (event_type, n, est_q50/q90/q99)
    * estimate frame: exact discrete quantiles plus flags asserting
    * each estimate's rank is within epsFactor·(n/[[QAcc]])+1 of its
    * target. epsFactor 1 = the single-pass GK guarantee (sk03);
    * sk04's merged-state audit runs at 2 — merge preserves the ε
    * guarantee post-SPARK-32908, but the audit band deliberately
    * carries headroom rather than fitting the tightest claim. */
  private[queries] def quantileInvOn(s: SparkSession, dir: String,
      estFrame: DataFrame, epsFactor: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val est = estFrame.localCheckpoint() // #event_types rows
    val v = valueMicros(s, dir)
    // `div`, not `/`: Spark's `/` on longs is DOUBLE division, which
    // would shift every rank threshold by 0.5 vs DuckDB's `//`
    def target(qNum: Int, qDen: Int) =
      expr(s"(n * $qNum + ${qDen - 1}) div $qDen") // ceil(q*n), integer
    val eps = expr(s"$epsFactor * (n div $QAcc)") + lit(1L)
    def okFlag(q: String, qNum: Int, qDen: Int) = {
      val k = target(qNum, qDen)
      (col(s"le_$q") >= k - eps && col(s"lt_$q") + 1 <= k + eps)
        .as(s"ok_$q")
    }
    val ranks = v.join(broadcast(est), "event_type")
      .groupBy("event_type")
      .agg(
        sum(when(col("m") < col("est_q50"), 1L).otherwise(0L)).as("lt_q50"),
        sum(when(col("m") <= col("est_q50"), 1L).otherwise(0L)).as("le_q50"),
        sum(when(col("m") < col("est_q90"), 1L).otherwise(0L)).as("lt_q90"),
        sum(when(col("m") <= col("est_q90"), 1L).otherwise(0L)).as("le_q90"),
        sum(when(col("m") < col("est_q99"), 1L).otherwise(0L)).as("lt_q99"),
        sum(when(col("m") <= col("est_q99"), 1L).otherwise(0L)).as("le_q99"))
    val byM = Window.partitionBy("event_type").orderBy("m")
    val exact = v
      .withColumn("rn", row_number().over(byM).cast("long"))
      .join(broadcast(est.select(col("event_type"), col("n"))),
        "event_type")
      .groupBy("event_type")
      .agg(
        min(when(col("rn") >= expr("(n + 1) div 2"), col("m")))
          .as("exact_q50"),
        min(when(col("rn") >= expr("(n * 9 + 9) div 10"), col("m")))
          .as("exact_q90"),
        min(when(col("rn") >= expr("(n * 99 + 99) div 100"), col("m")))
          .as("exact_q99"))
    est.join(exact, "event_type").join(ranks, "event_type")
      .select(col("event_type"), col("n"), col("exact_q50"),
        col("exact_q90"), col("exact_q99"),
        okFlag("q50", 1, 2), okFlag("q90", 9, 10), okFlag("q99", 99, 100))
      .orderBy("event_type")
  }

  val quantileInvSql: String = """
    WITH v AS (
      SELECT event_type,
        CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
      FROM events),
    n AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
    r AS (
      SELECT event_type, m,
        row_number() OVER (PARTITION BY event_type ORDER BY m) AS rn
      FROM v)
    SELECT n.event_type, n.n,
      (SELECT min(m) FROM r WHERE r.event_type = n.event_type
         AND rn >= (n.n + 1) // 2) AS exact_q50,
      (SELECT min(m) FROM r WHERE r.event_type = n.event_type
         AND rn >= (n.n * 9 + 9) // 10) AS exact_q90,
      (SELECT min(m) FROM r WHERE r.event_type = n.event_type
         AND rn >= (n.n * 99 + 99) // 100) AS exact_q99,
      TRUE AS ok_q50, TRUE AS ok_q90, TRUE AS ok_q99
    FROM n
    ORDER BY n.event_type"""

  // --------------------------- sk04 stored + merged GK state (MV)
  /** sk04 — the STORED-STATE half of the quantile story (the r9
    * verdict's task 6): sk03 proves `percentile_approx` computes GK
    * quantiles in-plan, but its partial state never leaves the plan —
    * the 100 TB profiling pattern (and the c08 incremental-MV
    * discipline) wants per-epoch sketch state PERSISTED and MERGED
    * across epochs so later questions never rescan the corpus. This
    * query runs that pattern end to end, for real: one pass builds a
    * per-(event_type, week) [[graft.expr.GkSketchAgg]] state (binary,
    * O((1/ε)log εn) bytes per group), WRITES the state table to a
    * parquet sink, READS it back, and answers the per-type quantile
    * profile purely from stored bytes — `gk_merge` across epochs +
    * `gk_estimate`/`gk_count` readout; the events table is touched
    * exactly once. At 100 TB the state table is #groups·KBs — the
    * corpus-independent artifact a daily profiling job checkpoints.
    * Estimates depend on the merge tree → rows-only;
    * sk04_gk_profile_inv carries the oracle-checked rank contract
    * (2ε band — see [[quantileInvOn]]) and Round10Spec pins
    * epoch-merge against the single-pass whole-corpus estimate. */
  def gkProfile(s: SparkSession, dir: String): DataFrame = {
    import graft.expr.GkSketchAgg._
    val v = Relational.table(s, dir, "events")
      .select(col("event_type"), date_trunc("week", col("ts")).as("epoch"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
          * 1000000).cast("long").as("m"))
    val perEpoch = v.groupBy("event_type", "epoch")
      .agg(gkSketch(col("m"), QAcc).as("state"))
    // persist through a REAL sink and read back — the round-trip is
    // the point (stored bytes, not in-plan partials)
    val path = Artifacts.root(s, "sk04", dir).getAbsolutePath
    perEpoch.write.mode("overwrite").parquet(path)
    s.read.parquet(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_epochs"), gkMerge(col("state")).as("st"))
      .select(col("event_type"), col("n_epochs"),
        gkCount(col("st")).as("n"),
        gkEstimate(col("st"), 0.5).cast("long").as("est_q50"),
        gkEstimate(col("st"), 0.9).cast("long").as("est_q90"),
        gkEstimate(col("st"), 0.99).cast("long").as("est_q99"))
      .orderBy("event_type")
  }

  /** sk04's invariant projection — [[quantileInvOn]] at the merged-
    * state band; output shape (and therefore oracle) identical to
    * sk03's inv. */
  def gkProfileInv(s: SparkSession, dir: String): DataFrame =
    quantileInvOn(s, dir, gkProfile(s, dir)
      .select("event_type", "n", "est_q50", "est_q90", "est_q99"),
      epsFactor = 2)

  /** Same exact-truth replay as sk03's: the flags differ only in the
    * band the Spark side derived, and the oracle asserts them TRUE. */
  val gkProfileInvSql: String = quantileInvSql

  // ------------------- sk06 stored + merged HLL state (epoch MV)
  /** sk06 — sk04's stored-state pattern for CARDINALITY: per-(type,
    * week) HLL sketches built in one pass, PERSISTED to a parquet
    * sink, read back and merged per type with `hll_union_agg` — the
    * platform's own Datasketches bytes as the stored artifact, so a
    * daily audience profile is #groups·4 KB and any later cross-epoch
    * distinct question (month, quarter, lifetime) is a merge over
    * stored state, never a rescan. Entirely built-in functions: the engine
    * contribution is the MV discipline (the c08/sk04 shape), pinned
    * here end to end. Estimates are engine-specific → rows-only;
    * sk06_hll_mv_inv carries the oracle-checked error contract at
    * sk02's bounds (±10% ≈ 6σ at lgK=12 with redraw slack). */
  def hllMv(s: SparkSession, dir: String): DataFrame = {
    val perEpoch = Relational.table(s, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("week", col("ts")).as("epoch"))
      .agg(hll_sketch_agg(col("user_id"), lit(HllLgK)).as("sk"))
    val path = Artifacts.root(s, "sk06", dir).getAbsolutePath
    perEpoch.write.mode("overwrite").parquet(path)
    s.read.parquet(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_epochs"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(true)))
          .as("est_distinct_users"))
      .orderBy("event_type")
  }

  /** sk06's invariant projection, fully oracle-checked: exact
    * per-type distinct users (DuckDB recomputes) + the error flag the
    * Spark side derived from the merged stored state. */
  def hllMvInv(s: SparkSession, dir: String): DataFrame = {
    val exact = Relational.table(s, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_distinct_users"))
    hllMv(s, dir).join(exact, "event_type")
      .select(col("event_type"), col("n_epochs"),
        col("exact_distinct_users"),
        (abs(col("est_distinct_users") - col("exact_distinct_users")) <=
          ceil(col("exact_distinct_users") * HllDistinctBound) + lit(1L))
          .as("ok_est"))
      .orderBy("event_type")
  }

  val hllMvInvSql: String = """
    SELECT event_type,
      CAST(count(DISTINCT date_trunc('week', ts)) AS BIGINT) AS n_epochs,
      CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
      TRUE AS ok_est
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  // ----------------------- sk05 sketch-based join cardinality (CBO)
  private[graft] val JoinK = 1024
  /** |est − exact| bound for the FK-join estimate: KMV at k=1024 is
    * ~3% σ per distinct estimate; the product-form estimator
    * compounds three of them plus the (here exact) uniformity
    * premise — 50% is ≥10σ with redraw slack, the sk01 sizing
    * discipline. */
  private val JoinBoundPct = 50L
  /** Slack for the lower-bound contract: est ≤ exact·(1+margin) —
    * the margin covers only sketch error on d (the bound itself is
    * an inequality, not an estimate). */
  private val LbMarginPct = 10L

  /** sk05 — JOIN-SIZE ESTIMATION from per-table sketch statistics,
    * the cost-based-optimizer capability the sketch family feeds in a
    * real engine: for a join A ⋈ B on key k, estimate
    * |A ⋈ B| ≈ d_inter · (n_A/d_A) · (n_B/d_B) from exactly the
    * artifacts a stats collection pass stores — row counts and
    * per-column KMV sketches (k=1024, one partial-agg'd scan per
    * table). The ANALYZE split is executed for real: the artifacts
    * are WRITTEN to a stats table (parquet; a production engine's
    * catalog) and the estimator answers from the STORED stats alone —
    * ≤k-long readouts, zero data access (the exact_join columns are
    * the gate's audit contract, not part of the estimation path).
    * Two audited pairs:
    *
    *  - orders ⋈ lineitem on orderkey (the FK join every TPC-H plan
    *    costs): one side's multiplicity is exactly 1, so the
    *    uniformity premise is EXACT and the estimate must land within
    *    sketch error of truth — flagged at ±[[JoinBoundPct]]%.
    *  - events ⋈ events on user_id (the skewed self-join): the
    *    uniform-multiplicity estimate n²/d is a CAUCHY-SCHWARZ LOWER
    *    BOUND on Σc² — est ≤ exact always, with equality iff uniform.
    *    The flag pins that inequality (+sketch slack); `skew_x1000` =
    *    exact·1000 div ⌊est⌋ reports how far real skew pushes truth
    *    above the uniform assumption — the number that justifies
    *    histograms/heavy-hitter sketches beyond distinct counts in
    *    any real CBO.
    *
    * Estimates are engine-specific (xxhash64 KMV) → rows-only;
    * sk05_join_card_inv recomputes exact truth (the self-join size
    * as Σc² over a groupBy — never materializing the join) and
    * asserts the flags TRUE. */
  /** The sk05 product-form join-size estimator from two stored
    * (row count, KMV sketch) stats entries: |A ⋈ B| ≈
    * d_inter · (n_A/d_A) · (n_B/d_B) — shared by sk05 (cardinality
    * audit) and sk10 (join ordering). */
  private[graft] def estJoinFromStats(na: Long, a: Array[Long],
      nb: Long, b: Array[Long]): Double = {
    import graft.expr.KmvSketchAgg._
    val da = estimateDistinct(a, JoinK)
    val db = estimateDistinct(b, JoinK)
    val du = estimateDistinct(unionSketch(a, b, JoinK), JoinK)
    val di = math.max(0.0, da + db - du)
    di * (na / da) * (nb / db)
  }

  def joinCardinality(s: SparkSession, dir: String): DataFrame = {
    import graft.expr.KmvSketchAgg._
    import s.implicits._
    // the ANALYZE pass: one scan per table collects (n, kmv sketch)
    // per join column; the artifacts are PERSISTED as a stats table
    // (the sk04 discipline — a production engine stores these in its
    // catalog and re-ANALYZEs incrementally), and the estimator below
    // reads ONLY the stored stats, never the data
    val statsPath = Artifacts.root(s, "sk05", dir).getAbsolutePath
    Seq(("orders", "o_orderkey"), ("lineitem", "l_orderkey"),
      ("events", "user_id"))
      .map { case (table, key) =>
        Relational.table(s, dir, table)
          .agg(count(lit(1)).as("n"),
            kmvSketch(xxhash64(col(key)), JoinK).as("sk"))
          .select(lit(table).as("tbl"), lit(key).as("col"),
            col("n"), col("sk"))
      }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(statsPath)
    val stored = s.read.parquet(statsPath).collect()
      .map(r => r.getString(0) -> (r.getLong(2),
        r.getSeq[Long](3).toArray)).toMap
    val (nO, skO) = stored("orders")
    val (nL, skL) = stored("lineitem")
    val (nE, skE) = stored("events")
    val estOL = estJoinFromStats(nO, skO, nL, skL)
    val estEE = estJoinFromStats(nE, skE, nE, skE) // self: inter = distinct
    val exactOL = Relational.table(s, dir, "orders").select("o_orderkey")
      .join(Relational.table(s, dir, "lineitem").select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey")).count()
    val exactEE = Relational.table(s, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c"))).collect()(0).getLong(0)
    Seq(
      ("orders-lineitem", nO, nL, exactOL, estOL.toLong,
        math.abs(estOL - exactOL) <=
          exactOL * JoinBoundPct / 100.0 + JoinK,
        0L),
      ("events-events", nE, nE, exactEE, estEE.toLong,
        estEE <= exactEE * (100 + LbMarginPct) / 100.0,
        exactEE * 1000L / math.max(1L, estEE.toLong)))
      .toDF("pair", "n_a", "n_b", "exact_join", "est_join", "ok",
        "skew_x1000")
      .orderBy("pair")
  }

  /** sk05's invariant projection — exact truth + the contract flags,
    * fully oracle-checked (the kmvInv discipline: DuckDB recomputes
    * the joins and asserts the flags the Spark side derived). The
    * skew report column stays engine-specific (it divides by the
    * sketch estimate) so the inv drops it. */
  def joinCardinalityInv(s: SparkSession, dir: String): DataFrame =
    joinCardinality(s, dir)
      .select(col("pair"), col("n_a"), col("n_b"), col("exact_join"),
        col("ok"))

  val joinCardinalityInvSql: String = """
    SELECT * FROM (
      SELECT 'orders-lineitem' AS pair,
        (SELECT count(*) FROM orders) AS n_a,
        (SELECT count(*) FROM lineitem) AS n_b,
        (SELECT count(*) FROM orders o JOIN lineitem l
          ON o.o_orderkey = l.l_orderkey) AS exact_join,
        TRUE AS ok
      UNION ALL
      SELECT 'events-events',
        (SELECT count(*) FROM events),
        (SELECT count(*) FROM events),
        (SELECT CAST(sum(c * c) AS BIGINT) FROM (
          SELECT count(*) AS c FROM events GROUP BY user_id)),
        TRUE)
    ORDER BY pair"""

  // ------------------- sk07 stats-driven join strategy (CBO loop)
  /** Broadcast eligibility cap in STORED-STATS rows: with the gate
    * tables' ~0.1–1 KB rows, 10k rows ≈ the 10 MB default broadcast
    * threshold a production config expresses in bytes. Exceeding it
    * routes the join to shuffle. */
  private[graft] val BroadcastRowCap = 10000L

  /** The ONE broadcast/shuffle cap rule every CBO leg (sk07/sk08/
    * sk11) executes and every DuckDB oracle replay encodes: broadcast
    * the smaller side when its (stored, sketched, or estimated) row
    * count is ≤ [[BroadcastRowCap]], else shuffle. Shared so the
    * legs cannot silently desynchronize from each other or from the
    * oracles if the rule ever changes (e.g. byte-based sizing). */
  private[graft] def capRule(na: Double, aName: String, nb: Double,
      bName: String): String = {
    val (small, sn) = if (na <= nb) (aName, na) else (bName, nb)
    if (sn <= BroadcastRowCap) s"broadcast_$small" else "shuffle"
  }

  /** Final physical plan string AFTER execution (AQE unwrapped — the
    * re-optimized plan, not the initial guess). */
  private def finalPlanString(df: DataFrame): String =
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString

  /** Every BaseJoinExec in an EXECUTED DataFrame's post-AQE plan, in
    * pre-order (outermost first, innermost `.last`). The finalized
    * adaptive plan nests earlier joins inside materialized query
    * stages, whose inner trees are not `children` — the walk must
    * recurse through the stage wrappers explicitly. */
  private[graft] def executedJoins(executed: DataFrame)
      : Seq[org.apache.spark.sql.execution.joins.BaseJoinExec] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.joins.BaseJoinExec] =
      p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case r: org.apache.spark.sql.execution.exchange
            .ReusedExchangeExec => walk(r.child)
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j +: j.children.flatMap(walk)
        case other => other.children.flatMap(walk)
      }
    walk(executed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
  }

  /** Leaf output column names of a physical subtree, recursing
    * through query-stage wrappers (a stage's output preserves the
    * attribute names of the subtree it materialized). */
  private[graft] def leafCols(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] =
    p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leafCols(q.plan)
      case l if l.children.isEmpty => l.output.map(_.name)
      case other => other.children.flatMap(leafCols)
    }

  /** BroadcastHashJoin / SortMergeJoin / … classifier for one decided
    * strategy string ('broadcast_*' or 'shuffle'). */
  private def joinOpName(
      j: org.apache.spark.sql.execution.joins.BaseJoinExec): String =
    j match {
      case _: org.apache.spark.sql.execution.joins
          .BroadcastHashJoinExec => "BroadcastHashJoin"
      case _: org.apache.spark.sql.execution.joins
          .SortMergeJoinExec => "SortMergeJoin"
      case _: org.apache.spark.sql.execution.joins
          .ShuffledHashJoinExec => "ShuffledHashJoin"
      case other => other.nodeName
    }

  /** sk07 — the DECISION half of the CBO loop sk05 opened: sk05
    * showed join cardinality is estimable from stored per-table
    * statistics; this query closes the loop by letting the stored
    * stats CHOOSE the physical join strategy and then AUDITING the
    * executed plan against the choice. For each audited pair the
    * ANALYZE artifact (row counts persisted to a parquet stats table,
    * the sk04/sk05 catalog discipline) picks: broadcast the smaller
    * side when its stored count is ≤ [[BroadcastRowCap]], else
    * shuffle (sort-merge). Spark's OWN size-based auto-broadcast is
    * disabled for the audited joins — static and adaptive thresholds
    * both −1 — so the strategy in the executed plan provably came
    * from the stored stats, not from Spark's file-size estimate; the
    * emitted row carries the decision, the join operator found in the
    * post-AQE executed plan, the match flag, and the exact join count.
    *
    * Every column is deterministic from the data (counts are exact —
    * the sketch layer of the stats table is sk05's subject), so the
    * row is FULLY oracle-checked: DuckDB replays the decision rule
    * from its own exact counts, maps it to the expected operator, and
    * recomputes the join sizes — a wrong decision, a plan that
    * ignored the hint, or a wrong join result all hash-fail.
    *
    * 100 TB shape: this is precisely how a catalog-backed planner
    * avoids the pathological default — without stats, a 100 TB fact ⋈
    * 5 GB "dim" can only be costed from file sizes after pruning
    * lies; with the stored counts the broadcast/shuffle choice is a
    * driver-side table lookup, and the audit (decision vs executed
    * operator) is the regression test a plan-stability suite runs. */
  def cboStrategy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tables = Seq("nation", "customer", "orders", "lineitem")
    // the ANALYZE pass: exact row counts, persisted as the catalog
    // artifact (one scan per table; re-ANALYZE is incremental in a
    // real catalog). Stored → read back → decisions from stored only.
    val statsPath = Artifacts.root(s, "sk07", dir).getAbsolutePath
    tables.map(t => Relational.table(s, dir, t)
        .agg(count(lit(1)).as("n")).select(lit(t).as("tbl"), col("n")))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(statsPath)
    val n = s.read.parquet(statsPath).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairs = Seq(
      ("nation-customer", "nation", "customer", "n_nationkey",
        "c_nationkey"),
      ("customer-orders", "customer", "orders", "c_custkey", "o_custkey"),
      ("orders-lineitem", "orders", "lineitem", "o_orderkey",
        "l_orderkey"))
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prevs = overrides.map { case (k, _) => k -> s.conf.getOption(k) }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    val rows = try {
      pairs.map { case (pair, ta, tb, ka, kb) =>
        val decision = capRule(n(ta).toDouble, ta, n(tb).toDouble, tb)
        val dfa = Relational.table(s, dir, ta).select(col(ka))
        val dfb = Relational.table(s, dir, tb).select(col(kb))
        val joined = decision match {
          case d if d == s"broadcast_$ta" =>
            broadcast(dfa).join(dfb, col(ka) === col(kb))
          case d if d == s"broadcast_$tb" =>
            dfa.join(broadcast(dfb), col(ka) === col(kb))
          case _ => dfa.join(dfb, col(ka) === col(kb))
        }
        // audit the plan that ACTUALLY executed: `joined.count()` runs
        // a separate QueryExecution (the count aggregate), so reading
        // `joined`'s executedPlan would plan the un-executed sibling —
        // under AQE the initial guess, not the finalized strategy. The
        // count DataFrame's own post-AQE plan contains the join
        // operator after any runtime re-plan, so a strategy change AQE
        // made at runtime is visible to plan_matches.
        val cnt = joined.groupBy().count()
        val nOut = cnt.collect().head.getLong(0)
        val plan = finalPlanString(cnt)
        val executed =
          if (plan.contains("BroadcastHashJoin")) "BroadcastHashJoin"
          else if (plan.contains("SortMergeJoin")) "SortMergeJoin"
          else if (plan.contains("ShuffledHashJoin")) "ShuffledHashJoin"
          else "Other"
        val expected =
          if (decision == "shuffle") "SortMergeJoin" else "BroadcastHashJoin"
        (pair, n(ta), n(tb), decision, executed, executed == expected,
          nOut)
      }
    } finally {
      prevs.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    rows.toDF("pair", "n_left", "n_right", "decision", "executed_join",
        "plan_matches", "n_out")
      .orderBy("pair")
  }

  /** DuckDB replays the decision rule from its own exact counts and
    * the decision→operator mapping; `TRUE AS plan_matches` makes a
    * hint-ignoring plan hash-fail. Note the rule resolves DIFFERENTLY
    * across gate SFs (orders crosses the 10k cap between sf0.001 and
    * sf0.01) — both sides recompute it from the data, so the oracle
    * tracks the flip. */
  val cboStrategySql: String = s"""
    WITH n AS (SELECT
      (SELECT count(*) FROM nation) AS nn,
      (SELECT count(*) FROM customer) AS nc,
      (SELECT count(*) FROM orders) AS no_,
      (SELECT count(*) FROM lineitem) AS nl)
    SELECT pair, n_left, n_right, decision,
      CASE WHEN decision = 'shuffle' THEN 'SortMergeJoin'
           ELSE 'BroadcastHashJoin' END AS executed_join,
      TRUE AS plan_matches, n_out
    FROM (
      SELECT 'nation-customer' AS pair, nn AS n_left, nc AS n_right,
        CASE WHEN least(nn, nc) <= $BroadcastRowCap THEN
          'broadcast_' || (CASE WHEN nn <= nc THEN 'nation'
                           ELSE 'customer' END)
        ELSE 'shuffle' END AS decision,
        (SELECT count(*) FROM nation JOIN customer
          ON n_nationkey = c_nationkey) AS n_out
      FROM n
      UNION ALL
      SELECT 'customer-orders', nc, no_,
        CASE WHEN least(nc, no_) <= $BroadcastRowCap THEN
          'broadcast_' || (CASE WHEN nc <= no_ THEN 'customer'
                           ELSE 'orders' END)
        ELSE 'shuffle' END,
        (SELECT count(*) FROM customer JOIN orders
          ON c_custkey = o_custkey)
      FROM n
      UNION ALL
      SELECT 'orders-lineitem', no_, nl,
        CASE WHEN least(no_, nl) <= $BroadcastRowCap THEN
          'broadcast_' || (CASE WHEN no_ <= nl THEN 'orders'
                           ELSE 'lineitem' END)
        ELSE 'shuffle' END,
        (SELECT count(*) FROM orders JOIN lineitem
          ON o_orderkey = l_orderkey)
      FROM n)
    ORDER BY pair"""

  // ----------- sk08 sketch-ESTIMATED join strategy (est vs exact)
  /** sk08 — sk07 re-run in the regime a real catalog actually lives
    * in: ANALYZE writes SKETCHES, not truths, and the planner decides
    * from estimates. The stored artifact per table is (exact row
    * count, KMV sketch of the PRIMARY KEY) — and the decision path
    * reads ONLY the sketch: the estimated NDV of a unique key IS the
    * estimated row count (the textbook identity NDV(pk) = |T| that
    * lets a distinct-count sketch stand in for reltuples). Broadcast
    * the smaller-BY-ESTIMATE side when its estimated count is ≤ the
    * cap, else shuffle; Spark's own size-based auto-broadcast is
    * disabled (static + adaptive thresholds −1, the sk07 discipline)
    * so the executed operator provably came from the sketch estimate.
    * Each row carries BOTH counts (est + exact), BOTH decisions, the
    * `flip` flag (est-decision ≠ exact-decision — the event that
    * matters at the cap boundary: a ±3%-σ estimate straddling the
    * threshold routes a 100 TB join down the wrong path, which is
    * exactly why production caps sit well inside the estimator's
    * error band), the executed operator, and the audit flag.
    *
    * Estimates are engine-specific (xxhash64 KMV) → rows-only;
    * [[cboSketchStrategyInv]] ★ drops the est columns and has DuckDB
    * replay the EXACT-side decision rule, recompute the join sizes,
    * and assert `audit_ok` (executed operator == the est-decision's
    * operator) and `est_ok` (both estimates within the sk05 error
    * contract) — a hint-ignoring plan, a broken estimator, or a wrong
    * join result all hash-fail. The near-boundary flip itself is
    * pinned in Round12Spec with a constructed cap sitting between a
    * table's exact count and its deterministic sketch estimate. */
  private[graft] def cboSketchStrategyAt(s: SparkSession, dir: String,
      cap: Long): DataFrame = {
    import graft.expr.KmvSketchAgg._
    import s.implicits._
    val pks: Seq[(String, Seq[String])] = Seq(
      "nation" -> Seq("n_nationkey"), "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey", "l_linenumber"))
    // ANALYZE: one partial-agg'd scan per table → (n, kmv(pk)) rows
    // persisted as the catalog artifact; decisions read back from
    // storage only (est path touches just the sketch column)
    val statsPath = Artifacts.root(s, "sk08", dir).getAbsolutePath
    pks.map { case (t, pk) =>
        Relational.table(s, dir, t)
          .agg(count(lit(1)).as("n"),
            kmvSketch(xxhash64(pk.map(col): _*), JoinK).as("sk"))
          .select(lit(t).as("tbl"), col("n"), col("sk"))
      }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(statsPath)
    val stored = s.read.parquet(statsPath).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2).toArray)).toMap
    val nExact = stored.map { case (t, (n, _)) => t -> n }
    val nEst = stored.map { case (t, (_, sk)) =>
      t -> math.round(estimateDistinct(sk, JoinK)) }
    def decide(counts: Map[String, Long], ta: String, tb: String)
        : String = {
      val (small, smallN) =
        if (counts(ta) <= counts(tb)) (ta, counts(ta))
        else (tb, counts(tb))
      if (smallN <= cap) s"broadcast_$small" else "shuffle"
    }
    val pairs = Seq(
      ("nation-customer", "nation", "customer", "n_nationkey",
        "c_nationkey"),
      ("customer-orders", "customer", "orders", "c_custkey",
        "o_custkey"),
      ("orders-lineitem", "orders", "lineitem", "o_orderkey",
        "l_orderkey"))
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prevs = overrides.map { case (k, _) => k -> s.conf.getOption(k) }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    val rows = try {
      pairs.map { case (pair, ta, tb, ka, kb) =>
        val dEst = decide(nEst, ta, tb)
        val dExact = decide(nExact, ta, tb)
        val dfa = Relational.table(s, dir, ta).select(col(ka))
        val dfb = Relational.table(s, dir, tb).select(col(kb))
        // the ESTIMATE drives the physical strategy — that is the
        // whole point of the sketch regime
        val joined = dEst match {
          case d if d == s"broadcast_$ta" =>
            broadcast(dfa).join(dfb, col(ka) === col(kb))
          case d if d == s"broadcast_$tb" =>
            dfa.join(broadcast(dfb), col(ka) === col(kb))
          case _ => dfa.join(dfb, col(ka) === col(kb))
        }
        // audit the EXECUTED plan (the count's own QueryExecution,
        // post-AQE — the sk07 discipline)
        val cnt = joined.groupBy().count()
        val nOut = cnt.collect().head.getLong(0)
        val plan = finalPlanString(cnt)
        val executed =
          if (plan.contains("BroadcastHashJoin")) "BroadcastHashJoin"
          else if (plan.contains("SortMergeJoin")) "SortMergeJoin"
          else if (plan.contains("ShuffledHashJoin")) "ShuffledHashJoin"
          else "Other"
        val expected =
          if (dEst == "shuffle") "SortMergeJoin" else "BroadcastHashJoin"
        val estOk = Seq(ta, tb).forall(t =>
          math.abs(nEst(t) - nExact(t)) <=
            nExact(t) * JoinBoundPct / 100.0 + JoinK)
        (pair, nExact(ta), nExact(tb), nEst(ta), nEst(tb), dEst, dExact,
          dEst != dExact, executed, executed == expected, estOk, nOut)
      }
    } finally {
      prevs.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    rows.toDF("pair", "n_left", "n_right", "est_left", "est_right",
        "decision_est", "decision_exact", "flip", "executed_join",
        "audit_ok", "est_ok", "n_out")
      .orderBy("pair")
  }

  def cboSketchStrategy(s: SparkSession, dir: String): DataFrame =
    cboSketchStrategyAt(s, dir, BroadcastRowCap)

  /** Deterministic projection of sk08 — DuckDB replays the EXACT-side
    * decision rule and the join sizes; `audit_ok`/`est_ok` as TRUE
    * constants make a hint-ignoring plan or an out-of-contract
    * estimator hash-fail. */
  def cboSketchStrategyInv(s: SparkSession, dir: String): DataFrame =
    cboSketchStrategy(s, dir)
      .select(col("pair"), col("n_left"), col("n_right"),
        col("decision_exact"), col("audit_ok"), col("est_ok"),
        col("n_out"))

  val cboSketchStrategyInvSql: String = s"""
    WITH n AS (SELECT
      (SELECT count(*) FROM nation) AS nn,
      (SELECT count(*) FROM customer) AS nc,
      (SELECT count(*) FROM orders) AS no_,
      (SELECT count(*) FROM lineitem) AS nl)
    SELECT pair, n_left, n_right, decision_exact,
      TRUE AS audit_ok, TRUE AS est_ok, n_out
    FROM (
      SELECT 'nation-customer' AS pair, nn AS n_left, nc AS n_right,
        CASE WHEN least(nn, nc) <= $BroadcastRowCap THEN
          'broadcast_' || (CASE WHEN nn <= nc THEN 'nation'
                           ELSE 'customer' END)
        ELSE 'shuffle' END AS decision_exact,
        (SELECT count(*) FROM nation JOIN customer
          ON n_nationkey = c_nationkey) AS n_out
      FROM n
      UNION ALL
      SELECT 'customer-orders', nc, no_,
        CASE WHEN least(nc, no_) <= $BroadcastRowCap THEN
          'broadcast_' || (CASE WHEN nc <= no_ THEN 'customer'
                           ELSE 'orders' END)
        ELSE 'shuffle' END,
        (SELECT count(*) FROM customer JOIN orders
          ON c_custkey = o_custkey)
      FROM n
      UNION ALL
      SELECT 'orders-lineitem', no_, nl,
        CASE WHEN least(no_, nl) <= $BroadcastRowCap THEN
          'broadcast_' || (CASE WHEN no_ <= nl THEN 'orders'
                           ELSE 'lineitem' END)
        ELSE 'shuffle' END,
        (SELECT count(*) FROM orders JOIN lineitem
          ON o_orderkey = l_orderkey)
      FROM n)
    ORDER BY pair"""

  // -------- sk09 selectivity estimation from stored GK state (CBO)
  private[graft] val SelAccuracy = 1000
  /** (table, column, (lo, hi] ranges) audited by sk09 — also drives
    * the generated oracle SQL so both sides stay in sync. */
  private val SelSpecs: Seq[(String, String, Seq[(Double, Double)])] =
    Seq(
      ("orders", "o_totalprice",
        Seq((0.0, 50000.0), (50000.0, 150000.0), (150000.0, 600000.0))),
      ("lineitem", "l_extendedprice",
        Seq((0.0, 20000.0), (20000.0, 50000.0), (50000.0, 100000.0))))

  /** sk09 — range-predicate SELECTIVITY from stored statistics: the
    * third leg of the CBO stool after join cardinality (sk05) and
    * join strategy (sk07/sk08). The ANALYZE pass stores ONE GK
    * quantile state (the sk04 artifact — a mergeable equi-depth
    * histogram in ~KBs) per audited column; the estimator answers
    * `count(lo < x ≤ hi)` for every predicate as
    * `gk_rank(state, hi) − gk_rank(state, lo)` — the new native
    * [[graft.expr.GkRank]] CDF readout, #predicates rows of work,
    * ZERO data access. Exact counts ride along for the audit, each
    * table's predicates folded into ONE conditional-aggregation scan.
    * The band flag pins the GK rank invariant: each rank estimate is
    * within ~2ε·n of truth post-merge, so the difference sits within
    * 4ε·n (+1 discreteness slack).
    *
    * 100 TB shape: this is how a catalog answers "how many rows
    * survive `price BETWEEN a AND b`" without touching the fact
    * table — the histogram is built in the same single ANALYZE pass
    * that collects counts (sk07) and NDV sketches (sk08), stored in
    * KBs, and every optimizer costing question is a readout. Estimates
    * are merge-tree-dependent (the sk03 caveat) → rows-only;
    * [[selectivityInv]] ★ has DuckDB recompute n + exact counts and
    * assert the band flags. */
  def selectivityEstimation(s: SparkSession, dir: String): DataFrame = {
    import graft.expr.GkSketchAgg._
    import s.implicits._
    val statsPath = Artifacts.root(s, "sk09", dir).getAbsolutePath
    // ANALYZE: one scan per table → (n, histogram state), persisted
    SelSpecs.map { case (t, c, _) =>
        Relational.table(s, dir, t)
          .agg(count(lit(1)).as("n"),
            gkSketch(col(c).cast("double"), SelAccuracy).as("state"))
          .select(lit(t).as("tbl"), col("n"), col("state"))
      }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(statsPath)
    val stored = s.read.parquet(statsPath).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        r.getAs[Array[Byte]](2))).toMap
    // estimation: pure readout over the #predicates-row frame
    val predRows = SelSpecs.flatMap { case (t, _, preds) =>
      val (n, state) = stored(t)
      preds.map { case (lo, hi) => (t, lo, hi, n, state) }
    }.toDF("tbl", "lo", "hi", "n", "state")
    val est = predRows.select(col("tbl"), col("lo"), col("hi"), col("n"),
      (gkRank(col("state"), col("hi")) -
        gkRank(col("state"), col("lo"))).as("est_rows"))
    // audit truth: each table's predicates in ONE conditional-agg scan
    val exact = SelSpecs.map { case (t, c, preds) =>
        val x = col(c).cast("double")
        val counts = preds.zipWithIndex.map { case ((lo, hi), i) =>
          sum(when(x > lo && x <= hi, 1L).otherwise(0L)).as(s"x$i") }
        val entries = preds.zipWithIndex.map { case ((lo, hi), i) =>
          struct(lit(lo).as("lo"), lit(hi).as("hi"),
            col(s"x$i").as("exact_rows")) }
        Relational.table(s, dir, t).agg(counts.head, counts.tail: _*)
          .select(lit(t).as("tbl"), explode(array(entries: _*)).as("e"))
          .select(col("tbl"), col("e.lo").as("lo"), col("e.hi").as("hi"),
            col("e.exact_rows").as("exact_rows"))
      }.reduce(_ unionAll _)
    est.join(exact, Seq("tbl", "lo", "hi"))
      .select(col("tbl"), col("lo"), col("hi"), col("n"),
        col("exact_rows"), col("est_rows"),
        (abs(col("est_rows") - col("exact_rows")) <=
          lit(4.0) * col("n") / SelAccuracy + 1.0).as("ok"))
      .orderBy("tbl", "lo")
  }

  /** Deterministic projection of sk09 (drops the merge-tree-dependent
    * estimate; DuckDB recomputes n + exact counts, TRUE band flags
    * make an out-of-band estimator hash-fail). */
  def selectivityInv(s: SparkSession, dir: String): DataFrame =
    selectivityEstimation(s, dir)
      .select(col("tbl"), col("lo"), col("hi"), col("n"),
        col("exact_rows"), col("ok"))

  val selectivityInvSql: String = {
    val rows = SelSpecs.flatMap { case (t, c, preds) =>
      preds.map { case (lo, hi) =>
        s"""SELECT '$t' AS tbl, $lo AS lo, $hi AS hi,
          (SELECT count(*) FROM $t) AS n,
          (SELECT count(*) FROM $t
            WHERE CAST($c AS DOUBLE) > $lo
              AND CAST($c AS DOUBLE) <= $hi) AS exact_rows,
          TRUE AS ok"""
      }
    }
    rows.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY tbl, lo")
  }

  // ------------------- sk10 sketch-driven join ORDER (CBO capstone)
  /** sk10 — the CBO stool's fourth leg, and the one the other three
    * exist for: pick a JOIN ORDER from stored sketch statistics. For
    * the left-deep 3-table chain customer ⋈ orders ⋈ lineitem, the
    * optimizer's choice is which pairwise join runs FIRST — the one
    * with the smaller estimated INTERMEDIATE. Both candidate sizes
    * come from the sk05 product-form estimator over the SAME stored
    * ANALYZE artifacts (row count + per-key KMV sketch, one scan per
    * table — orders contributes both of its key sketches from a
    * single scan), the chosen left-deep plan is EXECUTED, and the
    * executed plan's innermost join is audited to actually be the
    * chosen pair (the sk07 executed-vs-decided discipline, applied to
    * order instead of strategy). Exact intermediate sizes ride along
    * so the oracle replays the decision from truth — a flipped
    * decision or a wrong final count hash-fails the inv.
    *
    * Estimates are engine-specific (xxhash64 KMV) → rows-only;
    * sk10_cbo_order_inv is the oracle companion. At 100 TB this is
    * the real regime: the optimizer never sees true intermediate
    * sizes, only the catalog's sketches — and the cost of ordering
    * wrong is the difference between shuffling |orders| and
    * |lineitem| rows through the first join. */
  def cboJoinOrder(s: SparkSession, dir: String): DataFrame = {
    import graft.expr.KmvSketchAgg._
    import s.implicits._
    val statsPath = Artifacts.root(s, "sk10", dir).getAbsolutePath
    val cust = Relational.table(s, dir, "customer").select("c_custkey")
    val ord = Relational.table(s, dir, "orders")
      .select("o_custkey", "o_orderkey")
    val line = Relational.table(s, dir, "lineitem").select("l_orderkey")
    // ANALYZE: one scan per table; orders' two key sketches in one agg
    cust.agg(count(lit(1)).as("n"),
        kmvSketch(xxhash64(col("c_custkey")), JoinK).as("sk"))
      .select(lit("customer.c_custkey").as("col"), col("n"), col("sk"))
      .unionAll(ord.agg(count(lit(1)).as("n"),
          kmvSketch(xxhash64(col("o_custkey")), JoinK).as("sk_ck"),
          kmvSketch(xxhash64(col("o_orderkey")), JoinK).as("sk_ok"))
        .select(explode(array(
          struct(lit("orders.o_custkey").as("col"), col("n"),
            col("sk_ck").as("sk")),
          struct(lit("orders.o_orderkey").as("col"), col("n"),
            col("sk_ok").as("sk")))).as("r"))
        .select(col("r.col"), col("r.n"), col("r.sk")))
      .unionAll(line.agg(count(lit(1)).as("n"),
          kmvSketch(xxhash64(col("l_orderkey")), JoinK).as("sk"))
        .select(lit("lineitem.l_orderkey").as("col"), col("n"),
          col("sk")))
      .write.mode("overwrite").parquet(statsPath)
    // the decision reads ONLY the stored stats
    val stored = s.read.parquet(statsPath).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        r.getSeq[Long](2).toArray)).toMap
    val (nC, skC) = stored("customer.c_custkey")
    val (nOc, skOc) = stored("orders.o_custkey")
    val (nOo, skOo) = stored("orders.o_orderkey")
    val (nL, skL) = stored("lineitem.l_orderkey")
    val estCO = estJoinFromStats(nC, skC, nOc, skOc)
    val estOL = estJoinFromStats(nOo, skOo, nL, skL)
    val chosen =
      if (estCO <= estOL) "customer-orders" else "orders-lineitem"
    // execute the chosen left-deep order
    val joined =
      if (chosen == "customer-orders")
        cust.join(ord, col("c_custkey") === col("o_custkey"))
          .join(line, col("o_orderkey") === col("l_orderkey"))
      else
        ord.join(line, col("o_orderkey") === col("l_orderkey"))
          .join(cust, col("c_custkey") === col("o_custkey"))
    // executed-order audit on the plan that ACTUALLY ran: `joined
    // .count()` executes its own QueryExecution, so inspecting
    // `joined`'s executedPlan would read the never-executed sibling's
    // INITIAL plan (the sk07/sk08 pitfall). Run the count as a
    // DataFrame and walk ITS post-AQE plan — where the finalized tree
    // nests earlier joins inside materialized query stages, so the
    // walk must recurse through QueryStageExec wrappers.
    val cnt = joined.groupBy().count()
    val finalRows = cnt.collect().head.getLong(0)
    val innermost = executedJoins(cnt).last
    val innerCols = leafCols(innermost).toSet
    val expectedCols: Set[String] =
      if (chosen == "customer-orders") Set("c_custkey", "o_custkey")
      else Set("o_orderkey", "l_orderkey")
    val orderAudit = expectedCols.subsetOf(innerCols)
    val exactCO = cust
      .join(ord, col("c_custkey") === col("o_custkey")).count()
    val exactOL = ord
      .join(line, col("o_orderkey") === col("l_orderkey")).count()
    Seq((chosen, estCO.toLong, estOL.toLong, exactCO, exactOL,
        finalRows, orderAudit,
        chosen == (if (exactCO <= exactOL) "customer-orders"
          else "orders-lineitem")))
      .toDF("chosen_first", "est_co", "est_ol", "exact_co", "exact_ol",
        "final_rows", "order_audit", "decision_matches_exact")
  }

  /** sk10's oracle companion — exact truths + the contract flags
    * (DuckDB recomputes both intermediate sizes, replays the choice
    * from them, and recomputes the final 3-table join count; the
    * est-dependent columns stay in the rows-only main query). */
  def cboJoinOrderInv(s: SparkSession, dir: String): DataFrame =
    cboJoinOrder(s, dir)
      .select(
        when(col("exact_co") <= col("exact_ol"), "customer-orders")
          .otherwise("orders-lineitem").as("exact_choice"),
        col("exact_co"), col("exact_ol"), col("final_rows"),
        col("order_audit"), col("decision_matches_exact"))

  val cboJoinOrderInvSql: String = """
    SELECT
      CASE WHEN
        (SELECT count(*) FROM customer c JOIN orders o
          ON c.c_custkey = o.o_custkey) <=
        (SELECT count(*) FROM orders o JOIN lineitem l
          ON o.o_orderkey = l.l_orderkey)
      THEN 'customer-orders' ELSE 'orders-lineitem' END AS exact_choice,
      (SELECT count(*) FROM customer c JOIN orders o
        ON c.c_custkey = o.o_custkey) AS exact_co,
      (SELECT count(*) FROM orders o JOIN lineitem l
        ON o.o_orderkey = l.l_orderkey) AS exact_ol,
      (SELECT count(*) FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey) AS final_rows,
      TRUE AS order_audit,
      TRUE AS decision_matches_exact"""

  // ---------- sk11 the composed stats-driven planner (CBO capstone 2)
  /** The two audited predicate scenarios on lineitem.l_extendedprice:
    * `wide` keeps ~95% of lineitem (the join order stays
    * customer-orders-first, as in unfiltered sk10), `narrow` keeps
    * ~1% — few enough that the ESTIMATED orders⋈lineitem_filtered
    * intermediate drops below customer⋈orders and the planner flips
    * the join ORDER. The selectivity→order coupling is the row that
    * proves the legs compose. */
  private val Sk11Scenarios: Seq[(String, Double, Double)] =
    Seq(("narrow", 0.0, 2000.0), ("wide", 0.0, 100000.0))

  /** One sk11 output row (a case class because the column count
    * exceeds Scala's 22-element tuple limit). */
  private case class Sk11Row(
    scenario: String, lo: Double, hi: Double,
    n_cust: Long, n_ord: Long, n_line: Long,
    est_line_f: Long, est_co: Long, est_ol: Long,
    chosen_first: String, inner_strategy: String,
    outer_strategy: String, executed_inner: String,
    executed_outer: String, order_audit: Boolean,
    strategy_audit: Boolean, exact_line_f: Long, exact_co: Long,
    exact_ol: Long, exact_choice: String,
    exact_inner_strategy: String, exact_outer_strategy: String,
    decision_matches_exact: Boolean, final_rows: Long)

  /** sk11 — the four CBO legs composed into ONE stats-driven planner
    * pass over the customer ⋈ orders ⋈ lineitem DAG with a range
    * predicate on lineitem: the single ANALYZE artifact per table
    * (exact count + per-key KMV sketches + a GK histogram on the
    * predicate column, ALL from one scan per table) feeds
    *  - sk09's leg: predicate selectivity = a `gk_rank` CDF readout
    *    from the stored histogram (zero data access),
    *  - sk05's leg: candidate intermediate sizes from the KMV
    *    product form, the filtered side SCALED by the estimated
    *    selectivity (the textbook independence assumption),
    *  - sk10's leg: join ORDER = the smaller estimated intermediate,
    *  - sk08's leg: per-join broadcast/shuffle strategy from the
    *    estimated input sizes vs [[BroadcastRowCap]] (including
    *    broadcasting the estimated-small INTERMEDIATE, the decision
    *    AQE makes at runtime — here made AHEAD of time from stats).
    * The chosen plan is EXECUTED with Spark's size-based
    * auto-broadcast disabled (static + adaptive thresholds −1), and
    * the post-AQE executed plan audited decision by decision: the
    * innermost join must be the chosen pair, and both executed join
    * operators must match the decided strategies. Exact counts ride
    * along so the oracle replays every decision — order, inner
    * strategy, outer strategy — from truth; a flipped choice, an
    * ignored hint, or a wrong final count hash-fails the inv.
    *
    * Estimates are engine-specific (xxhash64 KMV, merge-tree GK) →
    * rows-only; [[cboPlannerInv]] ★ is the oracle companion. At
    * 100 TB this single pass IS the optimizer: every number it
    * consults is a stored-catalog readout, and the executed-vs-decided
    * audit is the plan-stability regression a production deployment
    * runs on every engine upgrade. */
  def cboPlanner(s: SparkSession, dir: String): DataFrame = {
    import graft.expr.KmvSketchAgg._
    import graft.expr.GkSketchAgg._
    import s.implicits._
    val statsPath = Artifacts.root(s, "sk11", dir).getAbsolutePath
    val cust = Relational.table(s, dir, "customer").select("c_custkey")
    val ord = Relational.table(s, dir, "orders")
      .select("o_custkey", "o_orderkey")
    val line = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"),
        col("l_extendedprice").cast("double").as("price"))
    // ANALYZE: one scan per table → every artifact that table
    // contributes, persisted as the catalog row
    cust.agg(count(lit(1)).as("n"),
        kmvSketch(xxhash64(col("c_custkey")), JoinK).as("sk_a"))
      .select(lit("customer").as("tbl"), col("n"), col("sk_a"),
        lit(null).cast("array<long>").as("sk_b"),
        lit(null).cast("binary").as("gk"))
      .unionByName(ord.agg(count(lit(1)).as("n"),
          kmvSketch(xxhash64(col("o_custkey")), JoinK).as("sk_a"),
          kmvSketch(xxhash64(col("o_orderkey")), JoinK).as("sk_b"))
        .select(lit("orders").as("tbl"), col("n"), col("sk_a"),
          col("sk_b"), lit(null).cast("binary").as("gk")))
      .unionByName(line.agg(count(lit(1)).as("n"),
          kmvSketch(xxhash64(col("l_orderkey")), JoinK).as("sk_a"),
          gkSketch(col("price"), SelAccuracy).as("gk"))
        .select(lit("lineitem").as("tbl"), col("n"), col("sk_a"),
          lit(null).cast("array<long>").as("sk_b"), col("gk")))
      .write.mode("overwrite").parquet(statsPath)
    // ---- the planner reads ONLY the stored stats ----
    val stats = s.read.parquet(statsPath)
    val stored = stats.collect().map(r => r.getString(0) -> r).toMap
    val nC = stored("customer").getLong(1)
    val skC = stored("customer").getSeq[Long](2).toArray
    val nO = stored("orders").getLong(1)
    val skOc = stored("orders").getSeq[Long](2).toArray
    val skOo = stored("orders").getSeq[Long](3).toArray
    val nL = stored("lineitem").getLong(1)
    val skL = stored("lineitem").getSeq[Long](2).toArray
    // selectivity leg: one gk_rank readout per scenario bound, a
    // #scenarios-row frame over the stored histogram
    val selRows = Sk11Scenarios.map { case (name, lo, hi) =>
      (name, lo, hi) }.toDF("scenario", "lo", "hi")
      .crossJoin(stats.filter(col("tbl") === "lineitem")
        .select(col("gk")))
      .select(col("scenario"),
        (gkRank(col("gk"), col("hi")) - gkRank(col("gk"), col("lo")))
          .as("est_f"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val estCoBase = estJoinFromStats(nC, skC, nO, skOc)
    // scenario-invariant exact replay value: ONE customer⋈orders
    // count for the whole scenario sweep, not one per scenario
    val exactCo = cust
      .join(ord, col("c_custkey") === col("o_custkey")).count()
    val estOlBase = estJoinFromStats(nO, skOo, nL, skL)
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prevs = overrides.map { case (k, _) => k -> s.conf.getOption(k) }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    val rows = try {
      Sk11Scenarios.map { case (scenario, lo, hi) =>
        val estF = selRows(scenario)
        val sel = estF / nL
        val estCo = estCoBase
        val estOl = estOlBase * sel
        val chosen =
          if (estCo <= estOl) "customer-orders" else "orders-lineitem"
        val innerStrat =
          if (chosen == "customer-orders")
            capRule(nC.toDouble, "customer", nO.toDouble, "orders")
          else capRule(nO.toDouble, "orders", estF, "lineitem")
        val (interEst, thirdEst, thirdName) =
          if (chosen == "customer-orders") (estCo, estF, "lineitem")
          else (estOl, nC.toDouble, "customer")
        val outerStrat = capRule(interEst, "intermediate",
          thirdEst, thirdName)
        // ---- execute the decided plan ----
        val lineF = line.filter(col("price") > lo && col("price") <= hi)
          .select("l_orderkey")
        def applyStrat(a: DataFrame, aName: String, b: DataFrame,
            st: String, on: org.apache.spark.sql.Column): DataFrame =
          st match {
            case d if d == s"broadcast_$aName" =>
              broadcast(a).join(b, on)
            case "shuffle" => a.join(b, on)
            case _ => a.join(broadcast(b), on) // broadcast the b side
          }
        val joined =
          if (chosen == "customer-orders") {
            val inner = applyStrat(cust, "customer", ord, innerStrat,
              col("c_custkey") === col("o_custkey"))
            applyStrat(inner, "intermediate", lineF, outerStrat,
              col("o_orderkey") === col("l_orderkey"))
          } else {
            // "broadcast_lineitem" falls through to applyStrat's
            // default broadcast-b case (b IS the filtered lineitem)
            val inner = applyStrat(ord, "orders", lineF, innerStrat,
              col("o_orderkey") === col("l_orderkey"))
            applyStrat(inner, "intermediate", cust, outerStrat,
              col("c_custkey") === col("o_custkey"))
          }
        val cnt = joined.groupBy().count()
        val finalRows = cnt.collect().head.getLong(0)
        // ---- audit the EXECUTED plan, decision by decision ----
        val joins = executedJoins(cnt)
        val execOuter = joinOpName(joins.head)
        val execInner = joinOpName(joins.last)
        val innerColsSet = leafCols(joins.last).toSet
        val expectedCols: Set[String] =
          if (chosen == "customer-orders") Set("c_custkey", "o_custkey")
          else Set("o_orderkey", "l_orderkey")
        val orderAudit = joins.size == 2 &&
          expectedCols.subsetOf(innerColsSet)
        def expectedOp(st: String): String =
          if (st == "shuffle") "SortMergeJoin" else "BroadcastHashJoin"
        val strategyAudit = execInner == expectedOp(innerStrat) &&
          execOuter == expectedOp(outerStrat)
        // ---- exact replay values ----
        // strategy-independent counts: broadcast hints bypass the
        // forced-SMJ overrides (audit machinery, not the operator
        // under test) — see cboApplied's replay note
        val exactF = line
          .filter(col("price") > lo && col("price") <= hi).count()
        val exactOl = ord.join(broadcast(lineF),
          col("o_orderkey") === col("l_orderkey")).count()
        val exactChoice =
          if (exactCo <= exactOl) "customer-orders"
          else "orders-lineitem"
        val exactInner =
          if (exactChoice == "customer-orders")
            capRule(nC.toDouble, "customer", nO.toDouble, "orders")
          else capRule(nO.toDouble, "orders", exactF.toDouble,
            "lineitem")
        val (interEx, thirdEx, thirdNameEx) =
          if (exactChoice == "customer-orders")
            (exactCo.toDouble, exactF.toDouble, "lineitem")
          else (exactOl.toDouble, nC.toDouble, "customer")
        val exactOuter = capRule(interEx, "intermediate", thirdEx,
          thirdNameEx)
        Sk11Row(scenario, lo, hi, nC, nO, nL,
          estF.toLong, estCo.toLong, estOl.toLong,
          chosen, innerStrat, outerStrat, execInner, execOuter,
          orderAudit, strategyAudit,
          exactF, exactCo, exactOl, exactChoice, exactInner, exactOuter,
          chosen == exactChoice && innerStrat == exactInner &&
            outerStrat == exactOuter,
          finalRows)
      }
    } finally {
      prevs.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    rows.toDF().orderBy("scenario")
  }

  /** sk11's oracle companion — every DECISION replayed by DuckDB from
    * its own exact counts (order, inner strategy, outer strategy, the
    * same cap rule), plus the exact filtered/intermediate/final
    * counts; the audit flags as TRUE constants make an ignored hint or
    * a flipped decision hash-fail. Est columns stay in the rows-only
    * main query. */
  def cboPlannerInv(s: SparkSession, dir: String): DataFrame =
    cboPlanner(s, dir)
      .select(col("scenario"), col("lo"), col("hi"),
        col("n_cust"), col("n_ord"), col("n_line"),
        col("exact_line_f"), col("exact_co"), col("exact_ol"),
        col("exact_choice"), col("exact_inner_strategy"),
        col("exact_outer_strategy"), col("final_rows"),
        col("order_audit"), col("strategy_audit"),
        col("decision_matches_exact"))

  val cboPlannerInvSql: String = {
    val blocks = Sk11Scenarios.map { case (name, lo, hi) =>
      s"""SELECT scenario, lo, hi, n_cust, n_ord, n_line,
        exact_line_f, exact_co, exact_ol,
        CASE WHEN exact_co <= exact_ol THEN 'customer-orders'
          ELSE 'orders-lineitem' END AS exact_choice,
        CASE WHEN exact_co <= exact_ol THEN
          (CASE WHEN least(n_cust, n_ord) <= $BroadcastRowCap THEN
            'broadcast_' || (CASE WHEN n_cust <= n_ord THEN 'customer'
              ELSE 'orders' END) ELSE 'shuffle' END)
        ELSE
          (CASE WHEN least(n_ord, exact_line_f) <= $BroadcastRowCap THEN
            'broadcast_' || (CASE WHEN n_ord <= exact_line_f
              THEN 'orders' ELSE 'lineitem' END) ELSE 'shuffle' END)
        END AS exact_inner_strategy,
        CASE WHEN exact_co <= exact_ol THEN
          (CASE WHEN least(exact_co, exact_line_f) <= $BroadcastRowCap
            THEN 'broadcast_' || (CASE WHEN exact_co <= exact_line_f
              THEN 'intermediate' ELSE 'lineitem' END)
            ELSE 'shuffle' END)
        ELSE
          (CASE WHEN least(exact_ol, n_cust) <= $BroadcastRowCap THEN
            'broadcast_' || (CASE WHEN exact_ol <= n_cust
              THEN 'intermediate' ELSE 'customer' END)
            ELSE 'shuffle' END)
        END AS exact_outer_strategy,
        final_rows, TRUE AS order_audit, TRUE AS strategy_audit,
        TRUE AS decision_matches_exact
      FROM (
        SELECT '$name' AS scenario,
          CAST($lo AS DOUBLE) AS lo, CAST($hi AS DOUBLE) AS hi,
          (SELECT count(*) FROM customer) AS n_cust,
          (SELECT count(*) FROM orders) AS n_ord,
          (SELECT count(*) FROM lineitem) AS n_line,
          (SELECT count(*) FROM lineitem
            WHERE CAST(l_extendedprice AS DOUBLE) > $lo
              AND CAST(l_extendedprice AS DOUBLE) <= $hi)
            AS exact_line_f,
          (SELECT count(*) FROM customer c JOIN orders o
            ON c.c_custkey = o.o_custkey) AS exact_co,
          (SELECT count(*) FROM orders o JOIN lineitem l
            ON o.o_orderkey = l.l_orderkey
            WHERE CAST(l.l_extendedprice AS DOUBLE) > $lo
              AND CAST(l.l_extendedprice AS DOUBLE) <= $hi)
            AS exact_ol,
          (SELECT count(*) FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE CAST(l.l_extendedprice AS DOUBLE) > $lo
              AND CAST(l.l_extendedprice AS DOUBLE) <= $hi)
            AS final_rows)"""
    }
    blocks.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY scenario")
  }

  // --------------- sk12: the CBO decisions APPLIED by the optimizer
  /** sk12's ANALYZE: one scan per table builds every catalog artifact
    * that table contributes — exact count, a KMV sketch per join
    * column, a GK histogram per predicate column — persists them as
    * the stats store, then registers
    * [[graft.plans.CboCatalog]] entries FROM the stored parquet (the
    * sk11 discipline: the optimizer's inputs are catalog readouts,
    * never side computations). Idempotent per (application, dir). */
  private[graft] def analyzeForCbo(s: SparkSession, dir: String)
      : String = {
    import graft.expr.KmvSketchAgg._
    import graft.expr.GkSketchAgg._
    Artifacts.memo(s, "sk12", dir) { stats =>
      // one scan per table → one row per (table, column, artifact).
      // Each row also records the table's file-listing fingerprint
      // AT ANALYZE TIME — the staleness marker CboReorder checks
      // before trusting the entry (sk13).
      analyzeTableRow(s, dir, "nation")
        .unionByName(analyzeTableRow(s, dir, "customer"))
        .unionByName(analyzeTableRow(s, dir, "orders"))
        .unionByName(analyzeTableRow(s, dir, "lineitem"))
        .write.mode("overwrite").parquet(stats.getAbsolutePath)
    }
  }

  /** One table's ANALYZE artifact row (count + per-column KMV/GK
    * sketches + the file-listing fingerprint at analyze time). */
  private def analyzeTableRow(s: SparkSession, dir: String,
      tbl: String): DataFrame = {
    import graft.expr.KmvSketchAgg._
    import graft.expr.GkSketchAgg._
    val fp = lit(graft.plans.CboCatalog.fingerprintOf(
      s"$dir/$tbl.parquet")).as("fp")
    val noGk = array().cast("array<struct<col:string,gk:binary>>")
    tbl match {
      case "nation" => Relational.table(s, dir, "nation")
        .agg(count(lit(1)).as("n"),
          kmvSketch(xxhash64(col("n_nationkey")), JoinK).as("k1"))
        .select(lit("nation").as("tbl"), col("n"),
          array(struct(lit("n_nationkey").as("col"),
            col("k1").as("sk"))).as("kmv"),
          noGk.as("gk"), fp)
      case "customer" => Relational.table(s, dir, "customer")
        .agg(count(lit(1)).as("n"),
          kmvSketch(xxhash64(col("c_custkey")), JoinK).as("k1"),
          kmvSketch(xxhash64(col("c_nationkey")), JoinK).as("k2"))
        .select(lit("customer").as("tbl"), col("n"),
          array(
            struct(lit("c_custkey").as("col"), col("k1").as("sk")),
            struct(lit("c_nationkey").as("col"), col("k2").as("sk")))
            .as("kmv"),
          noGk.as("gk"), fp)
      case "orders" => Relational.table(s, dir, "orders")
        .agg(count(lit(1)).as("n"),
          kmvSketch(xxhash64(col("o_custkey")), JoinK).as("k1"),
          kmvSketch(xxhash64(col("o_orderkey")), JoinK).as("k2"))
        .select(lit("orders").as("tbl"), col("n"),
          array(
            struct(lit("o_custkey").as("col"), col("k1").as("sk")),
            struct(lit("o_orderkey").as("col"), col("k2").as("sk")))
            .as("kmv"),
          noGk.as("gk"), fp)
      case "lineitem" => Relational.table(s, dir, "lineitem")
        .agg(count(lit(1)).as("n"),
          kmvSketch(xxhash64(col("l_orderkey")), JoinK).as("k1"),
          gkSketch(col("l_extendedprice").cast("double"),
            SelAccuracy).as("g1"))
        .select(lit("lineitem").as("tbl"), col("n"),
          array(struct(lit("l_orderkey").as("col"),
            col("k1").as("sk"))).as("kmv"),
          array(struct(lit("l_extendedprice").as("col"),
            col("g1").as("gk"))).as("gk"), fp)
      case other => sys.error(s"analyzeTableRow: unknown table $other")
    }
  }

  /** Populate the optimizer catalog FROM the stored ANALYZE parquet.
    * Kept separate from [[analyzeForCbo]] (and re-run on every sk12
    * invocation) because the gate UNREGISTERS the tables afterwards:
    * a populated catalog makes the rule rewrite every later session
    * query joining these tables — the production opt-in, but not the
    * gate's business (every other audited query must keep its own
    * plan). */
  private[graft] def registerCboStats(s: SparkSession, statsPath: String,
      dir: String): Unit =
    s.read.parquet(statsPath).collect().foreach { r =>
      val tbl = r.getString(0)
      val kmv = r.getSeq[org.apache.spark.sql.Row](2)
        .map(e => e.getString(0) -> e.getSeq[Long](1).toArray)
        .toMap
      val gk = r.getSeq[org.apache.spark.sql.Row](3)
        .map(e => e.getString(0) -> e.getAs[Array[Byte]](1))
        .toMap
      graft.plans.CboCatalog.register(s"$dir/$tbl.parquet",
        graft.plans.CboCatalog.TableStats(tbl, r.getLong(1),
          kmv, gk, r.getString(4)))
    }

  /** One sk12 output row. 30 columns — beyond what the case-class
    * encoder generates clean code for (Janino falls back to the
    * interpreter with a logged stack trace), so [[cboApplied]] builds
    * the frame from explicit Rows + schema instead of `.toDF()`. */
  private case class Sk12Row(
    scenario: String, lo: Double, hi: Double,
    n_cust: Long, n_ord: Long, n_line: Long,
    est_line_f: Long, est_co: Long, est_ol: Long,
    chosen_first: String, inner_strategy: String, outer_strategy: String,
    executed_first: String, executed_inner: String,
    executed_outer: String, order_audit: Boolean,
    strategy_audit: Boolean,
    ruleoff_first: String, ruleoff_inner: String, ruleoff_outer: String,
    rule_load_bearing: Boolean, ruleoff_audit: Boolean,
    exact_line_f: Long, exact_co: Long, exact_ol: Long,
    exact_choice: String, exact_inner_strategy: String,
    exact_outer_strategy: String, decision_matches_exact: Boolean,
    final_rows: Long)

  /** sk12 — the sk11 decisions APPLIED: the same hint-free
    * customer ⋈ orders ⋈ lineitem query sk11 audits, written in a
    * FIXED user order (customer-orders first) with no hints, executed
    * with [[graft.plans.CboReorder]] reading the stored ANALYZE
    * catalog ([[analyzeForCbo]]). The rule — not the query — decides
    * join order and per-join strategy, so the post-AQE executed plan
    * must equal the stats-chosen plan decision for decision
    * (`order_audit`/`strategy_audit`), the `narrow` scenario's ~1%
    * predicate must FLIP the executed order away from the order the
    * user wrote, and a rule-off replay of the identical query must
    * execute the user's order with unhinted shuffle joins
    * (`ruleoff_audit`) — proving the rule is load-bearing
    * (`rule_load_bearing`, replayed by the oracle from exact counts).
    * Auto-broadcast is disabled (static + adaptive −1) exactly as in
    * sk11, so every strategy in the executed plan traces to a hint
    * the rule injected.
    *
    * Estimates are engine-specific → rows-only; [[cboAppliedInv]] ★
    * is the oracle companion. At 100 TB this is the difference
    * between an advisory EXPLAIN and a real optimizer: stale or
    * missing stats change PLANS, not dashboards, and the rule-off
    * audit is the regression a production engine runs before turning
    * a new CBO loose. */
  def cboApplied(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    registerCboStats(s, analyzeForCbo(s, dir), dir)
    // sessions built without spark.sql.extensions=graft.GraftExtensions
    // (tests, foreign notebooks) attach the rule post-hoc; harmless
    // when the extension slot already runs it (a decided tree carries
    // hints, which the rule's match guard rejects)
    if (!s.experimental.extraOptimizations.contains(
        graft.plans.CboReorder))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.CboReorder
    val stored = s.read.parquet(analyzeForCbo(s, dir)).collect()
      .map(r => r.getString(0) -> r).toMap
    def kmvOf(tbl: String, c: String): Array[Long] =
      stored(tbl).getSeq[org.apache.spark.sql.Row](2)
        .find(_.getString(0) == c).get.getSeq[Long](1).toArray
    val nC = stored("customer").getLong(1)
    val nO = stored("orders").getLong(1)
    val nL = stored("lineitem").getLong(1)
    val gkLine = stored("lineitem").getSeq[org.apache.spark.sql.Row](3)
      .head.getAs[Array[Byte]](1)
    val estCoBase = estJoinFromStats(nC, kmvOf("customer", "c_custkey"),
      nO, kmvOf("orders", "o_custkey"))
    val estOlBase = estJoinFromStats(nO, kmvOf("orders", "o_orderkey"),
      nL, kmvOf("lineitem", "l_orderkey"))
    val cust = Relational.table(s, dir, "customer").select("c_custkey")
    val ord = Relational.table(s, dir, "orders")
      .select("o_custkey", "o_orderkey")
    val line = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"),
        col("l_extendedprice").cast("double").as("price"))
    val exactCo = cust
      .join(ord, col("c_custkey") === col("o_custkey")).count()
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prevs = overrides.map { case (k, _) => k -> s.conf.getOption(k) }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    val rows = try {
      Sk11Scenarios.map { case (scenario, lo, hi) =>
        // ---- the HINT-FREE user query, fixed user order ----
        def userQuery(): DataFrame =
          cust.join(ord, col("c_custkey") === col("o_custkey"))
            .join(line.filter(col("price") > lo && col("price") <= hi)
              .select("l_orderkey"),
              col("o_orderkey") === col("l_orderkey"))
            .groupBy().count()
        def audit(cnt: DataFrame): (Long, String, String, String) = {
          val finalRows = cnt.collect().head.getLong(0)
          val joins = executedJoins(cnt)
          require(joins.size == 2,
            s"expected 2 executed joins, got ${joins.size}")
          val innerCols = leafCols(joins.last).toSet
          val first =
            if (Set("c_custkey", "o_custkey").subsetOf(innerCols))
              "customer-orders"
            else if (Set("o_orderkey", "l_orderkey").subsetOf(innerCols))
              "orders-lineitem"
            else s"unrecognized:${innerCols.mkString(",")}"
          (finalRows, first, joinOpName(joins.last),
            joinOpName(joins.head))
        }
        // ---- expected decisions, replayed from the SAME stored stats
        val estF = Seq((gkLine, lo, hi)).toDF("gk", "lo", "hi")
          .select((graft.expr.GkSketchAgg.gkRank(col("gk"), col("hi")) -
            graft.expr.GkSketchAgg.gkRank(col("gk"), col("lo")))
            .as("est_f"))
          .collect().head.getDouble(0)
        val estOl = estOlBase * (estF / nL)
        val chosen =
          if (estOl < estCoBase) "orders-lineitem" else "customer-orders"
        val innerStrat =
          if (chosen == "customer-orders")
            capRule(nC.toDouble, "customer", nO.toDouble, "orders")
          else capRule(nO.toDouble, "orders", estF, "lineitem")
        val (interEst, thirdEst, thirdName) =
          if (chosen == "customer-orders") (estCoBase, estF, "lineitem")
          else (estOl, nC.toDouble, "customer")
        val outerStrat = capRule(interEst, "intermediate", thirdEst,
          thirdName)
        def expectedOp(st: String): String =
          if (st == "shuffle") "SortMergeJoin" else "BroadcastHashJoin"
        // ---- rule ON ----
        s.conf.set(graft.plans.CboCatalog.EnabledKey, "true")
        val (finalRows, execFirst, execInner, execOuter) =
          audit(userQuery())
        // ---- rule OFF: same query, user order, no hints ----
        s.conf.set(graft.plans.CboCatalog.EnabledKey, "false")
        val (offRows, offFirst, offInner, offOuter) = audit(userQuery())
        s.conf.set(graft.plans.CboCatalog.EnabledKey, "true")
        // ---- exact replays for the oracle ----
        // counts are strategy-independent, so the replay join need
        // not honor the forced-SMJ overrides the AUDITED queries run
        // under — an explicit broadcast hint (hints bypass the −1
        // thresholds) turns the gate-scale replay into a BHJ. Audit
        // machinery only; the operator under test is userQuery above.
        val lineF = line.filter(col("price") > lo && col("price") <= hi)
          .select("l_orderkey")
        val exactF = lineF.count()
        val exactOl = ord.join(broadcast(lineF),
          col("o_orderkey") === col("l_orderkey")).count()
        val exactChoice =
          if (exactCo <= exactOl) "customer-orders" else "orders-lineitem"
        val exactInner =
          if (exactChoice == "customer-orders")
            capRule(nC.toDouble, "customer", nO.toDouble, "orders")
          else capRule(nO.toDouble, "orders", exactF.toDouble,
            "lineitem")
        val (interEx, thirdEx, thirdNameEx) =
          if (exactChoice == "customer-orders")
            (exactCo.toDouble, exactF.toDouble, "lineitem")
          else (exactOl.toDouble, nC.toDouble, "customer")
        val exactOuter = capRule(interEx, "intermediate", thirdEx,
          thirdNameEx)
        Sk12Row(scenario, lo, hi, nC, nO, nL,
          estF.toLong, estCoBase.toLong, estOl.toLong,
          chosen, innerStrat, outerStrat,
          execFirst, execInner, execOuter,
          execFirst == chosen,
          execInner == expectedOp(innerStrat) &&
            execOuter == expectedOp(outerStrat),
          offFirst, offInner, offOuter,
          chosen != offFirst,
          offFirst == "customer-orders" &&
            offInner == "SortMergeJoin" && offOuter == "SortMergeJoin" &&
            offRows == finalRows,
          exactF, exactCo, exactOl, exactChoice, exactInner, exactOuter,
          chosen == exactChoice && innerStrat == exactInner &&
            outerStrat == exactOuter,
          finalRows)
      }
    } finally {
      prevs.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      // confine the rewrite to this gate: with the catalog empty the
      // rule is inert for every subsequent session query (production
      // keeps the registrations — that is the whole point there)
      graft.plans.CboCatalog.clear()
    }
    import org.apache.spark.sql.types._
    val sk12Schema = StructType(
      Seq("scenario" -> StringType, "lo" -> DoubleType,
        "hi" -> DoubleType, "n_cust" -> LongType, "n_ord" -> LongType,
        "n_line" -> LongType, "est_line_f" -> LongType,
        "est_co" -> LongType, "est_ol" -> LongType,
        "chosen_first" -> StringType, "inner_strategy" -> StringType,
        "outer_strategy" -> StringType, "executed_first" -> StringType,
        "executed_inner" -> StringType, "executed_outer" -> StringType,
        "order_audit" -> BooleanType, "strategy_audit" -> BooleanType,
        "ruleoff_first" -> StringType, "ruleoff_inner" -> StringType,
        "ruleoff_outer" -> StringType,
        "rule_load_bearing" -> BooleanType,
        "ruleoff_audit" -> BooleanType, "exact_line_f" -> LongType,
        "exact_co" -> LongType, "exact_ol" -> LongType,
        "exact_choice" -> StringType,
        "exact_inner_strategy" -> StringType,
        "exact_outer_strategy" -> StringType,
        "decision_matches_exact" -> BooleanType,
        "final_rows" -> LongType)
        .map { case (n, t) => StructField(n, t, nullable = false) })
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row
        .fromSeq(r.productIterator.toSeq)).asJava,
      sk12Schema).orderBy("scenario")
  }

  /** sk12's oracle companion — every decision replayed by DuckDB from
    * exact counts (the cboPlannerInv discipline), PLUS the
    * load-bearing flag: `rule_load_bearing` must equal
    * `exact_choice <> 'customer-orders'` — the oracle itself asserts
    * that the rule changed the plan precisely when the statistics
    * said it should. The audit flags ride as TRUE constants so a
    * flipped executed plan or a hinted rule-off run hash-fails. */
  def cboAppliedInv(s: SparkSession, dir: String): DataFrame =
    cboApplied(s, dir)
      .select(col("scenario"), col("lo"), col("hi"),
        col("n_cust"), col("n_ord"), col("n_line"),
        col("exact_line_f"), col("exact_co"), col("exact_ol"),
        col("exact_choice"), col("exact_inner_strategy"),
        col("exact_outer_strategy"), col("ruleoff_first"),
        col("rule_load_bearing"), col("final_rows"),
        col("order_audit"), col("strategy_audit"),
        col("ruleoff_audit"), col("decision_matches_exact"))

  // --------------- sk13: the staleness guard — expired stats don't plan
  /** sk13's fixture: the three join tables copied into a scratch
    * layout as DIRECTORY tables (so the gate can append a data file
    * — the stock single-file tables are read-only). The copy is
    * byte-identical, so every exact replay equals the stock tables'
    * answer; the rows sk13 later appends are constructed inert
    * (non-joining key, out-of-range predicate column) so that stays
    * true across the whole fire → stale → re-analyze arc. */
  private[graft] def buildCboScratchTables(s: SparkSession, dir: String,
      kind: String = "sk13"): String =
    Artifacts.memo(s, kind, dir) { root =>
      Seq("nation", "customer", "orders", "lineitem").foreach { t =>
        val tdir = new java.io.File(root, s"$t.parquet")
        val src = new java.io.File(s"$dir/$t.parquet")
        // a stock table is a single parquet file; a scaled dir's
        // (ScaleUpTestData) is a directory of parts — copy either
        if (src.isDirectory)
          org.apache.commons.io.FileUtils.copyDirectory(src, tdir)
        else {
          tdir.mkdirs()
          org.apache.commons.io.FileUtils.copyFile(src,
            new java.io.File(tdir, "part-00000.parquet"))
        }
      }
    }

  /** Re-ANALYZE after an append — INCREMENTALLY: recompute only the
    * tables whose CURRENT file fingerprint differs from the stored
    * artifact's row and reuse the stored rows for unchanged tables.
    * Value-identical to a full re-ANALYZE (the sketches are
    * deterministic over identical bytes, and an unchanged fingerprint
    * means identical bytes), and it is what a production catalog does
    * — the sk13/sk14 staleness arcs append to ONE table, so the other
    * three (including the expensive lineitem KMV+GK pass) were being
    * rescanned for artifact rows that could not have changed
    * (r15-opt, guide §1.2: don't compute things you throw away). */
  private def analyzeForCboFresh(s: SparkSession, dir: String): String = {
    val path = analyzeForCbo(s, dir)
    val stored = s.read.parquet(path)
    val byTbl = stored.collect().map(r => r.getString(0) -> r).toMap
    val tables = Seq("nation", "customer", "orders", "lineitem")
    val stale = tables.filter { t =>
      !byTbl.get(t).map(_.getString(4)).contains(
        graft.plans.CboCatalog.fingerprintOf(s"$dir/$t.parquet"))
    }
    if (stale.nonEmpty) {
      import scala.jdk.CollectionConverters._
      val kept = s.createDataFrame(
        tables.filterNot(stale.contains).map(byTbl).asJava,
        stored.schema)
      stale.map(analyzeTableRow(s, dir, _))
        .foldLeft(kept)(_.unionByName(_))
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Append a few INERT rows to the scratch lineitem table — the
    * un-analyzed ingest sk13 simulates: l_orderkey = −1 (joins to
    * nothing) and l_extendedprice far above every scenario bound
    * (filtered before the join), so every exact answer is unchanged
    * while the table's file listing — and therefore its ANALYZE
    * fingerprint — is not. */
  private def appendInertLineitem(s: SparkSession, scratch: String)
      : Unit = {
    val tdir = new java.io.File(scratch, "lineitem.parquet")
    val base = s.read.parquet(tdir.getAbsolutePath).limit(5)
    val priceT = base.schema("l_extendedprice").dataType
    val keyT = base.schema("l_orderkey").dataType
    val inert = base
      .withColumn("l_orderkey", lit(-1L).cast(keyT))
      .withColumn("l_extendedprice", lit(999999999L).cast(priceT))
    val stage = new java.io.File(scratch, "append_stage")
    inert.coalesce(1).write.mode("overwrite")
      .parquet(stage.getAbsolutePath)
    val part = stage.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(tdir,
        s"part-append-${System.nanoTime()}.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
  }

  /** sk13 — STATS STALENESS: the guard every production CBO needs
    * before sk12's rule can be trusted unattended. The ANALYZE
    * artifact records each table's file-listing fingerprint; the
    * optimizer re-fingerprints at plan time and treats a mismatch as
    * "stats unknown", going inert rather than planning from numbers
    * the table has outgrown. The gate walks the full arc on its own
    * scratch copy of the tables, with the narrow ~1% scenario whose
    * stats-chosen order provably differs from the user's:
    *  1. ANALYZE → the hint-free query executes the FLIPPED order
    *     (the rule fired);
    *  2. append un-analyzed rows (inert by construction) → the SAME
    *     query now executes the user's order with unhinted shuffle
    *     joins (the rule refused stale stats) — and its ANSWER is
    *     still correct: plan quality degraded, correctness never did;
    *  3. re-ANALYZE → the rule fires again.
    * Every column is deterministic (orders, strategies, and the
    * final count replayed from the stock tables — the appended rows
    * are inert) ⇒ DIRECT DuckDB oracle. */
  def cboStaleness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scratch = buildCboScratchTables(s, dir)
    if (!s.experimental.extraOptimizations.contains(
        graft.plans.CboReorder))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.CboReorder
    val (lo, hi) = (0.0, 2000.0) // the sk11/sk12 narrow scenario
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      graft.plans.CboCatalog.EnabledKey -> "true")
    val prevs = overrides.map { case (k, _) => k -> s.conf.getOption(k) }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      def userQuery(): DataFrame = {
        val cust = Relational.table(s, scratch, "customer")
          .select("c_custkey")
        val ord = Relational.table(s, scratch, "orders")
          .select("o_custkey", "o_orderkey")
        val line = Relational.table(s, scratch, "lineitem")
          .select(col("l_orderkey"),
            col("l_extendedprice").cast("double").as("price"))
        cust.join(ord, col("c_custkey") === col("o_custkey"))
          .join(line.filter(col("price") > lo && col("price") <= hi)
            .select("l_orderkey"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy().count()
      }
      def audit(): (Long, String, String, String) = {
        val cnt = userQuery()
        val finalRows = cnt.collect().head.getLong(0)
        val joins = executedJoins(cnt)
        require(joins.size == 2,
          s"expected 2 executed joins, got ${joins.size}")
        val innerCols = leafCols(joins.last).toSet
        val first =
          if (Set("c_custkey", "o_custkey").subsetOf(innerCols))
            "customer-orders"
          else if (Set("o_orderkey", "l_orderkey").subsetOf(innerCols))
            "orders-lineitem"
          else s"unrecognized:${innerCols.mkString(",")}"
        (finalRows, first, joinOpName(joins.last),
          joinOpName(joins.head))
      }
      registerCboStats(s, analyzeForCboFresh(s, scratch), scratch)
      val (rows1, fresh, _, _) = audit()
      appendInertLineitem(s, scratch)
      val (rows2, stale, staleInner, staleOuter) = audit()
      registerCboStats(s, analyzeForCboFresh(s, scratch), scratch)
      val (rows3, re, _, _) = audit()
      Seq((lo, hi, fresh, stale, staleInner, staleOuter, re,
        rows1, rows1 == rows2 && rows2 == rows3))
        .toDF("lo", "hi", "fresh_first", "stale_first",
          "stale_inner", "stale_outer", "reanalyzed_first",
          "final_rows", "rows_stable")
    } finally {
      prevs.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      graft.plans.CboCatalog.clear()
    }
  }

  val cboStalenessSql: String = """
    SELECT CAST(0.0 AS DOUBLE) AS lo, CAST(2000.0 AS DOUBLE) AS hi,
      'orders-lineitem' AS fresh_first,
      'customer-orders' AS stale_first,
      'SortMergeJoin' AS stale_inner, 'SortMergeJoin' AS stale_outer,
      'orders-lineitem' AS reanalyzed_first,
      (SELECT count(*) FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE CAST(l.l_extendedprice AS DOUBLE) > 0.0
          AND CAST(l.l_extendedprice AS DOUBLE) <= 2000.0)
        AS final_rows,
      TRUE AS rows_stable"""

  /** Inert nation append for sk14's any-leg staleness check:
    * n_nationkey = −1 matches no c_nationkey, so every exact answer
    * is unchanged while nation's ANALYZE fingerprint goes stale. */
  private def appendInertNation(s: SparkSession, scratch: String)
      : Unit = {
    val tdir = new java.io.File(scratch, "nation.parquet")
    val base = s.read.parquet(tdir.getAbsolutePath).limit(3)
    val keyT = base.schema("n_nationkey").dataType
    val inert = base.withColumn("n_nationkey", lit(-1L).cast(keyT))
    val stage = new java.io.File(scratch, "append_stage_n")
    inert.coalesce(1).write.mode("overwrite")
      .parquet(stage.getAbsolutePath)
    val part = stage.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(tdir,
        s"part-append-${System.nanoTime()}.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
  }

  /** One sk14 output row (explicit Rows + schema at build time — the
    * column count is past the clean-codegen encoder range). */
  private case class Sk14Row(
    scenario: String, lo: Double, hi: Double,
    n_nation: Long, n_cust: Long, n_ord: Long, n_line: Long,
    est_nc: Long, est_co: Long, est_olf: Long,
    chosen_first: String, chosen_second: String, chosen_third: String,
    executed_first: String, executed_second: String,
    executed_third: String, order_audit: Boolean,
    ruleoff_first: String, rule_load_bearing: Boolean,
    ruleoff_audit: Boolean,
    exact_nc: Long, exact_co: Long, exact_olf: Long,
    exact_first: String, exact_second: String, exact_third: String,
    decision_matches_exact: Boolean,
    stale_first: String, stale_inner: String,
    reanalyzed_first: String, rows_stable: Boolean,
    final_rows: Long)

  /** sk14 — the CBO rule on an N-TABLE LEFT-DEEP CHAIN: a hint-free
    * nation ⋈ customer ⋈ orders ⋈ lineitem query written in a fixed
    * user order, reordered INSIDE the optimizer by
    * [[graft.plans.CboReorder]]'s greedy chain fold (seed the
    * smallest estimated pair, then attach the connected leg with the
    * smallest folded estimate — sk11's pairwise estimates composed
    * across the chain). The narrow scenario's ~1% lineitem predicate
    * makes orders⋈lineitem the provable seed — three positions away
    * from the user's nation⋈customer — while the wide scenario's
    * stats agree with the user's order (the rule must then change
    * nothing but strategies). A rule-off replay pins load-bearing,
    * an exact-count replay pins the decision against ground truth,
    * and an inert nation append walks the sk13 staleness arc on a
    * DIFFERENT leg than sk13 exercises — one stale leg anywhere must
    * silence the whole chain rewrite.
    *
    * Estimates are engine-specific → rows-only; [[cboChainInv]] ★ is
    * the oracle companion (order decisions + counts replayed by
    * DuckDB from exact quantities, audits riding as constants). */
  def cboChain(s: SparkSession, dir: String): DataFrame = {
    // restore per invocation: the narrow scenario's staleness arc
    // appends inert rows, and a reused scratch would carry them into
    // the next invocation's ANALYZE counts (n_nation must equal the
    // stock table's count for the oracle). Deleting the appended
    // part files restores the byte-identical stock copy — far
    // cheaper than recopying four tables every invocation
    val scratch = buildCboScratchTables(s, dir, kind = "sk14")
    Option(new java.io.File(scratch, "nation.parquet").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-append-"))
      .foreach(f => require(f.delete(), s"sk14: could not drop $f"))
    if (!s.experimental.extraOptimizations.contains(
        graft.plans.CboReorder))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.CboReorder
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      graft.plans.CboCatalog.EnabledKey -> "true")
    val prevs = overrides.map { case (k, _) => k -> s.conf.getOption(k) }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    val rows = try {
      // the CLEAN-state ANALYZE artifact is computed once per session
      // and snapshotted aside: the narrow staleness arc overwrites
      // the live artifact with post-append stats, so later
      // invocations restore the snapshot (the restored scratch is
      // byte-identical to the first copy, fingerprints included)
      // instead of paying a full re-ANALYZE
      val statsPath = analyzeForCbo(s, scratch)
      val statsDir = new java.io.File(statsPath)
      val cleanSnap = new java.io.File(statsPath + "_clean")
      if (cleanSnap.exists()) {
        org.apache.commons.io.FileUtils.deleteDirectory(statsDir)
        org.apache.commons.io.FileUtils.copyDirectory(cleanSnap,
          statsDir)
      } else org.apache.commons.io.FileUtils.copyDirectory(statsDir,
        cleanSnap)
      registerCboStats(s, statsPath, scratch)
      def stats(tbl: String) = graft.plans.CboCatalog
        .lookup(s"$scratch/$tbl.parquet")
        .getOrElse(sys.error(s"sk14: $tbl not in catalog"))
      val (stN, stC, stO, stL) =
        (stats("nation"), stats("customer"), stats("orders"),
          stats("lineitem"))
      def userQuery(lo: Double, hi: Double): DataFrame = {
        val nat = Relational.table(s, scratch, "nation")
          .select("n_nationkey")
        val cust = Relational.table(s, scratch, "customer")
          .select("c_custkey", "c_nationkey")
        val ord = Relational.table(s, scratch, "orders")
          .select("o_custkey", "o_orderkey")
        val line = Relational.table(s, scratch, "lineitem")
          .select(col("l_orderkey"),
            col("l_extendedprice").cast("double").as("price"))
        nat.join(cust, col("n_nationkey") === col("c_nationkey"))
          .join(ord, col("c_custkey") === col("o_custkey"))
          .join(line.filter(col("price") > lo && col("price") <= hi)
            .select("l_orderkey"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy().count()
      }
      def legName(cols: Set[String]): String =
        if (cols.contains("n_nationkey")) "nation"
        else if (cols.contains("c_custkey")) "customer"
        else if (cols.contains("o_orderkey")) "orders"
        else if (cols.contains("l_orderkey")) "lineitem"
        else s"unrecognized:${cols.mkString(",")}"
      def pairName(cols: Set[String]): String =
        if (cols.contains("n_nationkey") && cols.contains("c_custkey"))
          "nation-customer"
        else if (cols.contains("c_custkey") &&
          cols.contains("o_orderkey")) "customer-orders"
        else if (cols.contains("o_orderkey") &&
          cols.contains("l_orderkey")) "orders-lineitem"
        else s"unrecognized:${cols.mkString(",")}"
      def audit(cnt: DataFrame): (Long, String, String, String, String) = {
        val finalRows = cnt.collect().head.getLong(0)
        val joins = executedJoins(cnt)
        require(joins.size == 3,
          s"expected 3 executed joins, got ${joins.size}")
        val first = pairName(leafCols(joins.last).toSet)
        val second = legName(leafCols(joins(1).children(1)).toSet)
        val third = legName(leafCols(joins.head.children(1)).toSet)
        (finalRows, first, second, third, joinOpName(joins.last))
      }
      // ---- scenario-INVARIANT exact replays, hoisted out of the
      // scenario loop (they were recomputed per scenario): counts are
      // strategy-independent, so broadcast hints bypass the forced-SMJ
      // overrides (audit machinery — the operator under test is
      // userQuery). The n_nationkey >= 0 filter keeps xNc immune to
      // the narrow arc's inert append, so pre-loop evaluation is
      // value-identical to the old per-scenario evaluation.
      val natX = Relational.table(s, scratch, "nation")
        .filter(col("n_nationkey") >= 0).select("n_nationkey")
      val custX = Relational.table(s, scratch, "customer")
        .select("c_custkey", "c_nationkey")
      val ordX = Relational.table(s, scratch, "orders")
        .select("o_custkey", "o_orderkey")
      val xNc = broadcast(natX).join(custX,
        col("n_nationkey") === col("c_nationkey")).count()
      val xCo = ordX.select("o_custkey")
        .join(broadcast(custX.select("c_custkey")),
          col("c_custkey") === col("o_custkey")).count()
      // BOTH scenarios' GK range-fraction estimates in ONE 2-row job
      // (was one single-row Spark job per scenario — pure fixed cost)
      val estFByScenario: Map[String, Double] = {
        import s.implicits._
        Sk11Scenarios
          .map { case (sc, lo, hi) =>
            (sc, stL.gk("l_extendedprice"), lo, hi) }
          .toDF("scenario", "gk", "lo", "hi")
          .select(col("scenario"),
            (graft.expr.GkSketchAgg.gkRank(col("gk"), col("hi"))
              - graft.expr.GkSketchAgg.gkRank(col("gk"), col("lo")))
              .as("f"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      }
      // BOTH scenarios' exact orders⋈lineitem counts in ONE pass: the
      // range filter commutes with the inner equi-join, so counting
      // join rows per range as conditional sums over the UNfiltered
      // join is value-identical to the old per-scenario
      // filter-then-join counts — and one lineitem scan probing a
      // broadcast of the ~8-byte orders key set replaces two scans
      // (the wide leg used to broadcast most of lineitem). Audit
      // machinery, strategy-independent counts — the broadcast hint
      // deliberately bypasses the forced-SMJ overrides, same as xNc.
      val xOlfByScenario: Map[String, Long] = {
        val lineP = Relational.table(s, scratch, "lineitem")
          .select(col("l_orderkey"),
            col("l_extendedprice").cast("double").as("price"))
        val aggs = Sk11Scenarios.map { case (sc, lo, hi) =>
          coalesce(sum(when(col("price") > lo && col("price") <= hi, 1L)
            .otherwise(0L)), lit(0L)).as(sc) }
        val row = lineP
          .join(broadcast(ordX.select("o_orderkey")),
            col("o_orderkey") === col("l_orderkey"))
          .agg(aggs.head, aggs.tail: _*).collect().head
        Sk11Scenarios.map(_._1).zipWithIndex
          .map { case (sc, i) => sc -> row.getLong(i) }.toMap
      }
      Sk11Scenarios.map { case (scenario, lo, hi) =>
        // ---- the rule's decision, replayed from the stored stats
        val estNc = estJoinFromStats(stN.n, stN.kmv("n_nationkey"),
          stC.n, stC.kmv("c_nationkey"))
        val estCo = estJoinFromStats(stC.n, stC.kmv("c_custkey"),
          stO.n, stO.kmv("o_custkey"))
        val estF = estFByScenario(scenario)
        val estOl = estJoinFromStats(stO.n, stO.kmv("o_orderkey"),
          stL.n, stL.kmv("l_orderkey")) * (estF / stL.n)
        // greedy chain fold — the same arithmetic (and first-minimum
        // tie order nc, co, ol) CboReorder.greedyChain executes
        def greedy(eNc: Double, eCo: Double, eOlf: Double,
            nC: Double, nO: Double): (String, String, String) =
          if (eNc <= eCo && eNc <= eOlf)
            ("nation-customer", "orders", "lineitem")
          else if (eCo <= eOlf) {
            val foldN = eNc * (eCo / nC)
            val foldL = eOlf * (eCo / nO)
            if (foldN <= foldL) ("customer-orders", "nation", "lineitem")
            else ("customer-orders", "lineitem", "nation")
          } else ("orders-lineitem", "customer", "nation")
        val (chosen1, chosen2, chosen3) =
          greedy(estNc, estCo, estOl, stC.n.toDouble, stO.n.toDouble)
        // ---- rule ON / OFF
        s.conf.set(graft.plans.CboCatalog.EnabledKey, "true")
        val (finalRows, exec1, exec2, exec3, _) = audit(userQuery(lo, hi))
        s.conf.set(graft.plans.CboCatalog.EnabledKey, "false")
        val (offRows, off1, _, _, offInner) = audit(userQuery(lo, hi))
        s.conf.set(graft.plans.CboCatalog.EnabledKey, "true")
        // ---- exact replays (xNc/xCo/xOlf hoisted above the loop)
        val xOlf = xOlfByScenario(scenario)
        val (exact1, exact2, exact3) =
          greedy(xNc.toDouble, xCo.toDouble, xOlf.toDouble,
            stC.n.toDouble, stO.n.toDouble)
        // ---- staleness on a DIFFERENT leg than sk13's: nation
        val staleRes = if (scenario == "narrow") {
          appendInertNation(s, scratch)
          val (staleRows, stale1, _, _, staleInner) =
            audit(userQuery(lo, hi))
          registerCboStats(s, analyzeForCboFresh(s, scratch), scratch)
          val (reRows, re1, _, _, _) = audit(userQuery(lo, hi))
          Some((stale1, staleInner, re1,
            staleRows == finalRows && reRows == finalRows))
        } else None
        val (stale1, staleInner, re1, staleStable) = staleRes
          .getOrElse((off1, offInner, exec1, true))
        Sk14Row(scenario, lo, hi, stN.n, stC.n, stO.n, stL.n,
          estNc.toLong, estCo.toLong, estOl.toLong,
          chosen1, chosen2, chosen3, exec1, exec2, exec3,
          exec1 == chosen1 && exec2 == chosen2 && exec3 == chosen3,
          off1, chosen1 != "nation-customer",
          off1 == "nation-customer" && offRows == finalRows,
          xNc, xCo, xOlf, exact1, exact2, exact3,
          chosen1 == exact1 && chosen2 == exact2 && chosen3 == exact3,
          stale1, staleInner, re1,
          staleStable && offRows == finalRows,
          finalRows)
      }
    } finally {
      prevs.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      graft.plans.CboCatalog.clear()
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      "scenario" -> StringType, "lo" -> DoubleType, "hi" -> DoubleType,
      "n_nation" -> LongType, "n_cust" -> LongType, "n_ord" -> LongType,
      "n_line" -> LongType, "est_nc" -> LongType, "est_co" -> LongType,
      "est_olf" -> LongType, "chosen_first" -> StringType,
      "chosen_second" -> StringType, "chosen_third" -> StringType,
      "executed_first" -> StringType, "executed_second" -> StringType,
      "executed_third" -> StringType, "order_audit" -> BooleanType,
      "ruleoff_first" -> StringType, "rule_load_bearing" -> BooleanType,
      "ruleoff_audit" -> BooleanType, "exact_nc" -> LongType,
      "exact_co" -> LongType, "exact_olf" -> LongType,
      "exact_first" -> StringType, "exact_second" -> StringType,
      "exact_third" -> StringType,
      "decision_matches_exact" -> BooleanType,
      "stale_first" -> StringType, "stale_inner" -> StringType,
      "reanalyzed_first" -> StringType, "rows_stable" -> BooleanType,
      "final_rows" -> LongType)
      .map { case (n, t) => StructField(n, t, nullable = false) })
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row
        .fromSeq(r.productIterator.toSeq)).asJava,
      schema).orderBy("scenario")
  }

  /** sk14's oracle companion: order decisions and counts replayed by
    * DuckDB from exact quantities; the audit flags ride as TRUE
    * constants so any executed-order divergence hash-fails. */
  def cboChainInv(s: SparkSession, dir: String): DataFrame =
    cboChain(s, dir).select(col("scenario"), col("lo"), col("hi"),
      col("n_nation"), col("n_cust"), col("n_ord"), col("n_line"),
      col("exact_nc"), col("exact_co"), col("exact_olf"),
      col("exact_first"), col("exact_second"), col("exact_third"),
      col("ruleoff_first"), col("rule_load_bearing"),
      col("stale_first"), col("stale_inner"), col("reanalyzed_first"),
      col("final_rows"), col("order_audit"), col("ruleoff_audit"),
      col("decision_matches_exact"), col("rows_stable"))

  val cboChainInvSql: String = {
    val blocks = Sk11Scenarios.map { case (name, lo, hi) =>
      s"""SELECT scenario, lo, hi, n_nation, n_cust, n_ord, n_line,
        exact_nc, exact_co, exact_olf,
        CASE WHEN exact_nc <= exact_co AND exact_nc <= exact_olf
          THEN 'nation-customer'
          WHEN exact_co <= exact_olf THEN 'customer-orders'
          ELSE 'orders-lineitem' END AS exact_first,
        CASE WHEN exact_nc <= exact_co AND exact_nc <= exact_olf
          THEN 'orders'
          WHEN exact_co <= exact_olf THEN
            (CASE WHEN CAST(exact_nc AS DOUBLE) * exact_co / n_cust
              <= CAST(exact_olf AS DOUBLE) * exact_co / n_ord
              THEN 'nation' ELSE 'lineitem' END)
          ELSE 'customer' END AS exact_second,
        CASE WHEN exact_nc <= exact_co AND exact_nc <= exact_olf
          THEN 'lineitem'
          WHEN exact_co <= exact_olf THEN
            (CASE WHEN CAST(exact_nc AS DOUBLE) * exact_co / n_cust
              <= CAST(exact_olf AS DOUBLE) * exact_co / n_ord
              THEN 'lineitem' ELSE 'nation' END)
          ELSE 'nation' END AS exact_third,
        'nation-customer' AS ruleoff_first,
        (NOT (exact_nc <= exact_co AND exact_nc <= exact_olf))
          AS rule_load_bearing,
        'nation-customer' AS stale_first,
        'SortMergeJoin' AS stale_inner,
        CASE WHEN exact_nc <= exact_co AND exact_nc <= exact_olf
          THEN 'nation-customer'
          WHEN exact_co <= exact_olf THEN 'customer-orders'
          ELSE 'orders-lineitem' END AS reanalyzed_first,
        final_rows, TRUE AS order_audit, TRUE AS ruleoff_audit,
        TRUE AS decision_matches_exact, TRUE AS rows_stable
      FROM (
        SELECT '$name' AS scenario,
          CAST($lo AS DOUBLE) AS lo, CAST($hi AS DOUBLE) AS hi,
          (SELECT count(*) FROM nation) AS n_nation,
          (SELECT count(*) FROM customer) AS n_cust,
          (SELECT count(*) FROM orders) AS n_ord,
          (SELECT count(*) FROM lineitem) AS n_line,
          (SELECT count(*) FROM nation n JOIN customer c
            ON n.n_nationkey = c.c_nationkey) AS exact_nc,
          (SELECT count(*) FROM customer c JOIN orders o
            ON c.c_custkey = o.o_custkey) AS exact_co,
          (SELECT count(*) FROM orders o JOIN lineitem l
            ON o.o_orderkey = l.l_orderkey
            WHERE CAST(l.l_extendedprice AS DOUBLE) > $lo
              AND CAST(l.l_extendedprice AS DOUBLE) <= $hi)
            AS exact_olf,
          (SELECT count(*) FROM nation n
            JOIN customer c ON n.n_nationkey = c.c_nationkey
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE CAST(l.l_extendedprice AS DOUBLE) > $lo
              AND CAST(l.l_extendedprice AS DOUBLE) <= $hi)
            AS final_rows)"""
    }
    blocks.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY scenario")
  }

  val cboAppliedInvSql: String = {
    val blocks = Sk11Scenarios.map { case (name, lo, hi) =>
      s"""SELECT scenario, lo, hi, n_cust, n_ord, n_line,
        exact_line_f, exact_co, exact_ol,
        CASE WHEN exact_co <= exact_ol THEN 'customer-orders'
          ELSE 'orders-lineitem' END AS exact_choice,
        CASE WHEN exact_co <= exact_ol THEN
          (CASE WHEN least(n_cust, n_ord) <= $BroadcastRowCap THEN
            'broadcast_' || (CASE WHEN n_cust <= n_ord THEN 'customer'
              ELSE 'orders' END) ELSE 'shuffle' END)
        ELSE
          (CASE WHEN least(n_ord, exact_line_f) <= $BroadcastRowCap THEN
            'broadcast_' || (CASE WHEN n_ord <= exact_line_f
              THEN 'orders' ELSE 'lineitem' END) ELSE 'shuffle' END)
        END AS exact_inner_strategy,
        CASE WHEN exact_co <= exact_ol THEN
          (CASE WHEN least(exact_co, exact_line_f) <= $BroadcastRowCap
            THEN 'broadcast_' || (CASE WHEN exact_co <= exact_line_f
              THEN 'intermediate' ELSE 'lineitem' END)
            ELSE 'shuffle' END)
        ELSE
          (CASE WHEN least(exact_ol, n_cust) <= $BroadcastRowCap THEN
            'broadcast_' || (CASE WHEN exact_ol <= n_cust
              THEN 'intermediate' ELSE 'customer' END)
            ELSE 'shuffle' END)
        END AS exact_outer_strategy,
        'customer-orders' AS ruleoff_first,
        (exact_co > exact_ol) AS rule_load_bearing,
        final_rows, TRUE AS order_audit, TRUE AS strategy_audit,
        TRUE AS ruleoff_audit, TRUE AS decision_matches_exact
      FROM (
        SELECT '$name' AS scenario,
          CAST($lo AS DOUBLE) AS lo, CAST($hi AS DOUBLE) AS hi,
          (SELECT count(*) FROM customer) AS n_cust,
          (SELECT count(*) FROM orders) AS n_ord,
          (SELECT count(*) FROM lineitem) AS n_line,
          (SELECT count(*) FROM lineitem
            WHERE CAST(l_extendedprice AS DOUBLE) > $lo
              AND CAST(l_extendedprice AS DOUBLE) <= $hi)
            AS exact_line_f,
          (SELECT count(*) FROM customer c JOIN orders o
            ON c.c_custkey = o.o_custkey) AS exact_co,
          (SELECT count(*) FROM orders o JOIN lineitem l
            ON o.o_orderkey = l.l_orderkey
            WHERE CAST(l.l_extendedprice AS DOUBLE) > $lo
              AND CAST(l.l_extendedprice AS DOUBLE) <= $hi)
            AS exact_ol,
          (SELECT count(*) FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE CAST(l.l_extendedprice AS DOUBLE) > $lo
              AND CAST(l.l_extendedprice AS DOUBLE) <= $hi)
            AS final_rows)"""
    }
    blocks.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY scenario")
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("t12_heavy_hitters", heavyHitters _, None),
      ("t12_cms_inv", cmsInv _, Some(cmsInvSql)),
      ("sk01_kmv_overlap", kmvOverlap _, None),
      ("sk01_kmv_inv", kmvInv _, Some(kmvInvSql)),
      ("sk02_hll_overlap", hllOverlap _, None),
      ("sk02_hll_inv", hllInv _, Some(hllInvSql)),
      ("sk03_quantile_sketch", quantileSketch _, None),
      ("sk03_quantile_inv", quantileInv _, Some(quantileInvSql)),
      ("sk04_gk_profile", gkProfile _, None),
      ("sk04_gk_profile_inv", gkProfileInv _, Some(gkProfileInvSql)),
      ("sk05_join_card", joinCardinality _, None),
      ("sk05_join_card_inv", joinCardinalityInv _,
        Some(joinCardinalityInvSql)),
      ("sk06_hll_mv", hllMv _, None),
      ("sk06_hll_mv_inv", hllMvInv _, Some(hllMvInvSql)),
      ("sk07_cbo_strategy", cboStrategy _, Some(cboStrategySql)),
      ("sk08_cbo_sketch", cboSketchStrategy _, None),
      ("sk08_cbo_sketch_inv", cboSketchStrategyInv _,
        Some(cboSketchStrategyInvSql)),
      ("sk09_selectivity", selectivityEstimation _, None),
      ("sk09_selectivity_inv", selectivityInv _,
        Some(selectivityInvSql)),
      ("sk10_cbo_join_order", cboJoinOrder _, None),
      ("sk10_cbo_order_inv", cboJoinOrderInv _,
        Some(cboJoinOrderInvSql)),
      ("sk11_cbo_planner", cboPlanner _, None),
      ("sk11_cbo_planner_inv", cboPlannerInv _,
        Some(cboPlannerInvSql)),
      ("sk12_cbo_applied", cboApplied _, None),
      ("sk12_cbo_applied_inv", cboAppliedInv _,
        Some(cboAppliedInvSql)),
      ("sk13_cbo_staleness", cboStaleness _, Some(cboStalenessSql)),
      ("sk14_cbo_chain", cboChain _, None),
      ("sk14_cbo_chain_inv", cboChainInv _, Some(cboChainInvSql)))
}
