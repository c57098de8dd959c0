package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Privacy-risk audits over a "published" projection of the customer
  * table — the defensive counterpart of the [[Linkage]] stack: l04's
  * Fellegi-Sunter scoring measures how LINKABLE records are, these
  * operators measure how protected a release is before it ships.
  * The reference engine exists to generate personal data for record-
  * linkage research (README.md:1-7 of ul-mds/gecko), so the privacy
  * side of that loop is first-class here.
  *
  * All three audits are exact integer arithmetic over equivalence
  * classes, so each carries a bit-exact DuckDB oracle. Scale shape:
  * every audit is one or two hash aggregations keyed by the
  * quasi-identifier — map-side combinable, no windows, no joins
  * against the fact table; the per-level ladder in pv02 is a CONSTANT
  * number of such aggregations (5), not a data-dependent loop.
  */
object Privacy {

  private val K = 5 // k-anonymity threshold
  private val L = 3 // l-diversity threshold

  /** The published projection: quasi-identifiers at full precision.
    * Balance is banded to 100-unit steps via IEEE floor(x/100.0) —
    * identical in Spark and DuckDB, including negatives (integer
    * `div`/`//` would disagree on negative values across engines). */
  private def release(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 100.0).cast("long").as("bal100"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal1000"))

  // ------------------------------------------- pv01 k-anonymity audit
  /** pv01 — k-anonymity audit of the full-precision release: group by
    * the quasi-identifier (nation, segment, bal100), then histogram
    * the equivalence-class sizes. A class of size < K means each of
    * its members is re-identifiable among fewer than K candidates —
    * the rows_at_risk column is the number every privacy review asks
    * for first. Two chained aggregations, both partial-agg
    * combinable; the fact table shuffles once on the QI key. */
  def kAnonymityAudit(s: SparkSession, dir: String): DataFrame =
    release(s, dir)
      .groupBy("nation", "segment", "bal100")
      .agg(count(lit(1)).as("class_size"))
      .groupBy("class_size")
      .agg(count(lit(1)).as("n_classes"),
        (count(lit(1)) * col("class_size")).as("n_rows"),
        max(when(col("class_size") < K, 1L).otherwise(0L) === 1L)
          .as("at_risk"))

  val kAnonymityAuditSql: String = s"""
    WITH classes AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
        c_mktsegment AS segment,
        CAST(floor(c_acctbal / 100.0) AS BIGINT) AS bal100,
        count(*) AS class_size
      FROM customer
      GROUP BY 1, 2, 3)
    SELECT class_size, count(*) AS n_classes,
      count(*) * class_size AS n_rows,
      class_size < $K AS at_risk
    FROM classes
    GROUP BY class_size
    ORDER BY class_size"""

  // --------------------------------------- pv02 generalization ladder
  /** pv02 — generalization-to-k ladder: the fixed coarsening sequence
    * a release would walk until every class reaches size ≥ K —
    *   level 0: (nation, segment, bal100)
    *   level 1: (nation, segment, bal1000)
    *   level 2: (nation, segment)
    *   level 3: (segment)
    *   level 4: () — full suppression
    * Per level: class count, smallest class, rows in classes < K, the
    * at-risk ppm, and whether the level meets k-anonymity. The first
    * `meets_k` row is the minimal generalization to publish at — the
    * measure-then-choose discipline (st19's) applied to privacy. The
    * ladder is 5 CONSTANT aggregations (one scan each, combinable),
    * never an iterative search. */
  def generalizationLadder(s: SparkSession, dir: String): DataFrame = {
    val rel = release(s, dir)
    val levels: Seq[(Int, Seq[String])] = Seq(
      0 -> Seq("nation", "segment", "bal100"),
      1 -> Seq("nation", "segment", "bal1000"),
      2 -> Seq("nation", "segment"),
      3 -> Seq("segment"),
      4 -> Seq.empty)
    levels.map { case (lvl, qi) =>
      val classes =
        if (qi.isEmpty) rel.agg(count(lit(1)).as("class_size"))
        else rel.groupBy(qi.map(col): _*)
          .agg(count(lit(1)).as("class_size"))
      classes.agg(
        lit(lvl.toLong).as("level"),
        count(lit(1)).as("n_classes"),
        min(col("class_size")).as("min_class_size"),
        coalesce(sum(when(col("class_size") < K, col("class_size"))
          .otherwise(0L)), lit(0L)).as("rows_at_risk"))
    }.reduce(_ unionAll _)
      .crossJoin(broadcast(rel.agg(count(lit(1)).as("n_total"))))
      .withColumn("risk_ppm", expr("rows_at_risk * 1000000 div n_total"))
      .withColumn("meets_k", col("min_class_size") >= K)
      .select("level", "n_classes", "min_class_size", "rows_at_risk",
        "risk_ppm", "meets_k")
  }

  val generalizationLadderSql: String = {
    def level(lvl: Int, qi: Seq[String]): String = {
      val grouped =
        if (qi.isEmpty) "SELECT count(*) AS class_size FROM rel"
        else s"SELECT count(*) AS class_size FROM rel " +
          s"GROUP BY ${qi.mkString(", ")}"
      s"""
      SELECT $lvl AS level, count(*) AS n_classes,
        CAST(min(class_size) AS BIGINT) AS min_class_size,
        CAST(coalesce(sum(CASE WHEN class_size < $K THEN class_size
          ELSE 0 END), 0) AS BIGINT) AS rows_at_risk
      FROM ($grouped)"""
    }
    val arms = Seq(
      level(0, Seq("nation", "segment", "bal100")),
      level(1, Seq("nation", "segment", "bal1000")),
      level(2, Seq("nation", "segment")),
      level(3, Seq("segment")),
      level(4, Seq.empty)).mkString("\n      UNION ALL\n")
    s"""
    WITH rel AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
        c_mktsegment AS segment,
        CAST(floor(c_acctbal / 100.0) AS BIGINT) AS bal100,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal1000
      FROM customer),
    n AS (SELECT count(*) AS n_total FROM rel),
    lv AS ($arms)
    SELECT level, n_classes, min_class_size, rows_at_risk,
      CAST(rows_at_risk * 1000000 // n_total AS BIGINT) AS risk_ppm,
      min_class_size >= $K AS meets_k
    FROM lv, n
    ORDER BY level"""
  }

  // ----------------------------------------- pv03 l-diversity audit
  /** pv03 — l-diversity audit at the (nation, segment) level: even a
    * k-anonymous class leaks its members' sensitive attribute when
    * every member SHARES it (the homogeneity attack k-anonymity does
    * not see). Sensitive attribute: the 1000-unit balance band.
    * Histogram of per-class distinct-sensitive counts; classes with
    * fewer than L distinct values fail. One QI-keyed aggregation with
    * a distinct-count (Spark plans it as two partial-agg exchanges),
    * then the tiny histogram agg. */
  def lDiversityAudit(s: SparkSession, dir: String): DataFrame =
    release(s, dir)
      .groupBy("nation", "segment")
      .agg(count(lit(1)).as("class_size"),
        count_distinct(col("bal1000")).as("n_sensitive"))
      .groupBy("n_sensitive")
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_size")).as("n_rows"),
        max(when(col("n_sensitive") < L, 1L).otherwise(0L) === 1L)
          .as("fails_l"))

  val lDiversityAuditSql: String = s"""
    WITH classes AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
        c_mktsegment AS segment, count(*) AS class_size,
        count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
          AS n_sensitive
      FROM customer
      GROUP BY 1, 2)
    SELECT n_sensitive, count(*) AS n_classes,
      CAST(sum(class_size) AS BIGINT) AS n_rows,
      n_sensitive < $L AS fails_l
    FROM classes
    GROUP BY n_sensitive
    ORDER BY n_sensitive"""

  // ------------------------------------- pv04 DP noisy count release
  /** Truncated two-sided geometric outcomes for ε = ln 2 (α = e^−ε =
    * 1/2): P(N = n) ∝ α^|n|, truncated at |n| ≤ 12 (dropped tail mass
    * 2/12288 ≈ 1.6e−4). With α = 1/2 every probability is dyadic, so
    * the inverse CDF is PURE INTEGER thresholds on a scaled uniform
    * draw — exactly replayable in both engines, no float log/floor at
    * a boundary. Walk order 0, −1, +1, −2, +2, …; weight(±k) =
    * 2^(12−k) over total mass 12286. */
  private val DpOutcomes: Seq[(Int, Long)] =
    (0, 4096L) +: (1 to 12).flatMap(k =>
      Seq((-k, 1L << (12 - k)), (k, 1L << (12 - k))))
  private val DpTotal: Long = DpOutcomes.map(_._2).sum // 12286
  private val DpBounds: Seq[Long] = DpOutcomes.scanLeft(0L)(_ + _._2).tail

  /** pv04 — ε-differentially-private count release (geometric
    * mechanism, Ghosh–Roughgarden–Sundararajan 2009: the discrete
    * Laplace twin, utility-optimal for sensitivity-1 counts): the
    * per-(nation, segment) customer counts with two-sided geometric
    * noise at ε = ln 2, clamped at 0 (post-processing never spends
    * budget). The released frame carries only the noisy counts and
    * the privacy parameters.
    *
    * PRIVACY CAVEAT — this query is an oracle-replay DEMO of the
    * mechanism's arithmetic, NOT a privacy-bearing release. The noise
    * draw is md5-gated on the PUBLIC group key ('pv04#nation#segment'),
    * the same determinism-over-freshness trade every seeded operator
    * in this engine makes so the DuckDB oracle replays the release
    * bit-exactly — but it means any observer who knows the mechanism
    * can recompute the noise term exactly and INVERT the release back
    * to the true counts (strictly worse than the repeat-observer
    * averaging that fresh-but-logged noise would allow). A production
    * deployment must draw noise that is secret and fresh per release;
    * only then do the ε-DP guarantees hold. Mechanism arithmetic here
    * is still integer-exact end to end and is what is under test: the
    * uniform is 8 md5 hex digits mod 12286, the inverse CDF is the
    * [[DpBounds]] threshold chain, both engines compare the same
    * BIGINTs.
    *
    * Scale shape: ONE combinable groupBy on the release key; the
    * noise is a scalar expression on the (tiny) aggregate — the cost
    * of privatizing a 100 TB count release is the count itself. */
  /** The keyed noise draw (spec hook): md5 of the key → scaled
    * uniform → threshold-chain inverse CDF. */
  private[graft] def dpNoise(key: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val m = pmod(conv(substring(md5(key), 1, 8), 16, 10).cast("long"),
      lit(DpTotal))
    DpOutcomes.init.zip(DpBounds.init).reverse
      .foldLeft(lit(DpOutcomes.last._1.toLong)) {
        case (acc, ((n, _), ub)) =>
          when(m < ub, lit(n.toLong)).otherwise(acc)
      }
  }

  def dpCounts(s: SparkSession, dir: String): DataFrame = {
    val noise = dpNoise(concat(lit("pv04#"), col("nation"),
      lit("#"), col("segment")))
    release(s, dir)
      .groupBy("nation", "segment")
      .agg(count(lit(1)).as("n"))
      .select(col("nation"), col("segment"),
        greatest(lit(0L), col("n") + noise).as("noisy_count"),
        lit(693147L).as("eps_micro"), // ε = ln 2 in micro-nats
        lit(12L).as("trunc_at"))
  }

  val dpCountsSql: String = {
    val cases = DpOutcomes.init.zip(DpBounds.init)
      .map { case ((n, _), ub) => s"WHEN m < $ub THEN $n" }
      .mkString(" ")
    s"""
    WITH counts AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
        c_mktsegment AS segment, count(*) AS n
      FROM customer
      GROUP BY 1, 2),
    drawn AS (
      SELECT nation, segment, n,
        ('0x' || substr(md5('pv04#' || nation || '#' || segment), 1, 8))
          ::BIGINT % $DpTotal AS m
      FROM counts)
    SELECT nation, segment,
      CAST(greatest(0, n + (CASE $cases
        ELSE ${DpOutcomes.last._1} END)) AS BIGINT) AS noisy_count,
      CAST(693147 AS BIGINT) AS eps_micro,
      CAST(12 AS BIGINT) AS trunc_at
    FROM drawn
    ORDER BY nation, segment"""
  }

  // ------------------------------ pv05 randomized response (local DP)
  /** pv05 — Warner-1965 randomized response, the LOCAL-model
    * counterpart of pv04's central-model geometric mechanism: each
    * respondent privatizes their own bit BEFORE aggregation (report
    * the truth w.p. p = 3/4, the lie w.p. 1/4 — ε = ln(p/(1−p)) =
    * ln 3), so the aggregator never holds a true microdata row at
    * all. The release carries the per-nation respondent and
    * reported-yes counts plus the debiased estimator of the true
    * count: E[yes] = p·t + (1−p)(n−t) ⇒ t̂ = 2·yes − n/2, emitted in
    * exact integer milli-units (2000·yes − 500·n) so both engines
    * agree bit-for-bit — no floating division anywhere.
    *
    * PRIVACY CAVEAT (same as pv04): the flip draw is md5-gated on the
    * public respondent key so the DuckDB oracle can replay the
    * mechanism arithmetic — which makes THIS demo release invertible
    * by anyone who knows the gate. A production deployment draws the
    * flip from respondent-side secret randomness; only then does the
    * local-DP guarantee hold. What is under test is the mechanism
    * arithmetic and the debiasing algebra.
    *
    * Scale shape: the flip + XOR is per-row codegen'd column math,
    * then ONE combinable groupBy on the release key — privatizing a
    * 100 TB survey costs exactly the count itself (and unlike pv04
    * the noise work distributes over rows, not groups). */
  def randomizedResponse(s: SparkSession, dir: String): DataFrame = {
    val truth = (col("segment") === "BUILDING").cast("long")
    val flip = (pmod(conv(substring(
      md5(concat(lit("pv05#"), col("c_custkey"))), 1, 8), 16, 10)
      .cast("long"), lit(4L)) === 0L).cast("long")
    val reported = pmod(truth + flip, lit(2L))
    release(s, dir)
      .select(col("nation"), reported.as("r"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n"), sum(col("r")).as("n_reported_yes"))
      .select(col("nation"), col("n"), col("n_reported_yes"),
        (col("n_reported_yes") * 2000L - col("n") * 500L)
          .as("est_true_milli"),
        lit(1098612L).as("eps_micro")) // ε = ln 3 in micro-nats
  }

  val randomizedResponseSql: String = """
    WITH resp AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
        (CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
         + CASE WHEN ('0x' || substr(md5('pv05#' || c_custkey), 1, 8))
                     ::BIGINT % 4 = 0 THEN 1 ELSE 0 END) % 2 AS r
      FROM customer)
    SELECT nation, count(*) AS n,
      CAST(sum(r) AS BIGINT) AS n_reported_yes,
      CAST(sum(r) * 2000 - count(*) * 500 AS BIGINT) AS est_true_milli,
      CAST(1098612 AS BIGINT) AS eps_micro
    FROM resp
    GROUP BY nation
    ORDER BY nation"""

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("pv01_k_anonymity", kAnonymityAudit _, Some(kAnonymityAuditSql)),
      ("pv02_generalization_ladder", generalizationLadder _,
        Some(generalizationLadderSql)),
      ("pv03_l_diversity", lDiversityAudit _, Some(lDiversityAuditSql)),
      ("pv04_dp_counts", dpCounts _, Some(dpCountsSql)),
      ("pv05_randomized_response", randomizedResponse _,
        Some(randomizedResponseSql)),
    )
}
