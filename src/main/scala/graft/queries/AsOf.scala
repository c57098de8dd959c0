package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of (most-recent-match) join — a standard time-series operator
  * Spark lacks natively. For each left row, attach the latest right
  * row of the same key with right.ts <= left.ts.
  *
  * Implementation is the scale-correct union+window formulation rather
  * than a per-row range probe: tag both sides, union, and carry the
  * last right-side payload forward over a (key, ts)-ordered window.
  * Cost: ONE shuffle on the key (the window's partitioning) over
  * |left| + |right| rows — no range-join explosion, no broadcast
  * requirement, and AQE-skew-splittable at 100 TB. */
object AsOf {

  /** @param left       probe side; must contain `key` and `ts`
    * @param right      reference side; must contain `key`, `ts`, and
    *                   the payload columns to attach
    * @param key        equi-join key column name
    * @param ts         event-time column name (same name both sides)
    * @param payload    right-side columns carried to the output
    * @param rightTie   deterministic tiebreak among right rows sharing
    *                   (key, ts): highest wins */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               payload: Seq[String], rightTie: String): DataFrame = {
    // dedupe right to one row per (key, ts): keep the highest tiebreak
    val rightRanked = right.withColumn("__rn",
      row_number().over(Window.partitionBy(col(key), col(ts))
        .orderBy(col(rightTie).desc)))
      .filter(col("__rn") === 1).drop("__rn")

    // the matched right row travels as ONE struct (never per-column):
    // per-column carry would stitch values from different right rows
    // whenever the true match holds a NULL payload value. The struct
    // always contains the right ts, so it is non-null exactly when a
    // match exists — NULL payload values survive, and payload may be
    // empty (pure as-of existence filter).
    val leftCols = left.columns
    val rStruct = struct((col(ts).as("__rts") +:
      payload.map(c => col(c))): _*)
    val taggedRight = rightRanked.select(
      (Seq(col(key), col(ts), lit(0).as("__side"),
        rStruct.as("__r")) ++
        leftCols.filterNot(Seq(key, ts).contains)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val rStructType = taggedRight.schema("__r").dataType
    val taggedLeft = left.select(
      (Seq(col(key), col(ts), lit(1).as("__side"),
        lit(null).cast(rStructType).as("__r")) ++
        leftCols.filterNot(Seq(key, ts).contains).map(col)): _*)

    // right rows sort before left rows at equal ts => inclusive (<=)
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    taggedRight.unionByName(taggedLeft)
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("__asof").isNotNull)
      .select((Seq(col(key), col(ts)) ++
        leftCols.filterNot(Seq(key, ts).contains).map(col) ++
        payload.map(c => col(s"__asof.$c").as(s"asof_$c"))): _*)
  }

  /** Demo: each purchase event joined to the user's most recent prior
    * (or simultaneous) signup. DuckDB's native ASOF JOIN is the
    * oracle. */
  def q17AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Streaming.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value"))
    asofJoin(purchases, signups, "user_id", "ts",
      payload = Seq("value"), rightTie = "event_id")
      .select(col("event_id"),
        col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("asof_value").as("signup_value")) // raw passthrough: no fp op
  }

  // DuckDB ASOF JOIN matches the greatest r.ts <= l.ts per key; ties on
  // r.ts are removed up front exactly like the Spark side's dedupe.
  // Timestamps are truncated to the microsecond first, matching the
  // engine's precision (the raw column is nanos).
  val q17Sql: String = """
    WITH ev AS (
      SELECT event_id, user_id, event_type, value,
        date_trunc('microseconds', ts) AS ts FROM events)
    SELECT l.event_id, l.user_id,
      strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      r.value AS signup_value
    FROM (SELECT user_id, ts, event_id FROM ev
          WHERE event_type = 'purchase') l
    ASOF JOIN (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value, row_number() OVER (
          PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM ev WHERE event_type = 'signup')
      WHERE rn = 1) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY l.event_id"""

  /** q31 — the SAME as-of query through the native physical operator
    * ([[graft.plans.AsofJoinExec]]: co-partitioned sort-merge, one
    * streaming pass, O(1) state) instead of the union+window
    * formulation. Reuses q17's DuckDB oracle verbatim, so the custom
    * LogicalPlan → Strategy → SparkPlan path is hash-checked
    * bit-for-bit, not just spec-asserted. Unlike q17 it needs no
    * right-side (key, ts) pre-dedupe: the merge's (ts, tie)-ascending
    * consume order makes the highest tiebreak win naturally. */
  def q31AsofNative(spark: SparkSession, dir: String): DataFrame = {
    val e = Streaming.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value"))
    graft.plans.AsofJoin.asofJoin(purchases, signups, "user_id", "ts",
      payload = Seq("value"), rightTie = "event_id")
      .select(col("event_id"),
        col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("asof_value").as("signup_value"))
  }

  /** q33 — FORWARD as-of through the native operator: each signup
    * matched to the user's EARLIEST purchase at or after it — the
    * time-to-conversion join (the forward direction of pandas
    * `merge_asof`). Ties on (user, ts) break to the lowest event_id,
    * mirrored in the oracle's pre-dedupe; DuckDB's ASOF JOIN with
    * `l.ts <= r.ts` is the native cross-check. */
  def q33AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val e = Streaming.events(spark, dir)
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value"))
    graft.plans.AsofJoin.asofJoin(signups, purchases, "user_id", "ts",
      payload = Seq("value"), rightTie = "event_id",
      forward = true, toleranceMicros = None)
      .select(col("event_id"),
        col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"),
        col("asof_value").as("purchase_value"))
  }

  val q33Sql: String = """
    WITH ev AS (
      SELECT event_id, user_id, event_type, value,
        date_trunc('microseconds', ts) AS ts FROM events)
    SELECT l.event_id, l.user_id,
      strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
      r.value AS purchase_value
    FROM (SELECT user_id, ts, event_id FROM ev
          WHERE event_type = 'signup') l
    ASOF JOIN (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value, row_number() OVER (
          PARTITION BY user_id, ts ORDER BY event_id ASC) AS rn
        FROM ev WHERE event_type = 'purchase')
      WHERE rn = 1) r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    ORDER BY l.event_id"""

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("q17_asof_join", q17AsofJoin _, Some(q17Sql)),
      ("q31_asof_native", q31AsofNative _, Some(q17Sql)),
      ("q33_asof_forward", q33AsofForward _, Some(q33Sql)))
}
