package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Artifacts
import org.apache.spark.sql.types.DecimalType

/** The composed curation pipeline — the "a user could switch" showcase:
  * the stages every training-data pipeline chains (exact dedup → PII
  * scrub → quality gate → language gate) run as ONE declarative plan,
  * verified end-to-end by a single exact DuckDB oracle. Each stage
  * changes the surviving set, so a hash match proves the composition,
  * not just the parts.
  *
  * Scale shape: one shuffle for the dedup groupBy (keyed on the text
  * hash); everything after is a stateless scan-speed select — the
  * filters are codegen'd predicates fused into one WholeStageCodegen
  * span, no joins, no further shuffles. At 100 TB the cost is the
  * dedup exchange plus one pass.
  */
object Curation {

  /** Quality gate: ≥ MinTokens whitespace tokens and ≥ half of them
    * distinct. Integer arithmetic only, so both engines agree exactly. */
  private val MinTokens = 12

  /** c01 — survivors of dedup → scrub → quality → language, with the
    * per-doc stats each stage produced. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
    // stage 1: exact dedup, min-id survivor per identical text
    val kept = docs.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
    // stage 2: PII plant (synthetic corpus carries none) + scrub
    val scrubbed = TextAnalysis.redact(TextAnalysis.piiPlant(kept))
    // stage 3 + 4: quality + language signals on the REDACTED text
    val toks = split(col("redacted"), " ")
    val enWords = TextAnalysis.LangStopwords.toMap.apply("en")
    val gated = scrubbed
      .withColumn("n_pii",
        col("n_emails") + col("n_phones") + col("n_ips"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_unique", size(array_distinct(toks)).cast("long"))
      .withColumn("en_hits", size(filter(toks,
        t => enWords.map(w => t === w).reduce(_ || _))).cast("long"))
      .filter(col("n_tokens") >= MinTokens &&
        col("n_unique") * 2 >= col("n_tokens") &&
        col("en_hits") >= 1)
    gated.select("doc_id", "n_pii", "n_tokens", "n_unique", "en_hits")
      .orderBy("doc_id")
  }

  /** One oracle for the whole chain, each stage a CTE built from the
    * same shared SQL generators the per-stage oracles use. */
  val curationPipelineSql: String = {
    val enList = TextAnalysis.LangStopwords.toMap.apply("en")
      .map(w => s"'${w.replace("'", "''")}'").mkString(",")
    s"""
    WITH kept AS (
      SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
    planted AS (${TextAnalysis.piiPlantSql("kept")}),
    scrubbed AS (${TextAnalysis.redactSqlOver("planted")}),
    gated AS (
      SELECT doc_id,
        n_emails + n_phones + n_ips AS n_pii,
        len(string_split(redacted, ' ')) AS n_tokens,
        len(list_distinct(string_split(redacted, ' '))) AS n_unique,
        len(list_filter(string_split(redacted, ' '),
          t -> t IN ($enList))) AS en_hits
      FROM scrubbed)
    SELECT doc_id, n_pii, n_tokens, n_unique, en_hits
    FROM gated
    WHERE n_tokens >= $MinTokens
      AND n_unique * 2 >= n_tokens
      AND en_hits >= 1
    ORDER BY doc_id"""
  }

  /** c02 — the per-(source, lang) data card: the summary table every
    * corpus release ships (doc counts, token/char volumes, share
    * passing the quality gate). All-integer aggregates, so the oracle
    * is exact. One partial-agg shuffle over a tiny (source × lang) key
    * space — at 100 TB this is a map-side-combine scan pass. */
  def sourceDatacard(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTokens = size(toks).cast("long")
    val nUnique = size(array_distinct(toks)).cast("long")
    Relational.table(s, dir, "documents")
      .select(col("source"), col("lang"), col("n_chars"), nTokens
        .as("n_tokens"),
        (nTokens >= MinTokens && nUnique * 2 >= nTokens).cast("long")
          .as("quality_ok"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("quality_ok")).as("n_quality"))
      .orderBy("source", "lang")
  }

  val sourceDatacardSql: String = s"""
    SELECT source, lang, count(*) AS n_docs,
      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      CAST(sum(n_chars) AS BIGINT) AS total_chars,
      CAST(sum(CASE WHEN len(string_split(text, ' ')) >= $MinTokens
        AND len(list_distinct(string_split(text, ' '))) * 2 >=
          len(string_split(text, ' '))
        THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
    FROM documents
    GROUP BY source, lang
    ORDER BY source, lang"""

  /** c03 — snapshot diff: what changed between two corpus versions
    * (the audit every dataset release publishes — added / removed /
    * changed doc ids). Versions are derived deterministically from
    * the documents table: v1 holds every doc except `doc_id % 11 = 3`
    * (later additions), v2 drops `doc_id % 13 = 4` (removals) and
    * rewrites the text of `doc_id % 17 = 2` (edits).
    *
    * Scale shape: each side is reduced MAP-SIDE to (key, md5 digest)
    * before the join, so the one co-partitioned full-outer shuffle
    * carries 32-byte fingerprints instead of document payloads — at
    * 100 TB the diff costs two scan passes plus a hash join on keys,
    * never a byte of text movement. md5 on both engines makes the
    * change detection itself oracle-exact. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val v1 = docs.filter(pmod(col("doc_id"), lit(11)) =!= 3)
      .select(col("doc_id"), md5(col("text")).as("fp1"))
    val v2 = docs.filter(pmod(col("doc_id"), lit(13)) =!= 4)
      .select(col("doc_id"),
        md5(when(pmod(col("doc_id"), lit(17)) === 2,
          concat(lit("EDIT v2 "), col("text"))).otherwise(col("text")))
          .as("fp2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp1").isNull, lit("added"))
          .when(col("fp2").isNull, lit("removed"))
          .when(col("fp1") =!= col("fp2"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
      .orderBy("doc_id")
  }

  val snapshotDiffSql: String = """
    WITH v1 AS (
      SELECT doc_id, md5(text) AS fp1 FROM documents
      WHERE doc_id % 11 <> 3),
    v2 AS (
      SELECT doc_id,
        md5(CASE WHEN doc_id % 17 = 2 THEN 'EDIT v2 ' || text
                 ELSE text END) AS fp2
      FROM documents WHERE doc_id % 13 <> 4)
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
      CASE WHEN v1.doc_id IS NULL THEN 'added'
           WHEN v2.doc_id IS NULL THEN 'removed'
           WHEN fp1 <> fp2 THEN 'changed' END AS status
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    WHERE (v1.doc_id IS NULL OR v2.doc_id IS NULL OR fp1 <> fp2)
    ORDER BY doc_id"""

  /** c04 — latest-wins compaction (the CDC/upsert merge every
    * incrementally-updated corpus table needs): among each key's
    * change records, keep exactly the newest version. One aggregate —
    * `max(struct(ts, tiebreak, payload...))` — does it in a single
    * map-side-combining shuffle; the window-rank formulation
    * (`row_number() == 1`) shuffles the same data but cannot partial-
    * aggregate, so at 100 TB the struct-max is the shape that wins.
    * Keyed on (user_id, event_type) over the events table; event_id
    * breaks exact-timestamp ties deterministically in both engines. */
  def cdcCompact(s: SparkSession, dir: String): DataFrame =
    Streaming.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts"), col("event_id"), col("value")))
        .as("latest"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("latest.ts")).as("latest_us"),
        col("latest.event_id").as("latest_event_id"),
        col("latest.value").as("latest_value"))
      .orderBy("user_id", "event_type")

  val cdcCompactSql: String = """
    SELECT user_id, event_type, epoch_us(m.ts) AS latest_us,
      m.event_id AS latest_event_id, m.value AS latest_value
    FROM (
      SELECT user_id, event_type,
        max(struct_pack(ts := ts, event_id := event_id,
          value := value)) AS m
      FROM events
      GROUP BY user_id, event_type)
    ORDER BY user_id, event_type"""

  /** c05 — SCD2 history build (the dimension-versioning complement of
    * c04's latest-wins compaction): from each key's change log, emit
    * one row per DISTINCT consecutive value with its validity interval
    * `[valid_from, valid_to)` and an `is_current` flag — the standard
    * slowly-changing-dimension type-2 table every warehouse keeps.
    *
    * Scale shape: ONE shuffle on the key. Change detection (`lag`),
    * interval close (`lead`) and the current flag are all windows over
    * the SAME (key, ts, event_id) partitioning — Catalyst plans them
    * without a second exchange, and the change filter between them
    * only shrinks partitions. A join-based formulation (self-join on
    * "next change") would shuffle the log twice. Ties on ts break by
    * event_id, so intervals are deterministic in both engines. */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val key = Seq(col("user_id"), col("event_type"))
    val w = Window.partitionBy(key: _*)
      .orderBy(col("ts"), col("event_id"))
    val changes = Streaming.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"), col("value"))
      .withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev").isNull || col("value") =!= col("prev"))
    changes
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(col("next_ts")).as("valid_to_us"),
        col("next_ts").isNull.cast("long").as("is_current"))
      .orderBy("user_id", "event_type", "valid_from_us")
  }

  val scd2HistorySql: String = """
    WITH changes AS (
      SELECT user_id, event_type, ts, event_id, value
      FROM (
        SELECT user_id, event_type, ts, event_id, value,
          lag(value) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev
        FROM events)
      WHERE prev IS NULL OR value <> prev)
    SELECT user_id, event_type, value,
      epoch_us(ts) AS valid_from_us,
      epoch_us(lead(ts) OVER w) AS valid_to_us,
      CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END
        AS BIGINT) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ORDER BY user_id, event_type, valid_from_us"""

  /** c06 — declarative data-quality EXPECTATIONS audit (the
    * deequ/Great-Expectations job every ingest gate runs): one pass
    * over orders emits row count, per-column null counts, distinct
    * cardinalities, and min/max ranges as a long-format
    * (metric, value) report. All metrics are integer-valued — prices
    * route through DECIMAL cents and dates through epoch days — so
    * the report hash-matches the oracle exactly.
    *
    * Scale shape: every metric rides ONE aggregate job; the two
    * DISTINCT cardinalities make it a single Expand-based
    * multi-distinct pass (Catalyst's standard plan), so the table is
    * scanned once no matter how many expectations ride it. The
    * `stack` to long format is a 1-row local transform. At 100 TB the
    * exact distincts would swap for q18's HLL sketch — same plan
    * shape minus the Expand. */
  def expectations(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "orders")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("o_custkey")).as("custkey_nonnull"),
        count_distinct(col("o_custkey")).as("custkey_distinct"),
        count_distinct(col("o_orderstatus")).as("status_distinct"),
        min(col("o_orderkey")).as("orderkey_min"),
        max(col("o_orderkey")).as("orderkey_max"),
        min(col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("price_cents_min"),
        max(col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("price_cents_max"),
        min(datediff(col("o_orderdate"), lit("1970-01-01")))
          .cast("long").as("date_epoch_day_min"),
        max(datediff(col("o_orderdate"), lit("1970-01-01")))
          .cast("long").as("date_epoch_day_max"))
      .selectExpr("""stack(10,
        'n_rows', n_rows,
        'custkey_nonnull', custkey_nonnull,
        'custkey_distinct', custkey_distinct,
        'status_distinct', status_distinct,
        'orderkey_min', orderkey_min,
        'orderkey_max', orderkey_max,
        'price_cents_min', price_cents_min,
        'price_cents_max', price_cents_max,
        'date_epoch_day_min', date_epoch_day_min,
        'date_epoch_day_max', date_epoch_day_max) AS (metric, value)""")
      .orderBy("metric")

  val expectationsSql: String = """
    SELECT metric, value FROM (
      SELECT 'n_rows' AS metric, CAST(count(*) AS BIGINT) AS value
        FROM orders
      UNION ALL SELECT 'custkey_nonnull',
        CAST(count(o_custkey) AS BIGINT) FROM orders
      UNION ALL SELECT 'custkey_distinct',
        CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
      UNION ALL SELECT 'status_distinct',
        CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
      UNION ALL SELECT 'orderkey_min', min(o_orderkey) FROM orders
      UNION ALL SELECT 'orderkey_max', max(o_orderkey) FROM orders
      UNION ALL SELECT 'price_cents_min',
        CAST(min(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        FROM orders
      UNION ALL SELECT 'price_cents_max',
        CAST(max(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        FROM orders
      UNION ALL SELECT 'date_epoch_day_min',
        CAST(datediff('day', DATE '1970-01-01',
          CAST(min(o_orderdate) AS DATE)) AS BIGINT) FROM orders
      UNION ALL SELECT 'date_epoch_day_max',
        CAST(datediff('day', DATE '1970-01-01',
          CAST(max(o_orderdate) AS DATE)) AS BIGINT) FROM orders)
    ORDER BY metric"""

  /** c07 — robust outlier gate: per order status, flag orders whose
    * price sits more than 3 MADs from the median (median absolute
    * deviation — the robust spread every data-quality stack prefers
    * over stddev, which outliers themselves inflate). Prices route
    * through integer cents; the exact `percentile` of integers
    * interpolates at worst to .5, which doubles represent exactly, so
    * median, MAD, and every flag comparison match DuckDB's
    * quantile_cont bit-for-bit (the q19 exact-percentile parity,
    * reused as a FILTER).
    *
    * Scale shape: two grouped aggregations over the same o_orderstatus
    * partitioning (medians need a second pass over |x − med|, joined
    * back broadcast since groups are few) + one stateless flag scan.
    * Exact per-group percentile buffers a group's values — at 100 TB
    * with high-cardinality groups the swap is q20's t-digest, same
    * plan minus the buffering.
    *
    * The synthetic prices are uniform — no natural point clears 3
    * MADs (a 0-row gate proves nothing) — so every 500th order is
    * PLANTED 25× high, the t22/mm08 closed-form-plant pattern: the
    * gate must recover exactly the planted set for the hash to
    * match. */
  def robustOutliers(s: SparkSession, dir: String): DataFrame = {
    val cents = Relational.table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("raw"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 500 === 0, col("raw") * 25)
          .otherwise(col("raw")).as("cents"))
    val med = cents.groupBy("o_orderstatus")
      .agg(expr("percentile(cents, 0.5)").as("med"))
    val mad = cents.join(broadcast(med), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(expr("percentile(abs(cents - med), 0.5)").as("mad"))
    cents.join(broadcast(med), "o_orderstatus")
      .join(broadcast(mad), "o_orderstatus")
      .filter(abs(col("cents") - col("med")) > col("mad") * 3)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("med"), col("mad"))
      .orderBy("o_orderkey")
  }

  val robustOutliersSql: String = """
    WITH raw AS (
      SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS raw
      FROM orders),
    cents AS (
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 500 = 0 THEN raw * 25 ELSE raw END
          AS cents
      FROM raw),
    med AS (
      SELECT o_orderstatus, quantile_cont(cents, 0.5) AS med
      FROM cents GROUP BY o_orderstatus),
    mad AS (
      SELECT o_orderstatus, quantile_cont(abs(cents - med), 0.5) AS mad
      FROM cents JOIN med USING (o_orderstatus)
      GROUP BY o_orderstatus)
    SELECT o_orderkey, o_orderstatus, cents, med, mad
    FROM cents JOIN med USING (o_orderstatus)
               JOIN mad USING (o_orderstatus)
    WHERE abs(cents - med) > mad * 3
    ORDER BY o_orderkey"""

  /** c08 — incremental materialized-view maintenance: the per-
    * (customer, month) order rollup is built for the BASE epoch
    * (orders before 1997), persisted as the stored view state, then
    * brought current by merging only the DELTA epoch's partial
    * aggregates — never re-reading base facts. This is the standard
    * warehouse pattern for keeping a 100 TB rollup fresh: it works
    * because (count, sum) form a commutative monoid, so "aggregate of
    * union" = "re-aggregate of per-batch aggregates" — the same
    * algebra Spark's own partial aggregation applies within a job,
    * applied here ACROSS jobs with parquet as the carrier.
    *
    * Scale shape: refresh cost is O(|delta| + |view|), independent of
    * |base facts|; at 100 TB the view would be partitioned by month so
    * the merge re-agg touches only the months the delta names
    * (partition pruning on the state read), making refresh O(|delta|).
    * The oracle recomputes from ALL facts — equality proves the
    * incremental path loses nothing. */
  def incrementalMv(s: SparkSession, dir: String): DataFrame = {
    val orders = Relational.table(s, dir, "orders")
      .select(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        col("o_orderdate"))
    val split = lit("1997-01-01").cast("timestamp")
    def rollup(df: DataFrame): DataFrame =
      df.groupBy("o_custkey", "month")
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    val stateDir = Artifacts.root(s, "c08_mv", dir).getAbsolutePath
    rollup(orders.filter(col("o_orderdate") < split))
      .write.mode("overwrite").parquet(stateDir)
    val base = s.read.parquet(stateDir) // the stored view, read back
    val delta = rollup(orders.filter(col("o_orderdate") >= split))
    base.unionByName(delta)
      .groupBy("o_custkey", "month")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("cents")).as("cents"))
      .orderBy("o_custkey", "month")
  }

  val incrementalMvSql: String = """
    SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS month,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    GROUP BY o_custkey, strftime(o_orderdate, '%Y-%m')
    ORDER BY o_custkey, month"""

  /** c09 — incremental DISTINCT-count maintenance with stored HLL
    * sketches: c08's pattern applied to the one aggregate that is NOT
    * a trivial monoid on its outputs. Distinct counts cannot be
    * merged from per-epoch counts (customers overlap epochs), but
    * their SKETCHES can: the base epoch's per-priority HLL sketches
    * persist as binary columns (the stored view state), the delta
    * epoch's sketches union in via `hll_union_agg`, and the estimate
    * reads off the merged sketch — refresh stays O(delta + view) with
    * ~KB of state per group where the exact answer would need the
    * full customer id set per group.
    *
    * At 100 TB this IS the count-distinct playbook: mergeable
    * DataSketches state in the lakehouse, re-aggregable along any
    * rollup. Estimates are engine-specific (rows-only row); the
    * paired `c09_sketch_inv` pins |est − exact| within 5% per group
    * against DuckDB's exact side — the q18 error-contract pattern. */
  def sketchMv(s: SparkSession, dir: String): DataFrame = {
    val orders = Relational.table(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_custkey"),
        col("o_orderdate"))
    val split = lit("1997-01-01").cast("timestamp")
    def sketch(df: DataFrame): DataFrame =
      df.groupBy("o_orderpriority")
        .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
    val stateDir = Artifacts.root(s, "c09_sk", dir).getAbsolutePath
    sketch(orders.filter(col("o_orderdate") < split))
      .write.mode("overwrite").parquet(stateDir)
    val base = s.read.parquet(stateDir) // stored sketches, read back
    val delta = sketch(orders.filter(col("o_orderdate") >= split))
    val merged = base.unionByName(delta)
      .groupBy("o_orderpriority")
      .agg(expr("hll_union_agg(sk)").as("sk"))
      .select(col("o_orderpriority"),
        expr("hll_sketch_estimate(sk)").as("est"))
    val exact = orders.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("exact"))
    merged.join(exact, "o_orderpriority")
      .select(col("o_orderpriority"), col("est"), col("exact"))
      .orderBy("o_orderpriority")
  }

  /** Error contract of [[sketchMv]], DuckDB-checkable: every group's
    * merged-sketch estimate lands within 5% of the exact count. */
  def sketchMvInv(s: SparkSession, dir: String): DataFrame =
    sketchMv(s, dir)
      .select(col("o_orderpriority"),
        (abs(col("est") - col("exact")) * 100 <= col("exact") * 5)
          .cast("long").as("within_5pct"))
      .orderBy("o_orderpriority")

  val sketchMvInvSql: String = """
    SELECT o_orderpriority, CAST(1 AS BIGINT) AS within_5pct
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  // ---------------------------------------------- c10 freshness audit
  /** c10 — ingestion freshness + completeness audit, the data-quality
    * check every continuously-fed table needs: per event feed
    * (event_type), how stale is the newest record vs the globally
    * newest one (`lag_minutes`), and are there holes in the hourly
    * arrival coverage (`hours_missing` = hour buckets between the
    * feed's first and last event that received NO events)? All time
    * arithmetic routes through integer epoch-microseconds with floor
    * division, so every lag/bucket/flag replays bit-exactly in the
    * oracle.
    *
    * Scale shape: ONE pass over the fact table — a feed-keyed
    * aggregate (map-side combinable; the hour-bucket distinct is a
    * per-feed partial distinct, cardinality-bounded by hours, not
    * rows) plus a broadcast of the 1-row global max. No windows, no
    * self-joins; 100 TB costs one scan. */
  def freshnessAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = Streaming.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val per = ev.groupBy("event_type").agg(
      count(lit(1)).as("n_events"),
      max(col("us")).as("max_us"),
      min(col("us")).as("min_us"),
      countDistinct(expr("us div 3600000000")).as("hours_present"))
    per.crossJoin(broadcast(ev.agg(max(col("us")).as("g_us"))))
      .select(col("event_type"), col("n_events"),
        expr("(g_us - max_us) div 60000000").as("lag_minutes"),
        col("hours_present"),
        expr("(max_us div 3600000000) - (min_us div 3600000000) + 1")
          .as("hours_expected"))
      .withColumn("hours_missing",
        col("hours_expected") - col("hours_present"))
      .withColumn("is_fresh",
        when(col("lag_minutes") <= 60, 1L).otherwise(0L))
      .orderBy("event_type")
  }

  val freshnessAuditSql: String = """
    WITH ev AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events),
    per AS (
      SELECT event_type, count(*) AS n_events,
        max(us) AS max_us, min(us) AS min_us,
        count(DISTINCT us // 3600000000) AS hours_present
      FROM ev GROUP BY event_type),
    g AS (SELECT max(us) AS g_us FROM ev)
    SELECT event_type, n_events,
      (g_us - max_us) // 60000000 AS lag_minutes,
      hours_present,
      (max_us // 3600000000) - (min_us // 3600000000) + 1
        AS hours_expected,
      (max_us // 3600000000) - (min_us // 3600000000) + 1
        - hours_present AS hours_missing,
      CAST(CASE WHEN (g_us - max_us) // 60000000 <= 60
        THEN 1 ELSE 0 END AS BIGINT) AS is_fresh
    FROM per, g
    ORDER BY event_type"""

  // --------------------------------- c11 referential-integrity audit
  /** c11 — referential-integrity audit across the star schema's
    * foreign keys, run against a SIMULATED partial parent load (every
    * 97th order missing from the parent snapshot — the failure mode a
    * mid-flight ingest actually produces): per relation, child rows
    * checked, orphan rows, and distinct missing parent keys. The
    * orders→customer and lineitem→part/supplier edges audit the real
    * (clean) parents, so the report shows both a firing check and
    * passing ones.
    *
    * Scale shape: each check is ONE left-anti join on the FK — child
    * shuffles on its key once, small parents broadcast (customer/
    * part/supplier at catalog scale), and the per-relation counts are
    * map-side-combinable. No row data moves beyond the keys. */
  def referentialIntegrity(s: SparkSession, dir: String): DataFrame = {
    def audit(rel: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val orphans = child.join(parent,
        child(key) === parent(pkey), "left_anti")
      child.agg(count(lit(1)).as("n_rows")).crossJoin(
        orphans.agg(count(lit(1)).as("n_orphans"),
          countDistinct(col(key)).as("n_missing_keys")))
        .select(lit(rel).as("relation"), col("n_rows"),
          col("n_orphans"), col("n_missing_keys"))
    }
    val li = Relational.table(s, dir, "lineitem")
    val orders = Relational.table(s, dir, "orders")
    val partialOrders = orders.filter(col("o_orderkey") % 97 =!= 0)
    audit("lineitem->orders(partial)", li, "l_orderkey",
        partialOrders, "o_orderkey")
      .unionAll(audit("orders->customer", orders, "o_custkey",
        Relational.table(s, dir, "customer"), "c_custkey"))
      .unionAll(audit("lineitem->part", li, "l_partkey",
        Relational.table(s, dir, "part"), "p_partkey"))
      .unionAll(audit("lineitem->supplier", li, "l_suppkey",
        Relational.table(s, dir, "supplier"), "s_suppkey"))
      .orderBy("relation")
  }

  val referentialIntegritySql: String = """
    SELECT * FROM (
      SELECT 'lineitem->orders(partial)' AS relation,
        (SELECT count(*) FROM lineitem) AS n_rows,
        count(*) AS n_orphans,
        count(DISTINCT l_orderkey) AS n_missing_keys
      FROM lineitem
      WHERE l_orderkey NOT IN (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0)
      UNION ALL
      SELECT 'orders->customer',
        (SELECT count(*) FROM orders), count(*),
        count(DISTINCT o_custkey)
      FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
      UNION ALL
      SELECT 'lineitem->part',
        (SELECT count(*) FROM lineitem), count(*),
        count(DISTINCT l_partkey)
      FROM lineitem
      WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
      UNION ALL
      SELECT 'lineitem->supplier',
        (SELECT count(*) FROM lineitem), count(*),
        count(DISTINCT l_suppkey)
      FROM lineitem
      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
    ORDER BY relation"""

  // -------------------------------------- c12 distribution drift
  /** c12 — epoch-over-epoch distribution-drift audit (the "did this
    * ingest batch change the data's shape" gate that decides whether
    * a model refresh is safe): order totals are bucketed into 8 fixed
    * 625-dollar-wide cents bands, epochs split at 1998-01-01, and a
    * REAL shift is planted — the later epoch drops every 3rd order in
    * the upper half of the price range, simulating a source that
    * stopped sending large transactions. The per-bucket divergence is
    * an integer chi-square-style score over ppm proportions,
    * (pA−pB)² div (pA+pB+1): division-free enough to replay exactly,
    * monotone in the shift size, and zero when the epochs agree.
    * Proportions (not raw counts) keep the arithmetic in range at ANY
    * scale — cross-multiplying raw counts would overflow 64 bits at
    * sf1 (cA·NB ~ 10¹², squared ~10²⁴).
    *
    * Scale shape: ONE map-combinable (epoch, bucket) count agg over
    * the facts — 16 rows out — then driver-free plan-side arithmetic
    * on the tiny pivot; the audit costs a single scan at 100 TB. */
  def driftAudit(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    // integral `div` (a `/` on longs is double division in Spark)
    val bucket = expr("least(7, cents div 6250000)").cast("long")
    val base = Relational.table(s, dir, "orders")
      .select(col("o_orderkey"), cents.as("cents"),
        (to_date(col("o_orderdate")) < lit("1998-01-01")).as("is_a"))
      .withColumn("bucket", bucket)
      // planted shift: epoch B loses every 3rd order in buckets >= 4
      .filter(col("is_a") ||
        !(col("o_orderkey") % 3 === 0 && col("bucket") >= 4))
    val counts = base.groupBy("bucket")
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("c_b"))
    val totals = counts.agg(sum(col("c_a")).as("n_a"),
      sum(col("c_b")).as("n_b"))
    counts.crossJoin(broadcast(totals))
      .withColumn("pa_ppm", expr("c_a * 1000000 div n_a"))
      .withColumn("pb_ppm", expr("c_b * 1000000 div n_b"))
      .withColumn("drift",
        expr("(pa_ppm - pb_ppm) * (pa_ppm - pb_ppm) " +
          "div (pa_ppm + pb_ppm + 1)"))
      .select("bucket", "c_a", "c_b", "pa_ppm", "pb_ppm", "drift")
      .orderBy("bucket")
  }

  val driftAuditSql: String = """
    WITH base AS (
      SELECT o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS cents,
        CAST(o_orderdate AS DATE) < DATE '1998-01-01' AS is_a
      FROM orders),
    bucketed AS (
      SELECT o_orderkey, is_a,
        least(7, cents // 6250000) AS bucket
      FROM base),
    survived AS (
      SELECT * FROM bucketed
      WHERE is_a OR NOT (o_orderkey % 3 = 0 AND bucket >= 4)),
    counts AS (
      SELECT bucket,
        CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
      FROM survived GROUP BY bucket),
    totals AS (
      SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM counts)
    SELECT bucket, c_a, c_b,
      CAST(c_a * 1000000 // n_a AS BIGINT) AS pa_ppm,
      CAST(c_b * 1000000 // n_b AS BIGINT) AS pb_ppm,
      CAST((c_a * 1000000 // n_a - c_b * 1000000 // n_b)
        * (c_a * 1000000 // n_a - c_b * 1000000 // n_b)
        // (c_a * 1000000 // n_a + c_b * 1000000 // n_b + 1)
        AS BIGINT) AS drift
    FROM counts CROSS JOIN totals
    ORDER BY bucket"""

  // ------------------------------------- c13 retention purge audit
  /** c13 — right-to-erasure / retention purge with a cascade ledger
    * (the GDPR-delete discipline): an erasure list (every 89th
    * customer) cascades through the star schema — the customer's
    * orders go, and the orders' lineitems go with them. The audit
    * emits one ledger row per relation: rows purged, rows retained,
    * and the distinct erased entities that actually had data there
    * (tombstones) — the numbers a compliance report needs and the
    * invariant purged + retained == original the spec replays.
    *
    * Scale shape: the purge is anti-join-shaped — each fact table is
    * filtered by a broadcast of the (tiny) erasure list, O(facts) one
    * pass with no shuffle of the facts at all for the customer-keyed
    * relations; lineitem cascades through a semi-join on the purged
    * orderkeys (one key shuffle). Nothing is rewritten twice: at
    * 100 TB this is the partition-rewrite pattern of j08 applied with
    * a delete predicate. */
  def retentionPurge(s: SparkSession, dir: String): DataFrame = {
    val erased = Relational.table(s, dir, "customer")
      .filter(col("c_custkey") % 89 === 0)
      .select(col("c_custkey").as("gone"))
    val orders = Relational.table(s, dir, "orders")
    val purgedOrders = orders
      .join(broadcast(erased), col("o_custkey") === col("gone"))
      .persist()
    val li = Relational.table(s, dir, "lineitem")
    val purgedLi = li.join(
      purgedOrders.select(col("o_orderkey").as("pk")),
      col("l_orderkey") === col("pk"), "left_semi")
    val oLedger = purgedOrders
      .agg(count(lit(1)).as("n_purged"),
        count_distinct(col("gone")).as("tombstones"))
      .crossJoin(orders.agg(count(lit(1)).as("n_total")))
      .select(lit("orders").as("relation"), col("n_purged"),
        (col("n_total") - col("n_purged")).as("n_retained"),
        col("tombstones"))
    val liLedger = purgedLi
      .agg(count(lit(1)).as("n_purged"),
        count_distinct(col("l_orderkey")).as("tombstones"))
      .crossJoin(li.agg(count(lit(1)).as("n_total")))
      .select(lit("lineitem").as("relation"), col("n_purged"),
        (col("n_total") - col("n_purged")).as("n_retained"),
        col("tombstones"))
    CacheScope.materializeAndRelease(
      oLedger.unionAll(liLedger).orderBy("relation"), purgedOrders)
  }

  val retentionPurgeSql: String = """
    WITH erased AS (
      SELECT c_custkey AS gone FROM customer WHERE c_custkey % 89 = 0),
    po AS (
      SELECT o.o_orderkey, o.o_custkey FROM orders o
      JOIN erased e ON o.o_custkey = e.gone),
    pl AS (
      SELECT l.l_orderkey FROM lineitem l
      WHERE l.l_orderkey IN (SELECT o_orderkey FROM po))
    SELECT 'lineitem' AS relation, count(*) AS n_purged,
      (SELECT count(*) FROM lineitem) - count(*) AS n_retained,
      CAST(count(DISTINCT l_orderkey) AS BIGINT) AS tombstones
    FROM pl
    UNION ALL
    SELECT 'orders' AS relation, count(*) AS n_purged,
      (SELECT count(*) FROM orders) - count(*) AS n_retained,
      CAST(count(DISTINCT o_custkey) AS BIGINT) AS tombstones
    FROM po
    ORDER BY relation"""

  // ----------------------------- c14 header/detail reconciliation
  /** c14 — header/detail reconciliation audit: does each order
    * header's total agree with the sum of its lines' charges
    * (Σ extendedprice·(1−disc)·(1+tax))? The classic financial-data
    * integrity check — run in exact integer micro-cents (per-row
    * DECIMAL casts BEFORE multiplication, so both engines compute the
    * identical product), with each order's relative gap bucketed into
    * a mismatch-band histogram per order status: exact / <1% / <10% /
    * ≥10% / headers with no lines. The synthetic corpus draws totals
    * and prices independently, so the bands are genuinely populated —
    * and the audit is exactly what would PROVE that about a real feed.
    *
    * Scale shape: one lineitem pre-agg on orderkey (map-combinable),
    * one key join to headers, one tiny banded agg — the fact tables
    * are each scanned once. Cross-multiplied integer band tests, no
    * division. */
  def reconciliation(s: SparkSession, dir: String): DataFrame = {
    val headerMicro = (col("o_totalprice").cast(DecimalType(18, 2))
      * 1000000).cast("long")
    // exact per-line charge in micro-units: price has 2 decimals,
    // disc/tax 2 → the product has ≤6 decimals, DECIMAL(28,6) exact
    val lineMicro = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(4, 2)) -
        col("l_discount").cast(DecimalType(4, 2))) *
      (lit(BigDecimal(1)).cast(DecimalType(4, 2)) +
        col("l_tax").cast(DecimalType(4, 2))))
      .cast(DecimalType(28, 6))
    val lines = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"), lineMicro.as("charge"))
      .groupBy("l_orderkey")
      .agg((sum(col("charge")) * 1000000).cast("long")
        .as("detail_micro"))
    val gapBand = when(col("detail_micro").isNull, "no_lines")
      .when(col("gap") === 0, "exact")
      .when(col("gap") * 100 < col("header_micro"), "lt_1pct")
      .when(col("gap") * 10 < col("header_micro"), "lt_10pct")
      .otherwise("ge_10pct")
    Relational.table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        headerMicro.as("header_micro"))
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("gap",
        abs(col("header_micro") - col("detail_micro")))
      .withColumn("band", gapBand)
      .groupBy("o_orderstatus", "band")
      .agg(count(lit(1)).as("n_orders"),
        sum(coalesce(col("gap"), lit(0L))).as("total_gap_micro"))
      .orderBy("o_orderstatus", "band")
  }

  val reconciliationSql: String = """
    WITH lines AS (
      SELECT l_orderkey,
        CAST(sum(CAST(
          CAST(l_extendedprice AS DECIMAL(18,2)) *
          (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) *
          (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))
          AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS detail_micro
      FROM lineitem GROUP BY l_orderkey),
    joined AS (
      SELECT o.o_orderstatus,
        CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 1000000 AS BIGINT)
          AS header_micro,
        l.detail_micro,
        abs(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 1000000
          AS BIGINT) - l.detail_micro) AS gap
      FROM orders o LEFT JOIN lines l ON o.o_orderkey = l.l_orderkey)
    SELECT o_orderstatus,
      CASE WHEN detail_micro IS NULL THEN 'no_lines'
           WHEN gap = 0 THEN 'exact'
           WHEN gap * 100 < header_micro THEN 'lt_1pct'
           WHEN gap * 10 < header_micro THEN 'lt_10pct'
           ELSE 'ge_10pct' END AS band,
      count(*) AS n_orders,
      CAST(sum(COALESCE(gap, 0)) AS BIGINT) AS total_gap_micro
    FROM joined
    GROUP BY 1, 2
    ORDER BY o_orderstatus, band"""

  // ------------------------------- c15 label-agreement audit (kappa)
  /** c15 — inter-annotator agreement for label quality control: the
    * Cohen's-kappa gate every labeled-training-data pipeline runs
    * before trusting its annotations (raw percent agreement is
    * inflated by class imbalance; kappa subtracts the agreement two
    * annotators would reach by chance). Two deterministic
    * "annotators" label each order urgent/routine: annotator 1 reads
    * the priority field; annotator 2 reads the same signal with a
    * ~10% md5-gated flip (the simulated labeling noise, replayable in
    * both engines). Per order status: the 2×2 confusion counts,
    * observed and chance agreement, and kappa — all in exact ppm
    * integer arithmetic (proportions, not raw cross-products, so the
    * math stays in 64-bit range at any corpus size — c12's trick;
    * the simulated noise keeps kappa positive, so `div`-vs-`//`
    * truncation semantics never diverge on a negative numerator).
    *
    * Scale shape: one map pass to label, ONE combinable groupBy for
    * the confusion counts, scalar ppm math on the tiny result. */
  def labelAgreement(s: SparkSession, dir: String): DataFrame = {
    val urgent1 = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val u = conv(substring(md5(concat(lit("c15#"), col("o_orderkey"))),
      1, 8), 16, 10).cast("long")
    val flip = u * 10 < 4294967296L
    val urgent2 = urgent1 =!= flip // XOR: flip inverts the signal
    Relational.table(s, dir, "orders")
      .select(col("o_orderstatus").as("status"),
        urgent1.cast("long").as("a1"), urgent2.cast("long").as("a2"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        sum(col("a1") * col("a2")).as("n11"),
        sum(col("a1") * (lit(1L) - col("a2"))).as("n10"),
        sum((lit(1L) - col("a1")) * col("a2")).as("n01"),
        sum((lit(1L) - col("a1")) * (lit(1L) - col("a2"))).as("n00"))
      .withColumn("po_ppm", expr("(n11 + n00) * 1000000 div n"))
      .withColumn("y1_ppm", expr("(n11 + n10) * 1000000 div n"))
      .withColumn("y2_ppm", expr("(n11 + n01) * 1000000 div n"))
      .withColumn("pe_ppm", expr(
        "(y1_ppm * y2_ppm + (1000000 - y1_ppm) * (1000000 - y2_ppm)) " +
          "div 1000000"))
      .withColumn("kappa_ppm", expr(
        "(po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm)"))
      .select("status", "n", "n11", "n10", "n01", "n00", "po_ppm",
        "pe_ppm", "kappa_ppm")
      .orderBy("status")
  }

  /** c16 — RETRACTION-aware incremental view maintenance: c08 folds
    * an append-only delta into a stored rollup, but a real CDC feed
    * carries deletes and updates too, and those break the two kinds
    * of aggregate differently. The view here is per (o_orderpriority,
    * month): n_orders, cents, cents_min, cents_max over base-era
    * orders, maintained under a deterministic CDC batch derived from
    * the data itself (so DuckDB replays the NET state exactly):
    * post-split rows are INSERTS, base rows with o_orderkey%7==0 are
    * DELETES, base rows with %7!=0 && %11==3 are UPDATES (retract old
    * cents, insert cents+10000).
    *
    *  - count/sum are ABELIAN-GROUP aggregates: the delta folds in as
    *    signed (±1, ±cents) partial rows — one delta-sized
    *    aggregation joined to the view, the base is never touched; a
    *    group whose count reaches 0 leaves the view.
    *  - min/max are only SEMIGROUP aggregates — a retraction is not
    *    invertible. The maintenance rule: if no retracted value in a
    *    group EQUALS the stored extremum, the new extremum is
    *    least/greatest(stored, inserted values); otherwise the group
    *    is flagged and recomputed from the base facts GROUP-PRUNED to
    *    the flagged keys (a semi-join, never a full rescan; at 100 TB
    *    the flagged-group scan partition-prunes on the view key).
    *    Equality is conservative: a retracted duplicate of the min
    *    flags the group even when another copy survives — correctness
    *    over thrift.
    *
    * The emitted view is the exact net state (all integer cents), so
    * the whole maintenance dance carries a DIRECT DuckDB oracle; the
    * group-pruned-recompute claim is Round13Spec's closed-form pin
    * (exactly the constructed fixture's min-retracted group
    * recomputes, and only it). */
  def retractableMv(s: SparkSession, dir: String): DataFrame =
    retractableMvWithAudit(s, dir)
      .select("o_orderpriority", "month", "n_orders", "cents",
        "cents_min", "cents_max")
      .orderBy("o_orderpriority", "month")

  /** The c16/st36 fact projection: every order as (key, view key,
    * integer cents, date) — shared so the streamed twin's CDC feed
    * and the batch pass agree cell-exactly. */
  private[graft] def c16Facts(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        col("o_orderdate"))

  private[graft] val C16Split = "1997-01-01"

  /** The RETRACTION FOLD shared by c16 (one batch) and st36 (every
    * micro-batch): merge a stored view with a SIGNED delta —
    * count/sum fold additively; min/max flag any group whose stored
    * extremum was retracted and repair ONLY those groups from
    * `survivors` (the caller's view of the CURRENT leaf rows; the
    * fold group-prunes it with a semi-join, so the caller passes the
    * whole frame, never a pre-filtered one). Emits the new view rows
    * with the `recomputed` audit column. */
  private[graft] def foldRetractions(state: DataFrame, delta: DataFrame,
      survivors: DataFrame): DataFrame = {
    val keys = Seq("o_orderpriority", "month")
    val dAgg = delta.groupBy("o_orderpriority", "month")
      .agg(sum(col("sign")).as("dn"),
        sum(col("sign") * col("cents")).as("dc"),
        min(when(col("sign") > 0, col("cents"))).as("ins_min"),
        max(when(col("sign") > 0, col("cents"))).as("ins_max"),
        min(when(col("sign") < 0, col("cents"))).as("del_min"),
        max(when(col("sign") < 0, col("cents"))).as("del_max"))
    val merged = state.join(dAgg, keys, "full_outer")
      .withColumn("n_new",
        coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L)))
      .withColumn("c_new",
        coalesce(col("cents"), lit(0L)) + coalesce(col("dc"), lit(0L)))
      .withColumn("recomputed",
        // a retracted value equal to the stored extremum invalidates
        // it (a retraction below the min is impossible — it was in
        // the base); insert-only and untouched groups never flag
        col("del_min") === col("cents_min") ||
          col("del_max") === col("cents_max"))
      .withColumn("recomputed",
        coalesce(col("recomputed"), lit(false)))
      .filter(col("n_new") > 0)
    // ---- the cheap path: extremes from stored ⊕ inserted ----
    val cheap = merged.filter(!col("recomputed"))
      .select(col("o_orderpriority"), col("month"),
        col("n_new").as("n_orders"), col("c_new").as("cents"),
        least(col("cents_min"), col("ins_min")).as("cents_min"),
        greatest(col("cents_max"), col("ins_max")).as("cents_max"),
        col("recomputed"))
    // ---- the rescan path, GROUP-PRUNED to the flagged keys ----
    val flaggedKeys = merged.filter(col("recomputed"))
      .select(keys.map(col): _*)
    val rescanned = survivors
      .join(flaggedKeys, keys, "left_semi")
      .groupBy("o_orderpriority", "month")
      .agg(min(col("cents")).as("cents_min"),
        max(col("cents")).as("cents_max"))
      .join(merged.filter(col("recomputed"))
        .select(col("o_orderpriority"), col("month"),
          col("n_new").as("n_orders"), col("c_new").as("cents"),
          col("recomputed")), keys)
      .select(col("o_orderpriority"), col("month"), col("n_orders"),
        col("cents"), col("cents_min"), col("cents_max"),
        col("recomputed"))
    cheap.unionByName(rescanned)
  }

  /** The maintenance pass with its audit column (`recomputed` — did
    * this group take the group-pruned rescan path). The gate projects
    * the audit away; the spec pins it. */
  private[graft] def retractableMvWithAudit(s: SparkSession,
      dir: String): DataFrame = {
    val split = lit(C16Split).cast("timestamp")
    val facts = c16Facts(s, dir)
    val base = facts.filter(col("o_orderdate") < split)
    // ---- the stored view (c08's discipline: write, read back; the
    // dir is TAGGED by sf dir so a second dir in the same application
    // cannot overwrite state a still-lazy first plan will re-read) ----
    val stateDir = Artifacts.root(s, "c16_mv", dir).getAbsolutePath
    base.groupBy("o_orderpriority", "month")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"),
        min(col("cents")).as("cents_min"),
        max(col("cents")).as("cents_max"))
      .write.mode("overwrite").parquet(stateDir)
    val state = s.read.parquet(stateDir)
    // ---- the CDC batch, as signed rows ----
    val deletes = base.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderpriority"), col("month"), col("cents"),
        lit(-1L).as("sign"))
    val updated = base.filter(pmod(col("o_orderkey"), lit(7)) =!= 0 &&
      pmod(col("o_orderkey"), lit(11)) === 3)
    val updOld = updated.select(col("o_orderpriority"), col("month"),
      col("cents"), lit(-1L).as("sign"))
    val updNew = updated.select(col("o_orderpriority"), col("month"),
      (col("cents") + 10000L).as("cents"), lit(1L).as("sign"))
    val inserts = facts.filter(col("o_orderdate") >= split)
      .select(col("o_orderpriority"), col("month"), col("cents"),
        lit(1L).as("sign"))
    val delta = deletes.unionByName(updOld).unionByName(updNew)
      .unionByName(inserts)
    // the CURRENT leaf rows for extremum repair: surviving base rows
    // (deletes dropped, updates applied) plus the inserts
    val survivors = base
      .filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
      .withColumn("cents",
        when(pmod(col("o_orderkey"), lit(11)) === 3,
          col("cents") + 10000L).otherwise(col("cents")))
      .select(col("o_orderpriority"), col("month"), col("cents"))
      .unionByName(inserts.select("o_orderpriority", "month", "cents"))
    foldRetractions(state, delta, survivors)
  }

  val retractableMvSql: String = """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
        strftime(o_orderdate, '%Y-%m') AS month,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
    final AS (
      SELECT o_orderpriority, month,
        CASE WHEN o_orderkey % 11 = 3 THEN cents + 10000
          ELSE cents END AS cents
      FROM base WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS cents
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
    SELECT o_orderpriority, month,
      CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(cents) AS BIGINT) AS cents,
      min(cents) AS cents_min, max(cents) AS cents_max
    FROM final
    GROUP BY o_orderpriority, month
    ORDER BY o_orderpriority, month"""

  val labelAgreementSql: String = """
    WITH labeled AS (
      SELECT o_orderstatus AS status,
        CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS BIGINT) AS a1,
        CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') <>
          (('0x' || substr(md5('c15#' || o_orderkey), 1, 8))::BIGINT
            * 10 < 4294967296) AS BIGINT) AS a2
      FROM orders),
    conf AS (
      SELECT status, count(*) AS n,
        CAST(sum(a1 * a2) AS BIGINT) AS n11,
        CAST(sum(a1 * (1 - a2)) AS BIGINT) AS n10,
        CAST(sum((1 - a1) * a2) AS BIGINT) AS n01,
        CAST(sum((1 - a1) * (1 - a2)) AS BIGINT) AS n00
      FROM labeled GROUP BY status),
    ppm AS (
      SELECT *,
        (n11 + n00) * 1000000 // n AS po_ppm,
        (n11 + n10) * 1000000 // n AS y1_ppm,
        (n11 + n01) * 1000000 // n AS y2_ppm
      FROM conf),
    pe AS (
      SELECT *,
        (y1_ppm * y2_ppm + (1000000 - y1_ppm) * (1000000 - y2_ppm))
          // 1000000 AS pe_ppm
      FROM ppm)
    SELECT status, n, n11, n10, n01, n00, po_ppm, pe_ppm,
      CAST((po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm) AS BIGINT)
        AS kappa_ppm
    FROM pe
    ORDER BY status"""

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("c01_curation_pipeline", curationPipeline _,
        Some(curationPipelineSql)),
      ("c02_source_datacard", sourceDatacard _, Some(sourceDatacardSql)),
      ("c03_snapshot_diff", snapshotDiff _, Some(snapshotDiffSql)),
      ("c04_cdc_compact", cdcCompact _, Some(cdcCompactSql)),
      ("c05_scd2_history", scd2History _, Some(scd2HistorySql)),
      ("c06_expectations", expectations _, Some(expectationsSql)),
      ("c07_robust_outliers", robustOutliers _, Some(robustOutliersSql)),
      ("c08_incremental_mv", incrementalMv _, Some(incrementalMvSql)),
      ("c09_sketch_mv", sketchMv _, None),
      ("c09_sketch_inv", sketchMvInv _, Some(sketchMvInvSql)),
      ("c10_freshness_audit", freshnessAudit _, Some(freshnessAuditSql)),
      ("c11_referential_integrity", referentialIntegrity _,
        Some(referentialIntegritySql)),
      ("c12_drift_audit", driftAudit _, Some(driftAuditSql)),
      ("c13_retention_purge", retentionPurge _,
        Some(retentionPurgeSql)),
      ("c14_reconciliation", reconciliation _,
        Some(reconciliationSql)),
      ("c15_label_agreement", labelAgreement _,
        Some(labelAgreementSql)),
      ("c16_retractable_mv", retractableMv _,
        Some(retractableMvSql)))
}
