package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.ParquetSchemaBridge

/** Layer B relational query corpus (SURVEY.md §2.5) over the driver's
  * TPC-H-ish parquet tables, each paired with ANSI SQL for the DuckDB
  * oracle. The reference (ul-mds/gecko) has no relational algebra
  * (SURVEY.md §2.4) — this layer is the standard surface the Spark
  * engine provides around the generator/mutator core.
  *
  * Oracle-determinism design: all floating-point aggregates are routed
  * through exact per-row casts to DECIMAL (scale chosen >= the true
  * decimal scale of the data, so the cast is exact and engine-
  * independent), summed exactly, and only then converted to DOUBLE.
  * This yields bit-identical results between Spark and DuckDB with no
  * dependence on accumulation order — which also makes results stable
  * across cluster sizes / partition layouts at 100 TB scale.
  */
object Relational {

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // every query path funnels through here, so this is the one place
    // scratch-artifact lifecycle (shutdown-hook delete of this app's
    // graft_* tmp dirs + age-guarded sweep of prior apps') is armed
    graft.core.TmpHousekeeping.arm(spark.sparkContext.applicationId)
    // schema from one footer read on the driver: inference without it
    // runs a Spark job on every call. No memo — a rewritten table is
    // read afresh.
    val path = s"$dir/$name.parquet"
    ParquetSchemaBridge.footerSchema(spark, path)
      .fold(spark.read)(spark.read.schema(_)).parquet(path)
  }

  /** Exact decimal sum surfaced as double (see object doc). */
  private def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** SQL twin of [[dsum]]. */
  private def dsumSql(e: String, scale: Int): String =
    s"CAST(sum(CAST($e AS DECIMAL(18,$scale))) AS DOUBLE)"

  // ---------------------------------------------------------------- Q1
  /** TPC-H Q1 shape: scan + filter + wide aggregate on lineitem. The
    * filter and the 7-column read schema must reach the parquet scan
    * (predicate pushdown + column pruning). */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge = discPrice * (lit(1.0) + col("l_tax"))
    li.filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        dsum(discPrice, 4).as("sum_disc_price"),
        dsum(charge, 6).as("sum_charge"),
        (dsum(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount"), 2) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q01Sql: String = s"""
    SELECT l_returnflag, l_linestatus,
      ${dsumSql("l_quantity", 2)} AS sum_qty,
      ${dsumSql("l_extendedprice", 2)} AS sum_base_price,
      ${dsumSql("l_extendedprice*(1.0-l_discount)", 4)} AS sum_disc_price,
      ${dsumSql("l_extendedprice*(1.0-l_discount)*(1.0+l_tax)", 6)} AS sum_charge,
      ${dsumSql("l_quantity", 2)} / count(*) AS avg_qty,
      ${dsumSql("l_extendedprice", 2)} / count(*) AS avg_price,
      ${dsumSql("l_discount", 2)} / count(*) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  // ---------------------------------------------------------------- Q2
  /** customer ⋈ orders + aggregate per market segment. The join keys are
    * both high-cardinality at 100 TB, so no broadcast hint: AQE picks
    * broadcast at small SF and shuffled hash/SMJ at scale. */
  def q02SegmentRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("order_cnt"),
        dsum(col("o_totalprice"), 2).as("total_revenue"),
        countDistinct(col("o_custkey")).as("active_customers"))
  }

  val q02Sql: String = s"""
    SELECT c_mktsegment,
      count(*) AS order_cnt,
      ${dsumSql("o_totalprice", 2)} AS total_revenue,
      count(DISTINCT o_custkey) AS active_customers
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment"""

  // ---------------------------------------------------------------- Q3
  /** TPC-H Q3 shape: 3-way join + group-by + top-k. Top-k via
    * orderBy+limit compiles to TakeOrderedAndProject (no global sort
    * materialization at scale). */
  def q03TopRevenueOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    val li = table(spark, dir, "lineitem")
    c.filter(col("c_mktsegment") === "BUILDING")
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp") &&
        col("l_shipdate") > lit("1999-01-01").cast("timestamp"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q03Sql: String = s"""
    SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      ${dsumSql("l_extendedprice*(1.0-l_discount)", 4)} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10"""

  // ---------------------------------------------------------------- Q4
  /** Semi-join (EXISTS): orders having a lineitem shipped > 60 days
    * after the order date, counted per priority. */
  def q04LateOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val li = table(spark, dir, "lineitem")
    o.join(li,
        o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_cnt"))
  }

  val q04Sql: String = """
    SELECT o_orderpriority, count(*) AS order_cnt
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  // ---------------------------------------------------------------- Q5
  /** Anti-join (NOT EXISTS): customers with no order before 1996, per
    * nation. The filter lands on the build side before the anti-join. */
  def q05CustomersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("cust_cnt"))
  }

  val q05Sql: String = """
    SELECT c_nationkey, count(*) AS cust_cnt
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
    GROUP BY c_nationkey
    ORDER BY c_nationkey"""

  // ---------------------------------------------------------------- Q6
  /** TPC-H Q6 shape: tight range predicates + single aggregate; all
    * three predicates must appear in PushedFilters. */
  def q06RevenueChange(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    li.filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q06Sql: String = s"""
    SELECT ${dsumSql("l_extendedprice*l_discount", 4)} AS revenue,
      count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24"""

  // ---------------------------------------------------------------- Q7
  /** Window rank: top-3 orders per customer by price. The tie-break on
    * o_orderkey makes row_number deterministic. */
  def q07TopOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn"))
  }

  val q07Sql: String = """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_custkey, rn"""

  /** q27 — q07's top-3-orders-per-customer via the bounded-heap
    * [[graft.expr.TopKPairs]] aggregate instead of a window rank.
    * The window shape shuffles EVERY order row and sorts every
    * customer's full order list just to keep 3; this one partial-
    * aggregates map-side (≤ 3 pairs per customer per partition cross
    * the wire) and never sorts a group — the plan shape that survives
    * a customer with 10^6 orders at 100 TB. Same oracle as q07,
    * column for column. */
  def q27TopkAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    o.groupBy(col("o_custkey"))
      .agg(graft.expr.TopKPairs.topkPairs(
        col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("o_custkey"), col("p.tag").as("o_orderkey"),
        col("p.score").as("o_totalprice"),
        (col("pos") + 1).cast("long").as("rn"))
  }

  /** q28 — GROUPING SETS with an ASYMMETRIC margin set: (region,
    * nation) detail, nation-only margins, and the grand total. The
    * nation-only margin is the set neither `rollup` (prefix-closed)
    * nor `cube` (all 4 sets) can express alone — this is the general
    * multi-margin aggregation surface, planned by Spark as ONE Expand
    * + single hash aggregate (each input row expands to 3 grouping
    * tuples map-side; no per-set rescan of the joined fact). */
  def q28GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val r = table(spark, dir, "region")
    val n = table(spark, dir, "nation")
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("n_name")), Seq(col("n_name")), Seq()),
        col("r_name"), col("n_name"))
      .agg(dsum(col("o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("order_cnt"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("revenue"), col("order_cnt"))
  }

  val q28Sql: String = s"""
    SELECT coalesce(r_name, 'ALL') AS region,
      coalesce(n_name, 'ALL') AS nation,
      ${dsumSql("o_totalprice", 2)} AS revenue,
      count(*) AS order_cnt
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (n_name), ())
    ORDER BY region, nation"""

  // ---------------------------------------------------------------- Q8
  /** Rollup over region/nation revenue. region+nation are genuinely tiny
    * at any SF → explicit broadcast hints. */
  def q08RegionNationRollup(spark: SparkSession, dir: String): DataFrame = {
    val r = table(spark, dir, "region")
    val n = table(spark, dir, "nation")
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(dsum(col("o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("order_cnt"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("revenue"), col("order_cnt"))
  }

  val q08Sql: String = s"""
    SELECT coalesce(r_name, 'ALL') AS region,
      coalesce(n_name, 'ALL') AS nation,
      ${dsumSql("o_totalprice", 2)} AS revenue,
      count(*) AS order_cnt
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY region, nation"""

  // ---------------------------------------------------------------- Q9
  /** Exact distinct counts per brand (lineitem ⋈ part). */
  def q09BrandDistincts(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val p = table(spark, dir, "part")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        countDistinct(col("l_suppkey")).as("supp_cnt"),
        countDistinct(col("l_orderkey")).as("order_cnt"),
        count(lit(1)).as("lineitem_cnt"))
  }

  val q09Sql: String = """
    SELECT p_brand,
      count(DISTINCT l_suppkey) AS supp_cnt,
      count(DISTINCT l_orderkey) AS order_cnt,
      count(*) AS lineitem_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand"""

  // --------------------------------------------------------------- Q10
  /** Set ops: nations with suppliers or customers, except region 0's. */
  def q10NationSetOps(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "supplier")
    val c = table(spark, dir, "customer")
    val n = table(spark, dir, "nation")
    s.select(col("s_nationkey").as("nationkey"))
      .union(c.select(col("c_nationkey").as("nationkey")))
      .distinct()
      .except(n.filter(col("n_regionkey") === 0)
        .select(col("n_nationkey").as("nationkey")))
  }

  val q10Sql: String = """
    SELECT s_nationkey AS nationkey FROM supplier
    UNION
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT n_nationkey AS nationkey FROM nation WHERE n_regionkey = 0
    ORDER BY nationkey"""

  // --------------------------------------------------------------- Q11
  /** String function sweep on part names (substring/upper/concat/
    * length/replace/trim) — all codegen'd builtins. */
  def q11PartStrings(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    p.select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
        concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"))
  }

  val q11Sql: String = """
    SELECT p_partkey,
      upper(substring(p_name, 1, 8)) AS name_prefix,
      p_brand || '/' || p_type AS brand_type,
      length(p_name) AS name_len,
      replace(p_name, ' ', '_') AS name_snake
    FROM part
    ORDER BY p_partkey"""

  // --------------------------------------------------------------- Q12
  /** Date bucketing: orders per (year, month). */
  def q12OrdersByMonth(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    o.groupBy(
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"))
      .agg(count(lit(1)).as("order_cnt"),
        dsum(col("o_totalprice"), 2).as("revenue"))
  }

  val q12Sql: String = s"""
    SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
      EXTRACT(MONTH FROM o_orderdate) AS o_month,
      count(*) AS order_cnt,
      ${dsumSql("o_totalprice", 2)} AS revenue
    FROM orders
    GROUP BY 1, 2
    ORDER BY o_year, o_month"""

  // --------------------------------------------------------------- Q13
  /** Big-big join, forced sort-merge (the 100 TB path where neither side
    * broadcasts); group on the skewed priority column. AQE skew-join
    * splitting handles stragglers at scale. */
  def q13OrderLineitemSmj(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val li = table(spark, dir, "lineitem")
    o.hint("merge")
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        dsum(col("l_quantity"), 2).as("total_qty"),
        count(lit(1)).as("li_cnt"),
        countDistinct(col("o_orderkey")).as("order_cnt"))
  }

  val q13Sql: String = s"""
    SELECT o_orderpriority,
      ${dsumSql("l_quantity", 2)} AS total_qty,
      count(*) AS li_cnt,
      count(DISTINCT o_orderkey) AS order_cnt
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  // --------------------------------------------------------------- Q14
  /** Top-k per group via window row_number (part prices per brand). */
  def q14TopPartsPerBrand(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    p.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("p_brand"), col("p_partkey"), col("p_name"),
        col("p_retailprice"), col("rn"))
  }

  val q14Sql: String = """
    SELECT p_brand, p_partkey, p_name, p_retailprice, rn
    FROM (
      SELECT p_brand, p_partkey, p_name, p_retailprice,
        row_number() OVER (PARTITION BY p_brand
          ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part)
    WHERE rn <= 5
    ORDER BY p_brand, rn"""

  // --------------------------------------------------------------- Q15
  /** Cube over brand × size with grouping-id disambiguation (the
    * grouping-sets family member q08's rollup doesn't cover). */
  def q15BrandSizeCube(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    p.cube(col("p_brand"), col("p_size"))
      .agg(count(lit(1)).as("part_cnt"),
        dsum(col("p_retailprice"), 2).as("total_price"))
      .select(coalesce(col("p_brand"), lit("ALL")).as("brand"),
        coalesce(col("p_size").cast("long"), lit(-1L)).as("size"),
        col("part_cnt"), col("total_price"))
  }

  val q15Sql: String = s"""
    SELECT coalesce(p_brand, 'ALL') AS brand,
      coalesce(CAST(p_size AS BIGINT), -1) AS size,
      count(*) AS part_cnt,
      ${dsumSql("p_retailprice", 2)} AS total_price
    FROM part
    GROUP BY CUBE(p_brand, p_size)
    ORDER BY brand, size"""

  // --------------------------------------------------------------- Q18
  /** Sketch-based approximate distinct counts beside the exact ones —
    * the constant-memory path for distinct cardinalities at 100 TB
    * (HyperLogLog++ partial aggregation; no exact-distinct expand). The
    * approx column is engine-specific, so this query is rows-only
    * checked; RelationalSpec asserts the relative error bound. */
  def q18ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
  }

  /** The exact-distinct columns of q18, split out for the DuckDB
    * oracle (the approx sketch values are engine-specific) — same
    * pattern as TextAnalysis.fingerprintOracle. */
  def q18ExactDistinct(spark: SparkSession, dir: String): DataFrame =
    q18ApproxDistinct(spark, dir)
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"))

  val q18ExactSql: String = """
    SELECT l_returnflag,
      count(DISTINCT l_orderkey) AS exact_orders,
      count(DISTINCT l_partkey) AS exact_parts
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""

  // --------------------------------------------------------------- Q19
  /** Exact percentiles per group (median + tail). Both engines use
    * linear interpolation over the sorted values with the same
    * arithmetic form, so results are bit-identical (verified); at scale
    * the approx_percentile t-digest is the constant-memory swap-in. */
  def q19Percentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("p50_price"),
        expr("percentile(l_extendedprice, 0.95)").as("p95_price"),
        expr("percentile(l_quantity, 0.5)").as("p50_qty"))
  }

  val q19Sql: String = """
    SELECT l_returnflag,
      quantile_cont(l_extendedprice, 0.5) AS p50_price,
      quantile_cont(l_extendedprice, 0.95) AS p95_price,
      quantile_cont(l_quantity, 0.5) AS p50_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""

  /** t-digest sketch percentiles beside q19's exact ones — the
    * constant-memory percentile path at 100 TB (exact percentile
    * buffers every value per group). Sketch values are engine-specific
    * → rows-only driver check; RelationalSpec bounds the error vs the
    * exact q19 result. */
  def q20ApproxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5, 10000)")
          .as("p50_price"),
        expr("approx_percentile(l_extendedprice, 0.95, 10000)")
          .as("p95_price"))
  }

  /** name -> (query fn, oracle sql) */
  // --------------------------------------------------------------- Q24
  /** Pivot (wide reshape): per-year order counts and DECIMAL-exact
    * revenue, one column pair per order status. The status values are
    * DECLARED (`pivot(col, values)`), not discovered — at 100 TB the
    * discovery variant costs an extra distinct-scan of the pivot
    * column before planning; declaring the domain keeps the whole
    * reshape a single map-side-combinable aggregate with a fixed
    * output schema. The oracle rebuilds the same wide shape with
    * conditional aggregation (the portable pivot encoding). */
  def q24StatusPivot(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_orderstatus"), col("o_totalprice"))
      .groupBy("o_year")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice"), 2).as("rev"))

  val q24Sql: String = s"""
    SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
      count(*) FILTER (o_orderstatus = 'F') AS "F_n",
      ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", 2)}
        AS "F_rev",
      count(*) FILTER (o_orderstatus = 'O') AS "O_n",
      ${dsumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", 2)}
        AS "O_rev",
      count(*) FILTER (o_orderstatus = 'P') AS "P_n",
      ${dsumSql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END", 2)}
        AS "P_rev"
    FROM orders
    GROUP BY 1
    ORDER BY o_year"""

  // --------------------------------------------------------------- Q25
  /** Correlated scalar subqueries through the SQL front end: orders
    * priced above 1.5× their customer's average order value. Catalyst
    * DECORRELATES both per-customer subqueries into one aggregate +
    * join (PlanSpec asserts no nested-loop re-execution per outer
    * row — the difference between O(n) and O(n·groups) at 100 TB).
    * The 1.5× threshold is compared in cross-multiplied DECIMAL form
    * (2·price·count > 3·sum) so no division or double accumulation
    * ever happens — borderline rows agree bit-exactly with the
    * oracle. */
  def q25CorrSubquery(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "orders").createOrReplaceTempView("graft_q25_orders")
    spark.sql("""
      SELECT o_orderkey, o_custkey
      FROM graft_q25_orders o
      WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 *
          (SELECT count(*) FROM graft_q25_orders i
           WHERE i.o_custkey = o.o_custkey) >
        (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
         FROM graft_q25_orders i
         WHERE i.o_custkey = o.o_custkey) * 3
      ORDER BY o_orderkey""")
  }

  val q25Sql: String = """
    SELECT o_orderkey, o_custkey
    FROM orders o
    WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 *
        (SELECT count(*) FROM orders i
         WHERE i.o_custkey = o.o_custkey) >
      (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
       FROM orders i
       WHERE i.o_custkey = o.o_custkey) * 3
    ORDER BY o_orderkey"""

  /** q26 — correlated EXISTS / NOT EXISTS chain (TPC-H Q21/Q22
    * lineage): customers holding at least one open ('O') order but no
    * failed ('F') one. Catalyst decorrelates both subqueries into one
    * semi- and one anti-join on o_custkey — PlanSpec asserts no
    * nested-loop / per-row subquery survives. At scale both probes
    * shuffle on the same key as the main table, and the anti-join's
    * build side is filter-pruned before it ever moves. */
  def q26ExistsChain(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer")
      .createOrReplaceTempView("graft_q26_customer")
    table(spark, dir, "orders").createOrReplaceTempView("graft_q26_orders")
    spark.sql("""
      SELECT c_custkey, c_name
      FROM graft_q26_customer c
      WHERE EXISTS (
          SELECT 1 FROM graft_q26_orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        AND NOT EXISTS (
          SELECT 1 FROM graft_q26_orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      ORDER BY c_custkey""")
  }

  val q26Sql: String = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    ORDER BY c_custkey"""

  /** q29 — the analytic window-function suite (lag / lead / ntile /
    * running sum) over each customer's order history, the shape every
    * "sessionized customer timeline" feature job takes. One window
    * spec serves all four functions, so the physical plan is ONE
    * hash-partition exchange on o_custkey + ONE sort — Spark computes
    * every function in a single WindowExec pass over that sort, and
    * at 100 TB the job costs exactly one shuffle of the fact table no
    * matter how many window features ride it. The running sum is
    * DECIMAL-routed ([[dsum]] pattern) so it matches the oracle
    * bit-exactly; lag/lead move values untouched. The unique
    * (o_orderdate, o_orderkey) sort key makes the default RANGE frame
    * equal ROWS and every function deterministic. */
  def q29WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("running_spend"))
  }

  val q29Sql: String = """
    SELECT o_custkey, o_orderkey,
      lag(o_totalprice, 1) OVER w AS prev_price,
      lead(o_totalprice, 1) OVER w AS next_price,
      ntile(4) OVER w AS quartile,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey"""

  // --------------------------------------------------------------- Q30
  /** q30 — calendar gap-fill + last-observation-carried-forward: the
    * standard time-series densification every feature/forecasting
    * pipeline runs. Per order priority, the day's "reading" is the
    * price of that day's highest-numbered order (a deterministic
    * struct-max, c04's pattern); the calendar is generated
    * declaratively (min..max date `sequence` + explode — no driver
    * loop, no collect) and missing days carry the last reading
    * forward with `last(_, ignoreNulls)` over a day-ordered window.
    *
    * Scale shape: the calendar explode is |groups| × |days| — output-
    * sized, not fact-sized; the LOCF window shuffles once on the
    * group key and streams in day order. Leading days before a
    * group's first reading stay NULL (nothing to carry), which the
    * oracle must reproduce — an off-by-one in either engine's frame
    * would hash-mismatch. */
  def q30GapFill(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val orders = table(spark, dir, "orders")
      .select(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"),
        col("o_orderkey"), cents.as("cents"))
    val daily = orders.groupBy("o_orderpriority", "day")
      .agg(max(struct(col("o_orderkey"), col("cents")))
        .getField("cents").as("reading"))
    val bounds = orders.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val calendar = orders.select("o_orderpriority").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("o_orderpriority"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day")))
          .as("day"))
    val w = Window.partitionBy("o_orderpriority").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    calendar.join(daily, Seq("o_orderpriority", "day"), "left")
      .withColumn("filled", last(col("reading"), ignoreNulls = true).over(w))
      .select(col("o_orderpriority"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("reading"), col("filled"))
  }

  val q30Sql: String = """
    WITH orders_d AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
        o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS cents
      FROM orders),
    daily AS (
      SELECT o_orderpriority, day,
        (max(struct_pack(k := o_orderkey, cents := cents))).cents
          AS reading
      FROM orders_d GROUP BY o_orderpriority, day),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM orders_d),
    calendar AS (
      SELECT p.o_orderpriority, CAST(d.day AS DATE) AS day
      FROM (SELECT DISTINCT o_orderpriority FROM orders_d) p
      CROSS JOIN (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
        FROM bounds) d)
    SELECT c.o_orderpriority, strftime(c.day, '%Y-%m-%d') AS day,
      dl.reading,
      last_value(dl.reading IGNORE NULLS) OVER (
        PARTITION BY c.o_orderpriority ORDER BY c.day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM calendar c
    LEFT JOIN daily dl
      ON c.o_orderpriority = dl.o_orderpriority AND c.day = dl.day
    ORDER BY c.o_orderpriority, c.day"""

  // --------------------------------------------------------------- Q32
  /** q32 — rolling 30-day spend per customer via a RANGE window frame
    * (`RANGE BETWEEN 30 PRECEDING AND CURRENT ROW` over epoch days) —
    * the value-based frame q29's suite doesn't touch: the window spans
    * a time INTERVAL, not a row count, so same-day peers enter the
    * frame together and gaps in activity shrink it. Time routes
    * through integer epoch days so the frame bound arithmetic is
    * engine-exact.
    *
    * Scale shape: ONE shuffle on the customer key + an in-partition
    * sort; the range frame is evaluated by a sliding two-pointer over
    * the sorted run (Spark's WindowExec bounded-frame path), never a
    * per-row rescan. */
  def q32RollingRange(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val df = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("day"),
        cents.as("cents"))
    val w = Window.partitionBy("o_custkey").orderBy("day")
      .rangeBetween(-30, 0)
    df.withColumn("rolling_cents", sum(col("cents")).over(w))
      .withColumn("n_win", count(lit(1)).over(w))
  }

  val q32Sql: String = """
    SELECT o_orderkey, o_custkey, day, cents,
      CAST(sum(cents) OVER w AS BIGINT) AS rolling_cents,
      CAST(count(*) OVER w AS BIGINT) AS n_win
    FROM (
      SELECT o_orderkey, o_custkey,
        CAST(datediff('day', DATE '1970-01-01',
          CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS cents
      FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    ORDER BY o_orderkey"""

  // --------------------------------------------------------------- Q34
  /** q34 — unpivot (long reshape): melts q24's wide per-status frame
    * back to `(o_year, o_status, n_orders, revenue)` rows with
    * `stack`, Spark's codegen'd multi-value-column melt (the
    * `unpivot` API lowers to the same generator but takes one value
    * column per call; `stack` melts the count/revenue pair in one
    * pass). The oracle is the DIRECT long-form aggregate over
    * `orders`, so the hash check proves the pivot→unpivot round trip
    * is lossless — absent (year, status) combos surface as
    * zero/NULL cells in the wide frame and are dropped by the
    * `n_orders > 0` gate, exactly the rows the direct aggregate never
    * produces.
    *
    * Scale shape: `stack` is a map-side generator over the wide
    * aggregate (one row per year) — the expensive part remains q24's
    * single map-side-combinable aggregate underneath; the reshape
    * itself touches only the aggregate's output and never shuffles. */
  def q34Unpivot(spark: SparkSession, dir: String): DataFrame =
    q24StatusPivot(spark, dir)
      .selectExpr("o_year",
        "stack(3, 'F', F_n, F_rev, 'O', O_n, O_rev, 'P', P_n, P_rev) " +
          "AS (o_status, n_orders, revenue)")
      .filter(col("n_orders") > 0)

  val q34Sql: String = s"""
    SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
      o_orderstatus AS o_status,
      count(*) AS n_orders,
      ${dsumSql("o_totalprice", 2)} AS revenue
    FROM orders
    GROUP BY 1, 2
    ORDER BY o_year, o_status"""

  // --------------------------------------------------------------- Q35
  /** q35 — interval concurrency via a SWEEP LINE: how many orders are
    * simultaneously "open" (placed but not yet fully shipped) over
    * time, reported as the per-month peak. The classic interval-
    * overlap aggregation (room occupancy, concurrent sessions, open
    * connections) that a naive interval self-join makes quadratic —
    * the sweep line makes it linear: +1 at each order's start day, −1
    * at its last ship day (half-open [start, end)), running-sum the
    * deltas in day order.
    *
    * Scale shape: per-order spans are one map-side-combinable
    * aggregate over lineitem (max shipdate per order) joined to
    * orders on the already-co-partitioned order key; the deltas then
    * collapse BY DAY (second map-combinable aggregate), so the
    * running sum runs over the CALENDAR DOMAIN — a few thousand rows
    * regardless of fact-table scale — where an unpartitioned window
    * is driver-trivial (same bounded-domain argument as q30's
    * calendar spine). Months with no delta days inherit no row (the
    * step function didn't change); the oracle builds the identical
    * step function. All integer day arithmetic → hash-exact. */
  def q35OpenOrderConcurrency(spark: SparkSession, dir: String)
      : DataFrame = {
    val spans = table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("end_date"))
      .join(table(spark, dir, "orders")
          .select(col("o_orderkey"), to_date(col("o_orderdate"))
            .as("start_date")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        datediff(col("start_date"), lit("1970-01-01")).cast("long")
          .as("start_day"),
        datediff(col("end_date"), lit("1970-01-01")).cast("long")
          .as("end_day"))
    val deltas = spans
      .select(col("start_day").as("day"), lit(1L).as("d"))
      .unionAll(spans.select(col("end_day").as("day"),
        lit(-1L).as("d")))
      .groupBy("day").agg(sum(col("d")).as("delta"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("open", sum(col("delta")).over(w))
      .withColumn("month", date_format(
        date_add(to_date(lit("1970-01-01")), col("day").cast("int")),
        "yyyy-MM"))
      .groupBy("month")
      .agg(max(col("open")).as("max_open"),
        count(lit(1)).as("days_changed"))
  }

  val q35Sql: String = """
    WITH spans AS (
      SELECT
        CAST(datediff('day', DATE '1970-01-01',
          CAST(o.o_orderdate AS DATE)) AS BIGINT) AS start_day,
        CAST(datediff('day', DATE '1970-01-01', l.end_date)
          AS BIGINT) AS end_day
      FROM (SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS end_date
            FROM lineitem GROUP BY l_orderkey) l
      JOIN orders o ON l.l_orderkey = o.o_orderkey),
    deltas AS (
      SELECT day, CAST(sum(d) AS BIGINT) AS delta FROM (
        SELECT start_day AS day, 1 AS d FROM spans
        UNION ALL
        SELECT end_day AS day, -1 AS d FROM spans)
      GROUP BY day),
    swept AS (
      SELECT day, CAST(sum(delta) OVER (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS open
      FROM deltas)
    SELECT strftime(DATE '1970-01-01' + CAST(day AS INTEGER),
        '%Y-%m') AS month,
      max(open) AS max_open, count(*) AS days_changed
    FROM swept
    GROUP BY 1
    ORDER BY month"""

  // --------------------------------------------------------------- Q36
  /** q36 — NOT IN over a subquery with a NULLABLE probe key: the
    * null-aware anti-join. Three-valued logic makes `x NOT IN (set)`
    * NULL (row dropped) whenever x is NULL — so customers whose probe
    * key is nulled out (every 97th) vanish from the result even when
    * they have no failed order, which a plain anti-join gets wrong.
    * Absent in reference (no relational layer).
    *
    * Scale shape: Catalyst rewrites the predicate to a LeftAnti join
    * with an `OR isnull(=)` condition; the null-aware-anti-join
    * optimization (single key, broadcastable build side) plans it as
    * a BroadcastHashJoin instead of the quadratic
    * BroadcastNestedLoopJoin — Round5fSpec asserts the NLJ never
    * appears, because at 100 TB that is the difference between a map
    * pass and a cross product. */
  def q36NullAwareAnti(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer")
      .createOrReplaceTempView("graft_q36_customer")
    table(spark, dir, "orders").createOrReplaceTempView("graft_q36_orders")
    spark.sql("""
      SELECT c_custkey, c_name
      FROM graft_q36_customer c
      WHERE (CASE WHEN c_custkey % 97 = 0 THEN CAST(NULL AS BIGINT)
                  ELSE c_custkey END)
        NOT IN (SELECT o_custkey FROM graft_q36_orders
                WHERE o_orderstatus = 'F')
      ORDER BY c_custkey""")
  }

  val q36Sql: String = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE (CASE WHEN c_custkey % 97 = 0 THEN CAST(NULL AS BIGINT)
                ELSE c_custkey END)
      NOT IN (SELECT o_custkey FROM orders
              WHERE o_orderstatus = 'F')
    ORDER BY c_custkey"""

  // --------------------------------------------------------------- Q37
  /** q37 — bag-semantics set operations (INTERSECT ALL / EXCEPT ALL):
    * per-value multiplicities min(m1,m2) and max(0, m1−m2), which the
    * DISTINCT set ops of q10 erase. The multiset view is what audit
    * jobs actually need ("how many customer rows per nation survive
    * after removing one per supplier row"), and Spark implements both
    * via a replicated-count generate — no sort, no distinct.
    * Absent in reference (set ops limited to tiny value arrays).
    *
    * Scale shape: each ALL-op is one hash aggregation per side on the
    * value key + a join on that key — map-side partial counts compress
    * every duplicate before the shuffle, so network cost is
    * O(distinct values), not O(rows). */
  def q37BagSetOps(spark: SparkSession, dir: String): DataFrame = {
    val sn = table(spark, dir, "supplier").select(col("s_nationkey").as("n"))
    val cn = table(spark, dir, "customer").select(col("c_nationkey").as("n"))
    val inter = sn.intersectAll(cn)
      .groupBy("n").agg(count(lit(1)).as("cnt"))
      .select(lit("intersect_all").as("op"), col("n"), col("cnt"))
    val exc = cn.exceptAll(sn)
      .groupBy("n").agg(count(lit(1)).as("cnt"))
      .select(lit("except_all").as("op"), col("n"), col("cnt"))
    inter.unionAll(exc)
  }

  val q37Sql: String = """
    SELECT 'intersect_all' AS op, n, count(*) AS cnt FROM (
      SELECT s_nationkey AS n FROM supplier
      INTERSECT ALL
      SELECT c_nationkey AS n FROM customer)
    GROUP BY n
    UNION ALL
    SELECT 'except_all' AS op, n, count(*) AS cnt FROM (
      SELECT c_nationkey AS n FROM customer
      EXCEPT ALL
      SELECT s_nationkey AS n FROM supplier)
    GROUP BY n
    ORDER BY op, n"""

  // --------------------------------------------------------------- Q39
  /** q39 — cohort retention triangle, the canonical product-analytics
    * query: customers are grouped by their FIRST order's month (the
    * cohort), and each later active month counts toward
    * (cohort, month-offset) — "of the January-1995 cohort, how many
    * ordered again 3 months later". Months ride an integer index
    * (year·12 + month − 1), so offsets are exact subtraction, and the
    * cohort label is reconstructed from the index — no date
    * arithmetic ambiguity for the oracle to trip on.
    * Absent in reference (no relational layer).
    *
    * Scale shape: one (customer, month) distinct projection (map-side
    * combine collapses a customer's orders within a month before the
    * shuffle), a min-agg for cohorts on the same key, a key-local
    * join back, and one final (cohort, offset) agg — every stage
    * shuffles on a key whose cardinality shrinks monotonically. */
  def q39CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val mIdx = (year(to_date(col("o_orderdate"))) * 12 +
      month(to_date(col("o_orderdate"))) - 1).cast("long")
    val activity = table(spark, dir, "orders")
      .select(col("o_custkey"), mIdx.as("m"))
      .distinct()
    val cohorts = activity.groupBy("o_custkey")
      .agg(min(col("m")).as("cohort_m"))
    val label = concat(
      (col("cohort_m") / 12).cast("int"), lit("-"),
      lpad((pmod(col("cohort_m"), lit(12L)) + 1).cast("string"),
        2, "0"))
    activity.join(cohorts, "o_custkey")
      .groupBy(col("cohort_m"),
        (col("m") - col("cohort_m")).as("month_offset"))
      .agg(count(lit(1)).as("n_customers"))
      .select(label.as("cohort"), col("month_offset"),
        col("n_customers"))
  }

  val q39Sql: String = """
    WITH activity AS (
      SELECT DISTINCT o_custkey,
        CAST(year(CAST(o_orderdate AS DATE)) * 12 +
          month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m
      FROM orders),
    cohorts AS (
      SELECT o_custkey, min(m) AS cohort_m FROM activity
      GROUP BY o_custkey)
    SELECT
      CAST(cohort_m // 12 AS INT) || '-' ||
        lpad(CAST(cohort_m % 12 + 1 AS VARCHAR), 2, '0') AS cohort,
      a.m - c.cohort_m AS month_offset,
      count(*) AS n_customers
    FROM activity a JOIN cohorts c ON a.o_custkey = c.o_custkey
    GROUP BY c.cohort_m, a.m - c.cohort_m
    ORDER BY cohort, month_offset"""

  // --------------------------------------------------------------- Q40
  /** q40 — ORDER-SENSITIVE string aggregation (LISTAGG / string_agg
    * with ORDER BY): per nation, the 3 richest customers' keys joined
    * in rank order. Spark has no ordered aggregate — `collect_list`
    * is explicitly partition-order-nondeterministic — so the ordered
    * concat is built the deterministic way: rank first, COLLECT
    * (rank, key) structs, `array_sort` the tiny per-group array (≤ 3
    * elements, struct order = rank order), then project and join.
    * The oracle is DuckDB's native `string_agg(... ORDER BY ...)`, so
    * the hash match proves the collect-sort-project pipeline
    * reproduces true ordered aggregation semantics.
    * Absent in reference (no relational layer).
    *
    * Scale shape: one window rank on the nation key (the top-k gate
    * bounds every group to 3 rows BEFORE the collect), then a
    * 3-element-array agg per group — the collected array is bounded
    * by construction, never group-sized. */
  def q40OrderedStringAgg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    table(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("c_nationkey")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("rn"), col("c_custkey")))),
            x => x.getField("c_custkey").cast("string")), ",")
          .as("top3_custkeys"),
        count(lit(1)).as("n_top"))
  }

  val q40Sql: String = """
    SELECT c_nationkey,
      string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY rn)
        AS top3_custkeys,
      count(*) AS n_top
    FROM (
      SELECT c_nationkey, c_custkey,
        row_number() OVER (PARTITION BY c_nationkey
          ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer)
    WHERE rn <= 3
    GROUP BY c_nationkey
    ORDER BY c_nationkey"""

  // --------------------------------------------------------------- Q41
  /** q41 — MapType surface (the third complex type after j09's
    * struct/array): each customer's order history pivots into a
    * map<priority, count> via `map_from_entries(collect_list(struct))`
    * — the "profile document" shape feature stores serve — then the
    * map is CONSUMED with element_at lookups, map_keys cardinality,
    * and an aggregate over map_values. Output is all scalars (maps
    * never reach the hash compare, whose cross-engine encoding is
    * undefined), and the oracle computes the same scalars relationally
    * — proving the build→lookup cycle is lossless.
    *
    * Scale shape: one (customer, priority) pre-agg (map-side
    * combinable) before the per-customer map assembly, so the
    * collect_list is bounded by the PRIORITY DOMAIN (5), never the
    * order count — the cap that keeps map assembly safe at 100 TB. */
  def q41MapProfile(spark: SparkSession, dir: String): DataFrame = {
    val perPrio = table(spark, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val profiles = perPrio.groupBy("o_custkey")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("o_orderpriority"), col("n"))))).as("profile"))
    profiles.select(col("o_custkey"),
        coalesce(element_at(col("profile"), "1-URGENT"), lit(0L))
          .as("n_urgent"),
        size(map_keys(col("profile"))).cast("long")
          .as("n_priorities"),
        aggregate(map_values(col("profile")), lit(0L), _ + _)
          .as("n_orders"))
  }

  val q41Sql: String = """
    SELECT o_custkey,
      CAST(COALESCE(sum(CASE WHEN o_orderpriority = '1-URGENT'
        THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_urgent,
      CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
      count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey"""

  /** q42 — recursive CTE month spine + gap detection: generate every
    * month between the table's min and max order date with
    * `WITH RECURSIVE` (Spark 4's UnionLoopExec), left-join a SPARSE
    * series (big urgent orders), and report the zero months a plain
    * GROUP BY can never show — absent groups produce no row, so "no
    * orders this month" is invisible without a generated spine. The
    * classic alternative is a driver-side `spark.range` over epoch
    * months; the recursive form keeps the bounds INSIDE the query
    * (min/max read from the table, no collect) and is the portable
    * SQL every warehouse user writes. Recursion depth = number of
    * months (~80 here, bounded by the date span, NOT the row count)
    * — each step is a constant-size row batch, so the loop costs
    * nothing at any table scale; the scan feeding min/max and the
    * sparse aggregate are the only data-sized jobs.
    * DuckDB runs the same recursive SQL, month strings compared
    * exactly. */
  def q42RecursiveSpine(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "orders")
      .createOrReplaceTempView("graft_q42_orders")
    // the stop bound rides the recursive rows as a column: a scalar
    // subquery in the recursion condition is re-evaluated EVERY
    // iteration (~80 extra min/max scans of orders — measured 10 s
    // at sf0.1 vs 0.6 s for this form)
    spark.sql("""
      WITH RECURSIVE spine(month_start, month_end) AS (
        SELECT date_trunc('MONTH', min(o_orderdate)),
          date_trunc('MONTH', max(o_orderdate))
        FROM graft_q42_orders
        UNION ALL
        SELECT month_start + INTERVAL 1 MONTH, month_end FROM spine
        WHERE month_start < month_end
      ),
      sparse AS (
        SELECT date_trunc('MONTH', o_orderdate) AS m, count(*) AS n
        FROM graft_q42_orders
        WHERE o_totalprice > 450000 AND o_orderpriority = '1-URGENT'
        GROUP BY 1)
      SELECT date_format(month_start, 'yyyy-MM') AS month,
        CAST(coalesce(n, 0) AS BIGINT) AS n_big_urgent
      FROM spine LEFT JOIN sparse ON spine.month_start = sparse.m
      ORDER BY month""")
  }

  val q42Sql: String = """
    WITH RECURSIVE spine(month_start, month_end) AS (
        SELECT date_trunc('month', min(o_orderdate)),
          date_trunc('month', max(o_orderdate))
        FROM orders
        UNION ALL
        SELECT month_start + INTERVAL 1 MONTH, month_end FROM spine
        WHERE month_start < month_end
      ),
      sparse AS (
        SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
        FROM orders
        WHERE o_totalprice > 450000 AND o_orderpriority = '1-URGENT'
        GROUP BY 1)
    SELECT strftime(month_start, '%Y-%m') AS month,
      CAST(coalesce(n, 0) AS BIGINT) AS n_big_urgent
    FROM spine LEFT JOIN sparse ON spine.month_start = sparse.m
    ORDER BY month"""

  /** q43 — correlated LATERAL top-k: "each customer's 3 largest
    * orders" phrased the way SQL users write it — a correlated
    * LATERAL subquery with ORDER BY ... LIMIT — rather than q07's
    * explicit window. The point is the PLAN: Catalyst decorrelates
    * the per-row subquery into ONE `WindowGroupLimit` (partial →
    * final, so each task keeps only its local top-3 per key before
    * the shuffle) + a single join — NOT one subquery execution per
    * customer. At 100 TB the difference is a per-partition bounded
    * heap versus N correlated scans; the user pays nothing for the
    * readable phrasing. Tie-break on orderkey makes the top-3
    * deterministic; values pass through unaggregated, so no float
    * arithmetic touches the hash. DuckDB runs the same LATERAL SQL. */
  def q43LateralTopk(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer")
      .createOrReplaceTempView("graft_q43_customer")
    table(spark, dir, "orders")
      .createOrReplaceTempView("graft_q43_orders")
    spark.sql("""
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM graft_q43_customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM graft_q43_orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
      ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""")
  }

  val q43Sql: String = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey"""

  val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("q01_pricing_summary", q01PricingSummary _, q01Sql),
    ("q02_segment_revenue", q02SegmentRevenue _, q02Sql),
    ("q03_top_revenue_orders", q03TopRevenueOrders _, q03Sql),
    ("q04_late_orders", q04LateOrders _, q04Sql),
    ("q05_customers_without_orders", q05CustomersWithoutOrders _, q05Sql),
    ("q06_revenue_change", q06RevenueChange _, q06Sql),
    ("q07_top_orders_per_customer", q07TopOrdersPerCustomer _, q07Sql),
    ("q08_region_nation_rollup", q08RegionNationRollup _, q08Sql),
    ("q09_brand_distincts", q09BrandDistincts _, q09Sql),
    ("q10_nation_set_ops", q10NationSetOps _, q10Sql),
    ("q11_part_strings", q11PartStrings _, q11Sql),
    ("q12_orders_by_month", q12OrdersByMonth _, q12Sql),
    ("q13_order_lineitem_smj", q13OrderLineitemSmj _, q13Sql),
    ("q14_top_parts_per_brand", q14TopPartsPerBrand _, q14Sql),
    ("q15_brand_size_cube", q15BrandSizeCube _, q15Sql),
    ("q19_percentiles", q19Percentiles _, q19Sql),
    ("q24_status_pivot", q24StatusPivot _, q24Sql),
    ("q25_corr_subquery", q25CorrSubquery _, q25Sql),
    ("q26_exists_chain", q26ExistsChain _, q26Sql),
    ("q27_topk_agg", q27TopkAgg _, q07Sql),
    ("q28_grouping_sets", q28GroupingSets _, q28Sql),
    ("q29_window_suite", q29WindowSuite _, q29Sql),
    ("q30_gapfill", q30GapFill _, q30Sql),
    ("q32_rolling_range", q32RollingRange _, q32Sql),
    ("q34_unpivot", q34Unpivot _, q34Sql),
    ("q35_open_order_concurrency", q35OpenOrderConcurrency _, q35Sql),
    ("q36_null_aware_anti", q36NullAwareAnti _, q36Sql),
    ("q37_bag_set_ops", q37BagSetOps _, q37Sql),
    ("q39_cohort_retention", q39CohortRetention _, q39Sql),
    ("q40_ordered_string_agg", q40OrderedStringAgg _, q40Sql),
    ("q41_map_profile", q41MapProfile _, q41Sql),
    ("q42_recursive_spine", q42RecursiveSpine _, q42Sql),
    ("q43_lateral_topk", q43LateralTopk _, q43Sql),
  )
}
