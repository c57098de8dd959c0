package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Explicit skew mitigation for joins whose hot keys overwhelm a
  * partition at 100 TB. AQE's skew-join splitting handles sort-merge
  * skew at runtime; this utility is the *plan-level* alternative for
  * when a key's row count is so extreme that even split partitions
  * can't hold the build side: the probe side gets a random salt in
  * [0, S), the build side is replicated S times, and the join key
  * becomes (key, salt) — fanning one hot key across S tasks. */
object Skew {

  /** Salted equi-join: `left` (large, possibly skewed) ⋈ `right`
    * (smaller side, replicated saltFactor times). Result equals the
    * plain inner join on `key`. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    val salted = left.withColumn("__salt",
      (rand(42) * saltFactor).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Demo: the q13 big-big join shape with manual salting; result must
    * equal the unsalted join (oracle-checked). */
  def q16SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Relational.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = Relational.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    saltedJoin(li, o, "o_orderkey", saltFactor = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("li_cnt"),
        sum(col("l_quantity").cast(
          org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")
          .as("total_qty"))
  }

  val q16Sql: String = """
    SELECT o_orderpriority, count(*) AS li_cnt,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("q16_salted_join", q16SaltedJoin _, Some(q16Sql)))
}
