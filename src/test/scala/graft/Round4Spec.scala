package graft

import org.apache.spark.sql.functions._
import graft.queries.{Dedup, RangeJoin, Sampling, Sources, TextAnalysis}

/** Round-4 operators: semantic dedup, bucketed range join, histogram
  * quantile gating, per-source capping, JSONL roundtrip. */
class Round4Spec extends SparkSpec {

  private val Plant = 1000000L

  test("d09 semantic dedup drops exactly the planted scaled copies") {
    val rows = Dedup.semanticDedup(spark, sfDir).collect()
    val nPlanted = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") % 10 === 0).count()
    assert(rows.length == nPlanted)
    // every dropped vector is a planted copy; its keeper is the original
    rows.foreach { r =>
      val (vecId, keeper) = (r.getLong(0), r.getLong(2))
      assert(vecId >= Plant && vecId % 10 == 0)
      assert(keeper == vecId - Plant)
    }
  }

  test("d09 is deterministic across partition layouts") {
    val a = sortedRows(Dedup.semanticDedup(spark, sfDir))
    val b = sortedRows(Dedup.semanticDedup(spark, sfDir).repartition(7))
    assert(a == b)
  }

  test("q21 range join plan has no cartesian / nested-loop join") {
    val df = RangeJoin.rangeJoin(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(df.count() > 0)
  }

  test("q21 bucketed result equals the naive theta-join result") {
    val bucketed = RangeJoin.rangeJoin(spark, sfDir).collect().toSeq
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") >= 45).select(col("l_shipdate"))
    val naive = orders.crossJoin(li)
      .filter(col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 7 DAYS"))
      .groupBy("o_orderkey").agg(count(lit(1)).as("n_shipped"))
      .orderBy(col("n_shipped").desc, col("o_orderkey")).limit(20)
      .collect().toSeq
    assert(bucketed == naive)
  }

  test("t14 quality gate keeps at least a quarter, threshold is exact") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.count()
    val out = TextAnalysis.qualityGate(spark, sfDir).collect()
    val kept = out.map(_.getLong(1)).sum
    val thr = out.map(_.getLong(2)).distinct
    assert(thr.length == 1) // one global threshold
    assert(kept * 4 >= n, s"kept $kept of $n")
    // raising the threshold by 1 must fall below the quartile target
    val above = docs
      .select(size(array_distinct(split(col("text"), " "))).as("s"))
      .filter(col("s") >= thr.head + 1).count()
    assert(above * 4 < n)
  }

  test("s07 source cap keeps the lowest doc_ids, never more than cap") {
    val out = Sampling.sourceCapSample(spark, sfDir).collect()
    val bySource = out.groupBy(_.getString(0))
    assert(bySource.values.forall(_.length <= 20))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "doc_id").collect()
      .groupBy(_.getString(0)).map { case (src, rows) =>
        src -> rows.map(_.getLong(1)).sorted.take(20).toSeq
      }
    bySource.foreach { case (src, rows) =>
      assert(rows.map(_.getLong(1)).toSeq.sorted == docs(src))
    }
  }

  test("j01 jsonl roundtrip aggregates equal the direct parquet path") {
    val viaJson = sortedRows(Sources.jsonlRoundtrip(spark, sfDir))
    val direct = sortedRows(spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"),
        sum(length(col("text")).cast("long")).as("sum_chars")))
    assert(viaJson == direct)
  }
}
