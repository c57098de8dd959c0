package graft

import org.apache.spark.sql.catalyst.plans.logical.Sort

/** Graph-layer conf handling and plan shape. */
class GraphSpec extends SparkSpec {

  test("a malformed broadcastRows value warns once per value and the " +
    "default 2M-row cap still applies") {
    import spark.implicits._
    val key = "spark.graft.superstep.broadcastRows"
    val bad = "not-a-long-graphspec"
    val df = spark.range(10).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val (atCap, overCap, rounds) =
      try GraftSession.withConf(spark, key -> bad) {
        (1 to 4).foreach(_ =>
          queries.Graph.maybeBroadcast(df, 10L))
        (queries.Graph.maybeBroadcast(df, 2000000L),
          queries.Graph.maybeBroadcast(df, 2000001L),
          queries.Dedup.clusterPairsCounted(pairs)._2)
      } finally System.setErr(err)
    val warned = buf.toString("UTF-8").split("\n")
      .count(_.contains(s"ignoring malformed $key='$bad'"))
    assert(warned == 1, s"expected one warning line, got $warned")
    assert(atCap ne df, "2M rows is within the default cap: broadcast")
    assert(overCap eq df, "past the default cap: no broadcast hint")
    assert(rounds == 0, "2 edges are within the default cap: driver path")
  }

  test("gr03 plan hook ends without a global sort: the frame it " +
    "localCheckpoints carries no range sort (planned only)") {
    val (df, caches) = queries.Graph.trianglesPlan(spark, sfDir,
      queries.Graph.TriOrderCap)
    try {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case s: Sort if s.global => s }.isEmpty,
        s"global sort in the optimized plan:\n$plan")
    } finally caches.foreach(_.unpersist(false))
  }
}
