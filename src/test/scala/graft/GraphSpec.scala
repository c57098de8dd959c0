package graft

/** Graph-layer conf handling. */
class GraphSpec extends SparkSpec {

  test("a malformed broadcastRows value warns once per value and the " +
    "default 2M-row cap still applies") {
    val key = "spark.graft.superstep.broadcastRows"
    val bad = "not-a-long-graphspec"
    val df = spark.range(10).toDF("id")
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bad)
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val (atCap, overCap) =
      try {
        (1 to 4).foreach(_ =>
          queries.Graph.maybeBroadcast(df, 10L))
        (queries.Graph.maybeBroadcast(df, 2000000L),
          queries.Graph.maybeBroadcast(df, 2000001L))
      } finally {
        System.setErr(err)
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    val warned = buf.toString("UTF-8").split("\n")
      .count(_.contains(s"ignoring malformed $key='$bad'"))
    assert(warned == 1, s"expected one warning line, got $warned")
    assert(atCap ne df, "2M rows is within the default cap: broadcast")
    assert(overCap eq df, "past the default cap: no broadcast hint")
  }
}
