package graft

/** The production session factory: settings land on the session and
  * the SQL surface is wired. (In this shared-JVM test the builder
  * attaches to the existing session — getOrCreate applies the SQL
  * confs — which is also the notebook upgrade path.) */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession.local applies the engine's settings") {
    val s = GraftSession.local(4)
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("SQL surface available after explicit registration") {
    val s = GraftSession.local(4)
    GraftExtensions.register(s)
    val got = s.sql("SELECT int_dot(array(2, 3), array(4, 5)) AS d")
      .collect().head.getLong(0)
    assert(got == 23L)
  }

  test("register installs every function in GraftExtensions.functions") {
    val names = GraftExtensions.functions.map(_._1)
    assert(names.distinct == names, s"a name is listed twice: $names")
    GraftExtensions.register(spark)
    val missing = names.filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not registered: $missing")
  }

  test("withConf restores a key that was set and unsets a key that " +
    "was absent, when the body returns and when it throws") {
    val (set, absent) =
      ("spark.graft.test.withConf.set", "spark.graft.test.withConf.absent")
    spark.conf.set(set, "before")
    spark.conf.unset(absent)
    def assertRestored(): Unit = {
      assert(spark.conf.get(set) == "before")
      assert(spark.conf.getOption(absent).isEmpty)
    }
    try {
      val inside = GraftSession.withConf(spark, set -> "in", absent -> "in") {
        (spark.conf.get(set), spark.conf.get(absent))
      }
      assert(inside == ("in", "in"))
      assertRestored()
      val e = intercept[IllegalStateException] {
        GraftSession.withConf(spark, set -> "in", absent -> "in") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assertRestored()
    } finally spark.conf.unset(set)
  }

  test("a warm pass of the eight corpus_curation calls compiles almost " +
    "no generated code: the codegen cache holds a whole pass") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import queries.{Dedup, Similarity, TextAnalysis}
    assert(spark.sparkContext.getConf.get(
      "spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val calls: Seq[(org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Seq(Dedup.dedupMinhashLsh,
      Dedup.containmentDedup, Similarity.annBruteForce, Similarity.annIvf,
      TextAnalysis.tfidf, TextAnalysis.bm25TopK,
      TextAnalysis.compressionQuality, TextAnalysis.qualityGate)
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val before = compiles()
      calls.foreach(f => assert(f(spark, sfDir).collect().nonEmpty))
      compiles() - before
    }
    val first = pass()
    pass()
    val warm = pass()
    // measured alone: the first pass compiled 231 classes and the third
    // 0; without the setting (Spark's 100 entries) the third pass
    // recompiled 234
    assert(warm <= 10, s"first pass $first, third pass $warm")
  }
}
