package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Gecko
import graft.gen.Generators
import graft.mut.{MutateDataFrame, Mutators, RuleMutators}

/** Second wave of reference-parity invariants: unit sweeps, joint-
  * column semantics, composition of rule mutators inside groups, and
  * statistical distribution checks that round 1's specs skipped. */
class DeepInvariantSpec extends SparkSpec {
  import Mutators._
  import spark.implicits._

  private def frame(vals: Seq[String]): DataFrame =
    vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF(Gecko.RowId, "v")

  private def collectV(df: DataFrame): Array[String] =
    df.orderBy(Gecko.RowId).select("v").collect().map(_.getString(0))

  // ------------------------- M15 unit sweep (test_mutator.py:915-916)
  for ((unit, fmt, parse, field) <- Seq(
    ("h", "%Y-%m-%d %H:%M:%S", "yyyy-MM-dd HH:mm:ss", 3600L),
    ("m", "%Y-%m-%d %H:%M:%S", "yyyy-MM-dd HH:mm:ss", 60L),
    ("s", "%Y-%m-%d %H:%M:%S", "yyyy-MM-dd HH:mm:ss", 1L))) {
    test(s"withDatetimeOffset: unit `$unit` shifts by whole units") {
      val df = frame(Seq("2001-06-15 12:30:30", "1999-03-01 00:10:10"))
      val out = WithDatetimeOffset(4, unit, fmt, preventWraparound = false,
        seed = 77)(df, Seq("v"), 1.0, col(Gecko.RowId))
      val f = java.time.format.DateTimeFormatter.ofPattern(parse)
      collectV(df).zip(collectV(out)).foreach { case (a, b) =>
        val da = java.time.LocalDateTime.parse(a, f)
        val db = java.time.LocalDateTime.parse(b, f)
        val diff = math.abs(
          java.time.Duration.between(da, db).getSeconds)
        assert(diff % field == 0 && diff >= field && diff <= 4 * field,
          s"$a -> $b (unit $unit)")
      }
    }
  }

  // ----------------- M19 group containing a UDF/rule mutator (the
  // applyToColumn sel-routing path reference mutator.py:1706-1713)
  test("withGroup: rule mutator inside a group hits only its rows") {
    val df = frame(Seq.fill(2000)("foo5bar"))
    val ocr = RuleMutators.WithReplacementTable(
      Seq(("5", "s")), inline = true, reverse = false, seed = 81)
    val grp = WithGroup(Seq(
      (0.4, ocr: graft.mut.Mutator),
      (0.4, WithMissingValue("GONE", seed = 82))), seed = 83)
    val got = collectV(grp(df, Seq("v"), 1.0, col(Gecko.RowId)))
    val ocrd = got.count(_ == "foosbar")
    val gone = got.count(_ == "GONE")
    val untouched = got.count(_ == "foo5bar")
    assert(ocrd + gone + untouched == 2000)
    assert(math.abs(ocrd / 2000.0 - 0.4) < 0.05, s"ocr=$ocrd")
    assert(math.abs(gone / 2000.0 - 0.4) < 0.05, s"gone=$gone")
    assert(math.abs(untouched / 2000.0 - 0.2) < 0.05, s"none=$untouched")
  }

  // ---------------------- M16 multi-column generator compose (arity
  // check + per-column series alignment, reference mutator.py:1361-1366)
  test("withGenerator: multi-column generator feeds matching columns") {
    import spark.implicits._
    val freq = Seq(("x", "left", 1), ("y", "right", 1)).toDF("a", "b", "n")
    val gen = Generators.fromMulticolumnFrequencyTable(spark, freq,
      Seq("a", "b"), "n", seed = 91)
    val df = (0 until 200).map(i => (i.toLong, s"p$i", s"q$i"))
      .toDF(Gecko.RowId, "c1", "c2")
    val out = WithGenerator(gen, "replace", seed = 92)(
      df, Seq("c1", "c2"), 1.0, col(Gecko.RowId))
    val rows = out.orderBy(Gecko.RowId).collect()
    rows.foreach { r =>
      val (c1, c2) = (r.getString(1), r.getString(2))
      // joint consistency must survive through the mutator
      assert((c1 == "x" && c2 == "left") || (c1 == "y" && c2 == "right"),
        s"($c1, $c2)")
    }
    val e = intercept[IllegalArgumentException] {
      WithGenerator(gen, "replace", seed = 93)(
        df, Seq("c1"), 1.0, col(Gecko.RowId))
    }
    assert(e.getMessage.contains("as many series"))
  }

  // --------------------- G7 partition invariance (mixture + shuffle)
  test("fromGroup: byte-identical across partition counts") {
    val grp = Generators.FromGroup(Seq(
      (0.5, Generators.FromUniformDistribution(0, 1, 6, seed = 94)
        : graft.gen.Generator),
      (0.5, Generators.FromNormalDistribution(5, 1, 4, seed = 95))),
      maxRoundingAdjustment = 1, seed = 96)
    def run(parts: Int): Array[String] =
      GraftSession.withConf(spark,
        "spark.sql.shuffle.partitions" -> parts.toString) {
        grp.generate(spark, 4000).orderBy(Gecko.RowId)
          .select("c0").collect().map(_.getString(0))
      }
    assert(run(2).sameElements(run(8)))
  }

  // -------------- ToDataFrame general path: mixture forces the
  // row-id equi-join instead of the fused select
  test("toDataFrame: mixed expr + group generators join correctly") {
    import spark.implicits._
    val ga = Generators.fromFrequencyTable(spark,
      Seq(("only_a", 1)).toDF("v", "n"), "v", "n", seed = 71)
    val gb = Generators.fromFrequencyTable(spark,
      Seq(("only_b", 1)).toDF("v", "n"), "v", "n", seed = 72)
    val grp = Generators.FromGroup(Seq((0.5, ga: graft.gen.Generator),
      (0.5, gb)), maxRoundingAdjustment = 1, seed = 73)
    val df = graft.gen.ToDataFrame(spark, Seq(
      Seq("mix") -> (grp: graft.gen.Generator),
      Seq("u") -> Generators.FromUniformDistribution(0, 1, 4, seed = 74)),
      2000L)
    assert(df.count() == 2000)
    assert(df.select(Gecko.RowId).distinct().count() == 2000)
    val counts = df.groupBy("mix").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("only_a" -> 1000L, "only_b" -> 1000L))
    // every row carries both generators' output
    assert(df.filter(col("u").isNull || col("mix").isNull).count() == 0)
  }

  test("mutateDataFrame: cacheForStats produces identical output") {
    val df = frame((0 until 500).map(i => s"val$i"))
    def run(cache: Boolean) = MutateDataFrame(df, Seq(
      (Seq("v"), Seq(
        (0.5, WithDelete(seed = 75): graft.mut.Mutator),
        (0.5, WithMissingValue("X", seed = 76): graft.mut.Mutator)))),
      cacheForStats = cache)
      .orderBy(Gecko.RowId).select("v").collect().map(_.getString(0))
    assert(run(cache = false).sameElements(run(cache = true)))
    df.unpersist()
  }

  // ----------------------- M12 derangement uniformity (3 columns → 2
  // derangements, each should appear ~half the time)
  test("withPermute: derangements drawn uniformly") {
    val n = 4000
    val df = (0 until n).map(i => (i.toLong, "a", "b", "c"))
      .toDF(Gecko.RowId, "x", "y", "z")
    val out = WithPermute(seed = 97)(df, Seq("x", "y", "z"), 1.0,
      col(Gecko.RowId))
    val counts = out.groupBy("x", "y", "z").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    // the two 3-element derangements: (b,c,a) and (c,a,b)
    val bca = counts.getOrElse(("b", "c", "a"), 0L)
    val cab = counts.getOrElse(("c", "a", "b"), 0L)
    assert(bca + cab == n, s"non-derangement rows present: $counts")
    assert(math.abs(bca - n / 2.0) < n * 0.05, s"bca=$bca cab=$cab")
  }

  // --------------------- p-protocol statistical exactness: realized
  // mutation fraction ≈ p even when eligibility < 1
  test("p-protocol: overall mutated fraction tracks p with partial " +
    "eligibility") {
    val n = 10000
    // half the rows are empty => ineligible for delete
    val df = frame((0 until n).map(i => if (i % 2 == 0) "" else s"w$i"))
    Warnings0.clear()
    val out = WithDelete(seed = 98)(df, Seq("v"), 0.4, col(Gecko.RowId))
    val changed = collectV(df).zip(collectV(out))
      .count { case (a, b) => a != b }
    // p=0.4 of ALL rows requires mutating 0.8 of the eligible half
    assert(math.abs(changed / n.toDouble - 0.4) < 0.03,
      s"changed fraction ${changed / n.toDouble}")
  }

  private object Warnings0 {
    def clear(): Unit = graft.core.Warnings.drain()
  }

  // ---------------- chained mutators on multiple columns keep other
  // columns untouched (mutate_data_frame column isolation)
  test("mutateDataFrame: untouched columns pass through unchanged") {
    val df = (0 until 500).map(i => (i.toLong, s"a$i", s"keep$i"))
      .toDF(Gecko.RowId, "mut", "keep")
    val out = MutateDataFrame(df, Seq(
      (Seq("mut"), Seq((1.0, WithRepeat("-", seed = 99)
        : graft.mut.Mutator)))))
    val rows = out.orderBy(Gecko.RowId).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(2) == s"keep$i")
      assert(r.getString(1) == s"a$i-a$i")
    }
  }
}
