package graft

import org.apache.spark.sql.functions._
import graft.queries.Linkage

/** Blocked-fuzzy-join contracts: candidate generation, distance gate,
  * plan shape (equi-join, never a cartesian), and the demo corpus's
  * closed-form quality numbers. */
class LinkageSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq(
    (1L, "martha"), (2L, "melvin"), (3L, "stella"), (4L, "zz"))
    .toDF("lid", "lname")
  private def right = Seq(
    (10L, "marsha"),  // 1 edit from martha, same 3-prefix
    (20L, "melvins"), // 1 edit from melvin
    (30L, "steely"),  // 3 edits from stella, same block — must be cut
    (40L, "martha"))  // exact duplicate
    .toDF("rid", "rname")

  test("blockedLevenshteinJoin: distance gate on in-block candidates") {
    val got = Linkage.blockedLevenshteinJoin(left, "lname", right, "rname",
        n => substring(n, 1, 3), maxDist = 1)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (1L, 40L), (2L, 20L)),
      s"unexpected pair set $got")
  }

  test("blockedLevenshteinJoin: maxDist=0 keeps only exact matches") {
    val got = Linkage.blockedLevenshteinJoin(left, "lname", right, "rname",
        n => substring(n, 1, 3), maxDist = 0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 40L)))
  }

  test("blockedLevenshteinJoin: composite block keys compose (prefix " +
    "+ length band) and cross-block near-matches are invisible") {
    // melvin (6) vs melvins (7): same prefix, adjacent length bands of
    // width 1 — blocking deliberately trades that recall for scale.
    val got = Linkage.blockedLevenshteinJoin(left, "lname", right, "rname",
        n => concat(substring(n, 1, 3), length(n)), maxDist = 1)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (1L, 40L)))
  }

  /** Every Levenshtein in the optimized plan; each must carry a
    * threshold (the bounded verify), never the full-table form. */
  private def levenshteins(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Levenshtein => l
    }))

  test("plan shape: equi-join on the block key, no cartesian, no UDF") {
    val df = Linkage.blockedLevenshteinJoin(left, "lname", right, "rname",
      n => substring(n, 1, 3), maxDist = 1)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("ScalaUDF"), "levenshtein must stay codegen'd")
    val ls = levenshteins(df)
    assert(ls.nonEmpty && ls.forall(_.threshold.isDefined),
      s"verify must be levenshtein(a, b, k): $ls")
  }

  test("plan shape: every edit-distance verify of the l-rows is the " +
    "thresholded form, with no UDF") {
    // l05 and l08 return a materialized result, so their verify is
    // checked on the FS decision layer they share with l04
    val rows = Linkage.all.collect { case (n, fn, _)
        if Set("l01", "l02", "l03", "l04", "l06")(n.take(3)) => (n, fn) } :+
      ("l05/l08 match decisions", Linkage.defaultMatchDecisions _)
    assert(rows.size == 6)
    for ((name, fn) <- rows) {
      val df = fn(spark, sfDir)
      val ls = levenshteins(df)
      assert(ls.nonEmpty && ls.forall(_.threshold.isDefined),
        s"$name: verify must be levenshtein(a, b, k): $ls")
      assert(!df.queryExecution.optimizedPlan.toString.contains("ScalaUDF"),
        s"$name: levenshtein must stay codegen'd")
    }
  }

  test("boundedLevenshtein is exact: seeded random pairs keep the same " +
    "pairs as levenshtein(a, b) <= k, at the unbounded distance") {
    val rnd = new scala.util.Random(20261018L)
    // ASCII, umlauts and one supplementary-plane code point (two UTF-16
    // chars, one code point for both kernels)
    val alphabet = Seq("a", "b", "e", "n", "ä", "ö", "ü", "ß",
      new String(Character.toChars(0x1F600)))
    def word(n: Int): Seq[String] =
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size)))
    def edit(w: Seq[String]): Seq[String] = {
      val i = rnd.nextInt(w.size + 1)
      rnd.nextInt(3) match {
        case 0 if w.nonEmpty && i < w.size => w.patch(i, word(1), 1) // sub
        case 1 if w.nonEmpty && i < w.size => w.patch(i, Nil, 1)     // del
        case _ => w.patch(i, word(1), 0)                              // ins
      }
    }
    val pairs = (0 until 600).flatMap { _ =>
      val w = word(rnd.nextInt(9))
      val edited = Iterator.iterate(w)(edit).drop(rnd.nextInt(6)).next()
      val gap = rnd.nextInt(4)
      // length gaps 0-3 and 1-4: a gap of k and of k + 1 for every k
      Seq((w.mkString, edited.mkString),
        (w.mkString, (w ++ word(gap)).mkString),
        ((word(gap + 1) ++ w).mkString, w.mkString))
    } ++ Seq(("", ""), ("", "ab"), ("ä", ""), (null, "ab"), ("ab", null),
      (null, null), ("ab", "ab"))
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b").persist()
    try for (k <- 0 to 3) {
      val rows = df.select(col("id"), col("a"), col("b"),
          levenshtein(col("a"), col("b")).as("full"),
          Linkage.boundedLevenshtein(col("a"), col("b"), k).as("bnd"))
        .collect()
      val kept = rows.filter(r => !r.isNullAt(4) && r.getInt(4) >= 0)
      val want = rows.filter(r => !r.isNullAt(3) && r.getInt(3) <= k)
      assert(kept.map(_.getLong(0)).toSet == want.map(_.getLong(0)).toSet,
        s"k=$k: kept pair set differs")
      assert(kept.nonEmpty && kept.size < rows.count(!_.isNullAt(3)),
        s"k=$k: the draw must both keep and cut pairs")
      kept.foreach(r => assert(r.getInt(4) == r.getInt(3),
        s"k=$k: bounded ${r.getInt(4)} != full ${r.getInt(3)} for $r"))
      rows.foreach { r =>
        assert(r.isNullAt(4) == (r.isNullAt(1) || r.isNullAt(2)), s"$r")
        if (!r.isNullAt(3)) {
          assert((r.getInt(3) == 0) == (r.getString(1) == r.getString(2)),
            s"distance 0 must mean equal strings: $r")
          if (r.getInt(3) > k) assert(r.getInt(4) == -1, s"k=$k: $r")
        }
      }
      // the filter form the link layer plans agrees with the row values
      val viaFilter = df
        .filter(Linkage.boundedLevenshtein(col("a"), col("b"), k) >= 0)
        .select("id").as[Long].collect().toSet
      val viaFull = df.filter(levenshtein(col("a"), col("b")) <= k)
        .select("id").as[Long].collect().toSet
      assert(viaFilter == viaFull, s"k=$k: filter sets differ")
    } finally { df.unpersist(); () }
  }

  test("l02 demo: recall is total (the edit never leaves the block) " +
    "and every correct pair is found at distance 1") {
    val row = Linkage.linkageQuality(spark, sfDir).collect().head
    assert(row.getAs[Long]("recall_milli") == 1000L)
    assert(row.getAs[Long]("n_correct") == row.getAs[Long]("n_truth"))
    assert(row.getAs[Long]("n_pred") >= row.getAs[Long]("n_truth"))
  }

  test("l01 demo: pair set is invariant to partition layout") {
    val a = Linkage.linkagePairs(spark, sfDir).collect().toSeq
    val b = Linkage.linkagePairs(spark, sfDir).repartition(7)
      .sortWithinPartitions("cust_id", "rec_id").collect().toSeq
    assert(a.toSet == b.toSet)
  }
}
