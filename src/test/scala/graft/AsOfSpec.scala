package graft

import org.apache.spark.sql.functions._
import graft.queries.{AsOf, Streaming}

/** As-of join semantics on hand-built data (the DuckDB ASOF JOIN
  * oracle covers the events-table demo; this pins the edge cases). */
class AsOfSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Long) = new java.sql.Timestamp(m * 60000L)

  test("asof join: latest right row at or before each left row") {
    val left = Seq(
      (1L, ts(5), "p1"), (1L, ts(15), "p2"), (1L, ts(2), "p0"),
      (2L, ts(10), "q1"), (3L, ts(10), "r1"))
      .toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts(3), 101L, 1.0), (1L, ts(10), 102L, 2.0),
      (2L, ts(10), 103L, 3.0), // equal ts => inclusive match
      (2L, ts(11), 104L, 4.0)) // future row never matches q1
      .toDF("user_id", "ts", "event_id", "value")

    val out = AsOf.asofJoin(left, right, "user_id", "ts",
      payload = Seq("value"), rightTie = "event_id")
      .orderBy("user_id", "ts")
      .collect().map(r => (r.getString(2), r.getDouble(3)))

    // p0 (t=2) precedes every right row for user 1 => dropped;
    // user 3 has no right rows at all => dropped
    assert(out.sameElements(Array(
      ("p1", 1.0),   // t=5  -> right t=3
      ("p2", 2.0),   // t=15 -> right t=10
      ("q1", 3.0)))) // t=10 -> right t=10 inclusive
  }

  test("asof join: tie on right (key, ts) resolved by highest tiebreak") {
    val left = Seq((1L, ts(10), "p")).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts(5), 1L, 10.0), (1L, ts(5), 9L, 99.0)) // same ts, ids 1 & 9
      .toDF("user_id", "ts", "event_id", "value")
    val out = AsOf.asofJoin(left, right, "user_id", "ts",
      Seq("value"), "event_id").collect()
    assert(out.length == 1 && out(0).getDouble(3) == 99.0)
  }

  test("asof join: NULL payload in the matching row is preserved, " +
    "never stitched from an older row") {
    val left = Seq((1L, ts(12), "p")).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts(3), 1L, Some(5.0), Some("x")),
      (1L, ts(10), 2L, None: Option[Double], Some("y"))) // true match
      .toDF("user_id", "ts", "event_id", "a", "b")
    val out = AsOf.asofJoin(left, right, "user_id", "ts",
      Seq("a", "b"), "event_id").collect()
    assert(out.length == 1)
    // the ts=10 row as a unit: a is NULL, b is "y" — no chimera (a=5.0)
    assert(out(0).isNullAt(3), out(0).toString)
    assert(out(0).getString(4) == "y")
  }

  test("asof join: empty payload acts as an existence filter") {
    val left = Seq((1L, ts(5), "has"), (2L, ts(5), "none"))
      .toDF("user_id", "ts", "tag")
    val right = Seq((1L, ts(3), 1L, 1.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = AsOf.asofJoin(left, right, "user_id", "ts",
      Seq.empty, "event_id").collect()
    assert(out.length == 1 && out(0).getString(2) == "has")
  }

  test("q17 demo runs and every purchase maps to an earlier signup") {
    val rows = sortedRows(AsOf.q17AsofJoin(spark, sfDir))
    assert(rows.nonEmpty)
    // unique purchase event ids (sortedRows orders them)
    val ids = rows.map(_.getLong(0))
    assert(ids.sameElements(ids.sorted) && ids.distinct.length == ids.length)
    // the expected match of every purchase, from the raw events: the
    // user's latest signup at or before it, ties to the highest event_id
    case class Ev(id: Long, user: Long, micros: Long, value: Any)
    def evs(kind: String): Seq[Ev] = Streaming.events(spark, sfDir)
      .filter(col("event_type") === kind)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")), col("value"))
      .collect().toSeq
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.get(3)))
    val signups = evs("signup").groupBy(_.user)
    val expected = evs("purchase").flatMap { p =>
      signups.getOrElse(p.user, Nil).filter(_.micros <= p.micros)
        .maxByOption(s => (s.micros, s.id))
        .map(s => p.id -> (p.user, s.value))
    }.toMap
    assert(expected.nonEmpty)
    assert(rows.length == expected.size)
    rows.foreach { r =>
      assert(expected.get(r.getLong(0)) == Some((r.getLong(1), r.get(3))),
        s"purchase ${r.getLong(0)} is not matched to its latest earlier " +
          "signup")
    }
  }
}
