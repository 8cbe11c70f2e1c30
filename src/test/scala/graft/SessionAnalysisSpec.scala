package graft

import graft.operators.SessionAnalysis
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** Gap-boundary semantics of sessionAnalysis (reference
  * AggregateFunctionSessionAnalysis.h:351 — `events[i].time >=
  * session_limit` breaks): an event at EXACTLY prev + gap starts a new
  * session, and the per-session tuple fields match the reference's
  * (duration, depth, end event, session time).
  */
class SessionAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("sessions split at >= gap; tuples carry duration/depth/end/start") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00", "a"),
      (1L, "2024-01-01 00:00:10", "b"),
      (1L, "2024-01-01 00:00:40", "c"), // exactly 30s after previous → new session
      (1L, "2024-01-01 00:01:05", "d"), // 25s gap → same session (rolling limit)
      (2L, "2024-01-01 00:00:00", "x"))
      .toDF("u", "ts", "ev")
      .select(col("u"), col("ts").cast("timestamp").as("ts"), col("ev"))
    val rows = SessionAnalysis
      .sessions(df, col("u"), col("ts"), col("ev"), 30L * 1000000)
      .orderBy(col("user_id"), col("session_time"))
      .collect()
    assert(rows.length === 3)
    val s1 = rows(0)
    assert(s1.getAs[Long]("duration_us") === 10000000L)
    assert(s1.getAs[Long]("depth") === 2L)
    assert(s1.getAs[String]("end_event") === "b")
    assert(s1.getAs[java.sql.Timestamp]("session_time").toString
      === "2024-01-01 00:00:00.0")
    val s2 = rows(1)
    assert(s2.getAs[Long]("duration_us") === 25000000L)
    assert(s2.getAs[Long]("depth") === 2L)
    assert(s2.getAs[String]("end_event") === "d")
    val s3 = rows(2)
    assert(s3.getAs[Long]("depth") === 1L)
    assert(s3.getAs[String]("end_event") === "x")
    assert(s3.getAs[Long]("duration_us") === 0L)
  }

  test("equal-time ties break deterministically by event name") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00", "z"),
      (1L, "2024-01-01 00:00:05", "b"),
      (1L, "2024-01-01 00:00:05", "a"))
      .toDF("u", "ts", "ev")
      .select(col("u"), col("ts").cast("timestamp").as("ts"), col("ev"))
    val r = SessionAnalysis
      .sessions(df, col("u"), col("ts"), col("ev"), 30L * 1000000)
      .collect()(0)
    assert(r.getAs[String]("end_event") === "b") // max (ts, ev) pair
    assert(r.getAs[Long]("depth") === 3L)
  }

  /** Per-user sessionization written out directly: rows without a
    * timestamp are sessions of their own; the rest split at gaps of at
    * least `gapUs`, each session ending at its last (ts, event).
    */
  private def naive(rows: Seq[(Long, Option[Long], String)], gapUs: Long) =
    rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
      val singles = rs.filter(_._2.isEmpty).map(r => (u, None, None, 1L, r._3))
      val timed = rs.collect { case (_, Some(us), ev) => (us, ev) }.sorted
      val sessions = timed.foldLeft(Vector.empty[Vector[(Long, String)]]) {
        case (acc, e) if acc.nonEmpty && e._1 - acc.last.last._1 < gapUs =>
          acc.init :+ (acc.last :+ e)
        case (acc, e) => acc :+ Vector(e)
      }
      singles ++ sessions.map(s =>
        (u, Some(s.head._1), Some(s.last._1 - s.head._1), s.size.toLong, s.last._2))
    }.sortBy(_.toString)

  test("sessions over rows with null timestamps match a naive sessionization") {
    val gapUs = 30L * 1000000
    val row = for {
      u <- Gen.choose(1L, 3L)
      ts <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.choose(0L, 120L).map(s => Some(s * 1000000)))
      ev <- Gen.oneOf("a", "b", "c")
    } yield (u, ts, ev)
    val prop = Prop.forAll(Gen.listOf(row)) { rows =>
      val df = rows.map { case (u, ts, ev) =>
        (u, ts.map(us => java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000))), ev)
      }.toDF("u", "ts", "ev")
      val got = SessionAnalysis.sessions(df, col("u"), col("ts"), col("ev"), gapUs)
        .select(col("user_id"), unix_micros(col("session_time")), col("duration_us"),
          col("depth"), col("end_event"))
        .collect().toSeq.map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3), r.getString(4)))
        .sortBy(_.toString)
      val want = naive(rows, gapUs)
      Prop(got == want) :| s"rows $rows\n  got  $got\n  want $want"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(result.passed, result.status.toString)
  }
}
