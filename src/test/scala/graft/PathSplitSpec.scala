package graft

import graft.sql.ChTranspiler
import org.apache.spark.sql.Row

/** Algorithm-level coverage for functions/PathSplitOps and
  * functions/SessionSplitOps beyond the banked corpus files
  * (01003_aggregation_pathsplit / _funnel_pathsplit / _bytimes,
  * 02029/10008 session_split): the corpus replays single-partition
  * fixtures, so these specs additionally pin that a repartitioned
  * (multi-buffer CollectList merge) input yields the identical result,
  * plus hand-traced vectors for the walk edge cases.
  */
class PathSplitSpec extends SparkSpec {

  private lazy val s = spark.newSession()

  private def rows(sql: String): Seq[String] =
    s.sql(ChTranspiler.transpile(sql)).collect().toSeq.map(
      _.toString.replace("ArraySeq(", "[").replace(")", "]")
        .replace(", ", ","))

  // 01003_aggregation_pathsplit fixture: (time, index, param)
  private def pathEvents(parts: Int): Unit = {
    import s.implicits._
    Seq(
      (1619852460000L, 1, ""), (1619852460000L, 1, ""),
      (1619852460001L, 2, ""), (1619852460001L, 2, ""),
      (1619852460101L, 1, ""), (1619852460102L, 2, ""))
      .toDF("time", "e", "p").repartition(parts)
      .createOrReplaceTempView("ps_events")
  }

  test("pathSplit sessions anchor at index 1 and split on the gap") {
    for (parts <- Seq(1, 5)) {
      pathEvents(parts)
      val fwd = rows("SELECT pathSplit(99, 10)(time, e, p) FROM ps_events")
      // two sessions: gap 100 > 99 splits after the 4th event
      assert(fwd == Seq("[[[[1,],[1,],[2,],[2,]],[[1,],[2,]]]]"), s"parts=$parts")
      val rev = rows("SELECT pathSplitR(99, 10)(time, e, p) FROM ps_events")
      assert(rev == Seq("[[[[1,]],[[1,],[1,]]]]"), s"parts=$parts reverse")
    }
  }

  test("pathSplit depth caps the rendered session") {
    pathEvents(1)
    assert(rows("SELECT pathSplit(99, 2)(time, e, p) FROM ps_events") ==
      Seq("[[[[1,],[1,]],[[1,],[2,]]]]"))
  }

  // 01003_aggregation_funnel_pathsplit fixture
  private def funnelEvents(parts: Int): Unit = {
    import s.implicits._
    Seq(
      (1L, 1, "p1", "ep1-1", "ep2-1"), (2L, 2, "p2", "ep1-2", "ep2-2"),
      (3L, 2, "p3", "ep1-3", "ep2-3"), (4L, 2, "p4", "ep1-4", "ep2-4"),
      (5L, 2, "p5", "ep1-5", "ep2-5"), (6L, 1, "p6", "ep1-6", "ep2-6"),
      (7L, 2, "p7", "ep1-7", "ep2-7"), (8L, 1, "p8", "ep1-8", "ep2-8"),
      (9L, 3, "p9", "ep1-9", "ep2-9"))
      .toDF("time", "e", "p", "x1", "x2").repartition(parts)
      .createOrReplaceTempView("fp_events")
  }

  test("funnelPathSplit returns the first session reaching max level") {
    for (parts <- Seq(1, 4)) {
      funnelEvents(parts)
      assert(rows(
        "SELECT funnelPathSplit(4, 10, 3, [0])(time, e, p, x1, x2) FROM fp_events")
        == Seq("[[[[1,p6],[2,p7],[1,p8],[3,p9]]]]"), s"parts=$parts")
      // prop-flag bit 0: anchors at any non-null extra1, prop node -1
      assert(rows(
        "SELECT funnelPathSplit(4, 10, 3, [1])(time, e, p, x1, x2) FROM fp_events")
        == Seq("[[[[-1,ep1-5],[1,p6],[2,p7],[1,p8],[3,p9]]]]"), s"parts=$parts")
    }
  }

  test("funnelPathSplit rejects prop flags wider than the extra props") {
    funnelEvents(1)
    intercept[Exception] {
      rows("SELECT funnelPathSplit(4, 10, 3, [7])(time, e, p, x1, x2) FROM fp_events")
    }
  }

  test("funnelPathSplitByTimes opens one bucket per anchor") {
    import s.implicits._
    for (parts <- Seq(1, 4)) {
      Seq(
        (1L, 1, "p1", "ep1-1", "ep2-1"), (2L, 1, "p2", "ep1-2", "ep2-2"),
        (3L, 2, "p3", "ep1-3", "ep2-3"), (4L, 2, "p4", "ep1-4", "ep2-4"),
        (5L, 2, "p5", "ep1-5", "ep2-5"), (6L, 3, "p6", "ep1-6", "ep2-6"),
        (7L, 3, "p7", "ep1-7", "ep2-7"))
        .toDF("time", "e", "p", "x1", "x2").repartition(parts)
        .createOrReplaceTempView("bt_events")
      // each level event advances the lowest-id waiting bucket; the
      // unmatched (2,p5) falls through as a common node in both paths
      assert(rows(
        "SELECT funnelPathSplitByTimes(10, 10, 3, [0])(time, e, p, x1, x2) FROM bt_events")
        == Seq("[[[[1,p1],[2,p3],[2,p5],[3,p6]],[[1,p2],[2,p4],[2,p5],[3,p7]]]]"),
        s"parts=$parts")
      // bits 1+2: prop nodes -2/-3 from extra1/extra2
      assert(rows(
        "SELECT funnelPathSplitByTimes(10, 10, 3, [6])(time, e, p, x1, x2) FROM bt_events")
        == Seq("[[[[1,p1],[-2,ep1-3],[-3,ep2-5],[3,p7]],[[1,p2],[-2,ep1-4],[-3,ep2-6],[3,p7]]]]"),
        s"parts=$parts")
    }
  }

  // 02029 sessionSplit fixture, repartitioned: the corpus banks the
  // single-partition replay; this pins the multi-buffer merge
  test("sessionSplit output is partition-invariant") {
    import s.implicits._
    val base = Seq(
      (1567958400L, 1567958400L, "predefine_pageview", 0L, 0L, "u1", "dir", "t1"),
      (1567960200L, 1567960200L, "predefine_pageview", 0L, 0L, "u2", "inner", "t2"),
      (1567962001L, 1567962001L, "predefine_pageview", 0L, 0L, "u3", "inner", "t3"))
    def run(parts: Int): Seq[String] = {
      base.toDF("server_time", "time", "event", "start_time", "end_time",
        "url", "referer_type", "referer_site_name").repartition(parts)
        .createOrReplaceTempView("ss_events")
      rows("SELECT sessionSplit(1800, 86400, 0, 0)(server_time, event, time, " +
        "start_time, end_time, url, referer_type, referer_site_name) FROM ss_events")
    }
    val one = run(1)
    assert(one.head.nonEmpty && one.head != "[]")
    assert(run(3) == one)
  }
}
