package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.aggregates.SequenceMatchAgg.{sequenceCount, sequenceMatch}
import graft.aggregates.{RetentionAgg, RetentionMatrix}
import graft.operators.{AsofJoin, SessionAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Behavioral analytics over the `events` table — the reference's
  * behavioral aggregate family (SURVEY §2.4): sessionization and session
  * analysis, windowFunnel and the per-level funnel breakdowns (reference
  * src/AggregateFunctions/AggregateFunctionFinderFunnel.h,
  * AggregateFunctionFunnelRep.h), retention and cohort matrices,
  * sequenceMatch / sequenceCount (AggregateFunctionSequenceMatch.h — the
  * `(?N)` / `(?t<=D)` / `.` / `.*` pattern language) and sequenceNextNode
  * (AggregateFunctionSequenceNextNode.cpp), pathSplit, userDistribution
  * and slideMatchCount, multi-touch attribution
  * (AggregateFunctionAttribution*.cpp), tumbling/sliding/session windows
  * (SURVEY §2.10) and the ASOF join.
  *
  * All timestamps are compared in exact integer microseconds
  * (`unix_micros` ≡ DuckDB `epoch_us`) so no float drift can enter. The
  * sequence aggregates sort a user's rows by (ts, flag-bits); the test
  * data has no per-user µs-timestamp ties, and flag bit order follows
  * pattern event order, so "later list position" is exactly `us >=`
  * between rows of different event types in the SQL oracles.
  *
  * Typical scale shape: one shuffle on user_id into a packed-buffer
  * behavioral aggregate (concatenation merge, map-side combine) or a
  * single window pass, then a small slot/level-keyed re-aggregation.
  * Attribution encodes (us, channel) into one sortable long (us*2 +
  * channel bit — µs timestamps keep us*2 far below Long.Max), so no
  * purchase×touch join and no struct-ordering semantics are needed on
  * either side.
  */
object Behavioral {

  import Num._

  private val GapUs = 1800L * 1000000 // 30 min session gap
  private val DayUs = 86400L * 1000000
  private val HourUs = 3600L * 1000000
  private val LookbackUs = 3 * DayUs

  /** 2024-01-01 00:00:00 UTC in epoch-µs — the events table's first day. */
  private val WatchStartUs = 1704067200000000L
  private val WatchDays = 30

  private def steppedEvents(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "events")
      .withColumn("step",
        when(col("event_type") === "signup", 1)
          .when(col("event_type") === "click", 2)
          .when(col("event_type") === "purchase", 3).otherwise(0))
      .filter(col("step") > 0)

  /** (us, channel) → one sortable long; click sorts before view on ties. */
  private def touchCode = {
    when(col("event_type") === "click", col("us") * 2)
      .when(col("event_type") === "view", col("us") * 2 + 1)
  }

  private def chanOf(code: org.apache.spark.sql.Column) =
    when(pmod(code, lit(2)) === 0, lit("click")).otherwise(lit("view"))

  val defs: Seq[QueryDef] = Seq(

    // Sessionization: split each user's stream at >30 min silences
    // (reference sessionSplit, AggregateFunctionSessionSplit.cpp), then
    // per-user session stats. Window + cumulative-sum rewrite — one
    // shuffle on user_id, no collect.
    QueryDef(
      "sessionize_stats",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "events")
          .withColumn("us", Tables.tsUs(col("ts")))
          .withColumn("new_s",
            when(col("us") - lag(col("us"), 1).over(w) > GapUs, 1)
              .when(lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
          .withColumn("session_id", sum(col("new_s")).over(wRun))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
               (max(col("us")) - min(col("us"))).as("dur_us"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
               sum(col("n_events")).as("n_events"),
               (sum(col("dur_us")).cast("double") / count(lit(1))).as("avg_session_dur_us"),
               max(col("n_events")).as("max_session_events"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH marked AS (
          SELECT user_id, EPOCH_US(ts) AS us,
            CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w > 1800000000 THEN 1
                 WHEN LAG(EPOCH_US(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessions AS (
          SELECT user_id, session_id, COUNT(*) AS n_events,
            MAX(us) - MIN(us) AS dur_us
          FROM (SELECT user_id, us,
                  SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                FROM marked) t
          GROUP BY user_id, session_id)
        SELECT user_id, COUNT(*) AS n_sessions,
          CAST(SUM(n_events) AS BIGINT) AS n_events,
          CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) AS avg_session_dur_us,
          CAST(MAX(n_events) AS BIGINT) AS max_session_events
        FROM sessions
        GROUP BY user_id
        ORDER BY user_id""")),

    // windowFunnel: signup → click → purchase within 7 days (custom
    // Aggregator, reference getEventLevel semantics: depth >= k iff a
    // ts-non-decreasing chain of steps 1..k exists whose every event is
    // within the window of that chain's own step-1 anchor). Depth
    // histogram across users.
    QueryDef(
      "funnel_signup_click_purchase",
      (s, dir) => {
        val funnel = graft.aggregates.WindowFunnelAgg.funnel(7 * DayUs, 3) _
        Tables(s, dir, "events")
          .withColumn("step",
            when(col("event_type") === "signup", 1)
              .when(col("event_type") === "click", 2)
              .when(col("event_type") === "purchase", 3).otherwise(0))
          .filter(col("step") > 0)
          .groupBy(col("user_id"))
          .agg(funnel(Tables.tsUs(col("ts")), col("step")).as("depth"))
          .agg(count(when(col("depth") >= 1, 1)).as("reached_signup"),
               count(when(col("depth") >= 2, 1)).as("reached_click"),
               count(when(col("depth") >= 3, 1)).as("reached_purchase"))
      },
      // Oracle is the linear window form of the same chain semantics (the
      // triple self-join formulation took 75 s at sf0.1; this takes 80 ms):
      // run_s = latest signup at-or-before each event; a click matches if
      // its best anchor is within the window; run_sc = best anchor over
      // clicks at-or-before each event, so a purchase matches if some
      // s <= c <= p chain has p within the anchor's window (c <= p implies
      // c is inside the window too). RANGE frames include same-us peers,
      // matching the reference's ts-non-decreasing chains.
      Some("""
        WITH e AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events
                   WHERE event_type IN ('signup', 'click', 'purchase')),
        w1 AS (
          SELECT user_id, us, event_type,
            MAX(CASE WHEN event_type = 'signup' THEN us END) OVER
              (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_s
          FROM e),
        w2 AS (
          SELECT user_id, us, event_type, run_s,
            MAX(CASE WHEN event_type = 'click' THEN run_s END) OVER
              (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sc
          FROM w1),
        f AS (
          SELECT user_id,
            MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS d1,
            MAX(CASE WHEN event_type = 'click' AND run_s IS NOT NULL
                     AND us - run_s <= 604800000000 THEN 1 ELSE 0 END) AS d2,
            MAX(CASE WHEN event_type = 'purchase' AND run_sc IS NOT NULL
                     AND us - run_sc <= 604800000000 THEN 1 ELSE 0 END) AS d3
          FROM w2 GROUP BY user_id)
        SELECT CAST(SUM(d1) AS BIGINT) AS reached_signup,
               CAST(SUM(d2) AS BIGINT) AS reached_click,
               CAST(SUM(d3) AS BIGINT) AS reached_purchase
        FROM f""")),

    // retention: signed up; signed up & purchased; signed up & errored.
    QueryDef(
      "retention_cohort",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(RetentionAgg.retention(col("event_type") === "signup",
                   col("event_type") === "purchase",
                   col("event_type") === "error").as("r"))
          .agg(sum(col("r").getItem(0)).as("n_signup"),
               sum(col("r").getItem(1)).as("n_signup_purchase"),
               sum(col("r").getItem(2)).as("n_signup_error"))
      },
      Some("""
        WITH per_user AS (
          SELECT user_id,
            MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
            MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e
          FROM events GROUP BY user_id)
        SELECT CAST(SUM(s) AS BIGINT) AS n_signup,
          CAST(SUM(s * p) AS BIGINT) AS n_signup_purchase,
          CAST(SUM(s * e) AS BIGINT) AS n_signup_error
        FROM per_user""")),

    // sequenceMatch '(?1).*(?2)': signup followed by error within 1 day.
    QueryDef(
      "sequence_match_signup_error",
      (s, dir) => {
        val funnel = graft.aggregates.WindowFunnelAgg.funnel(DayUs, 2) _
        Tables(s, dir, "events")
          .withColumn("step",
            when(col("event_type") === "signup", 1)
              .when(col("event_type") === "error", 2).otherwise(0))
          .filter(col("step") > 0)
          .groupBy(col("user_id"))
          .agg(funnel(Tables.tsUs(col("ts")), col("step")).as("depth"))
          .agg(count(when(col("depth") === 2, 1)).as("n_matched_users"),
               count(lit(1)).as("n_users_considered"))
      },
      Some("""
        WITH u AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events),
        s AS (SELECT user_id, us FROM u WHERE event_type = 'signup'),
        e AS (SELECT user_id, us FROM u WHERE event_type = 'error'),
        t2 AS (SELECT DISTINCT s.user_id FROM s JOIN e ON e.user_id = s.user_id
               AND e.us >= s.us AND e.us <= s.us + 86400000000)
        SELECT (SELECT COUNT(*) FROM t2) AS n_matched_users,
          COUNT(DISTINCT user_id) AS n_users_considered
        FROM u WHERE event_type IN ('signup', 'error')""")),

    // Tumbling 6-hour windows (Structured-Streaming-shaped aggregation;
    // window() is epoch-aligned, ≡ integer-µs bucketing).
    QueryDef(
      "event_tumbling_counts",
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
          .select(col("w.start").as("bucket"), col("event_type"),
                  col("n_events"), col("sum_value"))
          .orderBy(col("bucket"), col("event_type")),
      Some("""
        SELECT MAKE_TIMESTAMP((EPOCH_US(ts) // 21600000000) * 21600000000) AS bucket,
          event_type, COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY bucket, event_type""")),

    // Sliding windows: 6-hour windows sliding every 3 hours — each event
    // lands in 2 buckets (Expand in Spark; UNNEST of both starts in SQL).
    QueryDef(
      "event_sliding_counts",
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("w.start").as("bucket"), col("event_type"), col("n_events"))
          .orderBy(col("bucket"), col("event_type")),
      Some("""
        WITH e AS (
          SELECT event_type,
            (EPOCH_US(ts) // 10800000000) * 10800000000 AS grid_us
          FROM events),
        expanded AS (
          SELECT event_type, UNNEST([grid_us - 10800000000, grid_us]) AS bucket_us
          FROM e)
        SELECT MAKE_TIMESTAMP(bucket_us) AS bucket, event_type,
          COUNT(*) AS n_events
        FROM expanded
        GROUP BY 1, 2
        ORDER BY bucket, event_type""")),

    // Session windows (session_window(), gap 30 min) — per-session rows.
    QueryDef(
      "event_session_windows",
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), Tables.tsUs(col("w.start")).as("session_start_us"),
                  col("n_events"))
          .orderBy(col("user_id"), col("session_start_us")),
      Some("""
        WITH marked AS (
          SELECT user_id, EPOCH_US(ts) AS us,
            CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w >= 1800000000 THEN 1
                 WHEN LAG(EPOCH_US(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events
        FROM (SELECT user_id, us,
                SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM marked) t
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start_us""")),

    // ASOF join: each purchase ← latest click at-or-before it, per user.
    QueryDef(
      "asof_purchase_click",
      (s, dir) => {
        // r15 (guide §2.4): both as-of sides are the SAME events table —
        // the tagged single-scan variant reads it once (2 parquet passes
        // → 1; the `event_type IN (click, purchase)` filter still pushes
        // down). Window semantics unchanged (AsofRewriteSpec equivalence).
        val ev = Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("us", Tables.tsUs(col("ts")))
        AsofJoin.backwardSameSource(ev,
            isLeft = col("event_type") === "purchase",
            isRight = col("event_type") === "click",
            key = "user_id", time = "us",
            leftCols = Seq("event_id"), rightCols = Seq("us"))
          .select(col("event_id"),
                  (col("us") - col("asof_us")).as("us_since_click"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT p.event_id, EPOCH_US(p.ts) - EPOCH_US(c.ts) AS us_since_click
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id""")),

    // Attribution (reference AggregateFunctionAttribution family):
    // last-touch — each purchase credits the latest preceding click/view
    // within 3 days, else 'direct'. One window pass per user, no joins.
    QueryDef(
      "attribution_last_touch",
      (s, dir) => {
        val wPrev = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val touch = col("event_type").isin("click", "view")
        Tables(s, dir, "events")
          .withColumn("us", Tables.tsUs(col("ts")))
          .withColumn("attr_us", last(when(touch, col("us")), ignoreNulls = true).over(wPrev))
          .withColumn("attr_type", last(when(touch, col("event_type")), ignoreNulls = true).over(wPrev))
          .filter(col("event_type") === "purchase")
          .withColumn("channel",
            when(col("attr_us").isNotNull && col("us") - col("attr_us") <= 3 * DayUs,
              col("attr_type")).otherwise(lit("direct")))
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n_purchases"),
               (sum(when(col("channel") =!= "direct", col("us") - col("attr_us"))
                 .otherwise(lit(0L))).cast("double") /
                 nullif(count(when(col("channel") =!= "direct", 1)), lit(0L)))
                 .as("avg_gap_us"))
          .orderBy(col("channel"))
      },
      Some("""
        WITH t AS (
          SELECT user_id, event_id, event_type, EPOCH_US(ts) AS us,
            LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN EPOCH_US(ts) END
              IGNORE NULLS) OVER w AS attr_us,
            LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN event_type END
              IGNORE NULLS) OVER w AS attr_type
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        p AS (
          SELECT CASE WHEN attr_us IS NOT NULL AND us - attr_us <= 259200000000
                      THEN attr_type ELSE 'direct' END AS channel,
                 us, attr_us
          FROM t WHERE event_type = 'purchase')
        SELECT channel, COUNT(*) AS n_purchases,
          CAST(SUM(CASE WHEN channel <> 'direct' THEN us - attr_us ELSE 0 END) AS DOUBLE)
            / NULLIF(COUNT(CASE WHEN channel <> 'direct' THEN 1 END), 0) AS avg_gap_us
        FROM p
        GROUP BY channel
        ORDER BY channel""")),

    // Same ASOF semantics through the SQL front door: the asof_le marker
    // + AsofJoinRewrite rule (graft.plans) replace the Join with the
    // union+window plan during optimization — no hand-written pipeline.
    // Inner strictness: unmatched purchases drop.
    QueryDef.sql(
      "asof_sql_rewrite",
      Seq("events"),
      """
        SELECT p.event_id, p.us - c.us AS us_since_click
        FROM (SELECT event_id, user_id, unix_micros(ts) AS us FROM events
              WHERE event_type = 'purchase') p
        JOIN (SELECT user_id AS c_user, unix_micros(ts) AS us FROM events
              WHERE event_type = 'click') c
          ON p.user_id = c.c_user AND asof_le(c.us, p.us)
        ORDER BY p.event_id""",
      Some("""
        SELECT p.event_id, EPOCH_US(p.ts) - EPOCH_US(c.ts) AS us_since_click
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id""")),

    // Partition top-N over the stream: 2 highest-value events per user.
    QueryDef(
      "top_events_per_user",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id"))
        Tables(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("user_id"), col("rn"), col("event_id"), col("value"))
          .orderBy(col("user_id"), col("rn"))
      },
      Some("""
        SELECT user_id, rn, event_id, value FROM (
          SELECT user_id, event_id, value,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY value DESC, event_id) AS rn
          FROM events) t
        WHERE rn <= 2
        ORDER BY user_id, rn""")),

    // PIVOT: per-user event-type counts as columns.
    QueryDef(
      "pivot_event_counts",
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
          .orderBy(col("user_id")),
      Some("""
        SELECT user_id,
          COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
          COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
          COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
          COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
          COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    // finderFunnel + funnelRep: per-day funnel levels (chain must START in
    // the day; completion within a 1-day window may cross midnight —
    // the reference's "second chance" semantics), folded to per-day
    // per-level user counts (funnelRep's output matrix, one row per slot).
    QueryDef(
      "funnel_levels_breakdown",
      (s, dir) => {
        val ff = graft.aggregates.FinderFunnelAgg
          .finderFunnel(WatchStartUs, DayUs, WatchDays, DayUs, 3) _
        steppedEvents(s, dir)
          .groupBy(col("user_id"))
          .agg(ff(Tables.tsUs(col("ts")), col("step")).as("levels"))
          .select(col("user_id"), posexplode(col("levels")).as(Seq("slot", "lvl")))
          .filter(col("lvl") > 0)
          .groupBy(col("slot"))
          .agg(count(lit(1)).as("reached_1"),
               count(when(col("lvl") >= 2, 1)).as("reached_2"),
               count(when(col("lvl") >= 3, 1)).as("reached_3"))
          .orderBy(col("slot"))
      },
      // Exact oracle: per signup event, the earliest chain completion is
      // cp_next = min over clicks at-or-after it of (earliest purchase
      // at-or-after the click) — two window sweeps, no triple self-join
      // (same linearization as the funnel_signup_click_purchase oracle).
      Some("""
        WITH e AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events
                   WHERE event_type IN ('signup', 'click', 'purchase')),
        x AS (SELECT user_id, us, event_type,
                MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER
                  (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p_next
              FROM e),
        y AS (SELECT user_id, us, event_type,
                MIN(CASE WHEN event_type = 'click' THEN us END) OVER w AS c_next,
                MIN(CASE WHEN event_type = 'click' THEN p_next END) OVER w AS cp_next
              FROM x
              WINDOW w AS (PARTITION BY user_id ORDER BY us
                           RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        lv AS (SELECT user_id,
                 CAST((us - 1704067200000000) // 86400000000 AS INTEGER) AS slot,
                 CASE WHEN cp_next IS NOT NULL AND cp_next - us <= 86400000000 THEN 3
                      WHEN c_next IS NOT NULL AND c_next - us <= 86400000000 THEN 2
                      ELSE 1 END AS lvl
               FROM y WHERE event_type = 'signup'),
        m AS (SELECT user_id, slot, MAX(lvl) AS lvl FROM lv
              WHERE slot >= 0 AND slot < 30 GROUP BY 1, 2)
        SELECT slot, COUNT(*) AS reached_1,
          COUNT(CASE WHEN lvl >= 2 THEN 1 END) AS reached_2,
          COUNT(CASE WHEN lvl >= 3 THEN 1 END) AS reached_3
        FROM m GROUP BY slot ORDER BY slot""")),

    // finderFunnel at user granularity: every (user, day) funnel level —
    // the raw level arrays funnelRep consumes, posexploded so the gate
    // hash-checks each slot.
    QueryDef(
      "funnel_finder_user_levels",
      (s, dir) => {
        val ff = graft.aggregates.FinderFunnelAgg
          .finderFunnel(WatchStartUs, DayUs, WatchDays, DayUs, 3) _
        steppedEvents(s, dir)
          .groupBy(col("user_id"))
          .agg(ff(Tables.tsUs(col("ts")), col("step")).as("levels"))
          .select(col("user_id"), posexplode(col("levels")).as(Seq("slot", "lvl")))
          .filter(col("lvl") > 0)
          .orderBy(col("user_id"), col("slot"))
      },
      Some("""
        WITH e AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events
                   WHERE event_type IN ('signup', 'click', 'purchase')),
        x AS (SELECT user_id, us, event_type,
                MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER
                  (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p_next
              FROM e),
        y AS (SELECT user_id, us, event_type,
                MIN(CASE WHEN event_type = 'click' THEN us END) OVER w AS c_next,
                MIN(CASE WHEN event_type = 'click' THEN p_next END) OVER w AS cp_next
              FROM x
              WINDOW w AS (PARTITION BY user_id ORDER BY us
                           RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        lv AS (SELECT user_id,
                 CAST((us - 1704067200000000) // 86400000000 AS INTEGER) AS slot,
                 CASE WHEN cp_next IS NOT NULL AND cp_next - us <= 86400000000 THEN 3
                      WHEN c_next IS NOT NULL AND c_next - us <= 86400000000 THEN 2
                      ELSE 1 END AS lvl
               FROM y WHERE event_type = 'signup'),
        m AS (SELECT user_id, slot, CAST(MAX(lvl) AS INTEGER) AS lvl FROM lv
              WHERE slot >= 0 AND slot < 30 GROUP BY 1, 2)
        SELECT user_id, slot, lvl FROM m ORDER BY user_id, slot""")),

    // funnelPathSplit: each user's deepest funnel session path — anchored
    // at a signup, every event (funnel or common) appended until the 2-day
    // window or depth 8 is hit, first max-level session wins. Posexploded
    // to (user, node position, event index, param) rows for the gate.
    QueryDef(
      "funnel_path_split",
      (s, dir) => {
        val fps = graft.aggregates.PathSplitAgg.funnelPathSplit(2 * DayUs, 8, 3) _
        Tables(s, dir, "events")
          .withColumn("idx",
            when(col("event_type") === "signup", 1)
              .when(col("event_type") === "click", 2)
              .when(col("event_type") === "purchase", 3).otherwise(0))
          .groupBy(col("user_id"))
          .agg(fps(Tables.tsUs(col("ts")), col("idx"), col("event_type"))
            .as("path"))
          .select(col("user_id"), posexplode(col("path")).as(Seq("node_pos", "node")))
          .select(col("user_id"), col("node_pos"),
            col("node.col1").as("ev"), col("node.col2").as("param"))
          .orderBy(col("user_id"), col("node_pos"))
      },
      // Oracle linearization: anchors are ALL signup events in stream
      // order (the reference's next_first_event chaining visits exactly
      // these); a session's slice is the next depth-1 events within the
      // window; greedy levels via first-step-2 position then a step-3
      // after it; first anchor with the max level wins.
      Some("""
        WITH e AS (
          SELECT user_id, EPOCH_US(ts) AS us,
            CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                 WHEN 'purchase' THEN 3 ELSE 0 END AS idx,
            event_type AS param,
            ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts,
              CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                   WHEN 'purchase' THEN 3 ELSE 0 END, event_type) AS pos
          FROM events),
        a AS (SELECT user_id, us AS a_us, pos AS a_pos FROM e WHERE idx = 1),
        slice AS (
          SELECT a.user_id, a.a_pos, e.pos, e.idx, e.param
          FROM a JOIN e ON e.user_id = a.user_id
          WHERE e.pos >= a.a_pos AND e.pos < a.a_pos + 8
            AND e.us - a.a_us <= 172800000000),
        s2 AS (SELECT user_id, a_pos,
                 MIN(CASE WHEN idx = 2 AND pos > a_pos THEN pos END) AS p2
               FROM slice GROUP BY 1, 2),
        s3 AS (SELECT sl.user_id, sl.a_pos,
                 MIN(CASE WHEN sl.idx = 3 AND sl.pos > s2.p2 THEN sl.pos END) AS p3
               FROM slice sl
               JOIN s2 ON sl.user_id = s2.user_id AND sl.a_pos = s2.a_pos
               GROUP BY 1, 2),
        lev AS (SELECT s2.user_id, s2.a_pos,
                  1 + CASE WHEN s2.p2 IS NOT NULL THEN 1 ELSE 0 END
                    + CASE WHEN s3.p3 IS NOT NULL THEN 1 ELSE 0 END AS lvl
                FROM s2 JOIN s3 ON s2.user_id = s3.user_id AND s2.a_pos = s3.a_pos),
        best AS (SELECT user_id, a_pos FROM lev
                 QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY lvl DESC, a_pos) = 1)
        SELECT sl.user_id, CAST(sl.pos - sl.a_pos AS INTEGER) AS node_pos,
               sl.idx AS ev, sl.param
        FROM slice sl
        JOIN best b ON sl.user_id = b.user_id AND sl.a_pos = b.a_pos
        ORDER BY sl.user_id, node_pos""")),

    // attributionAnalysis time-decay mode (reference
    // AggregateFunctionAttributionAnalysis.h:563-580, attribution_mode 4:
    // per conversion each touch weighs 0.5^(Δt/halflife), normalized to
    // sum 1, then summed per touch channel with conversion counts and
    // credited value — the struct output of the analysis form).
    //
    // Plan: ONE window pass. 0.5^((t_p-t_c)/h) ∝ 2^(t_c/h), and the
    // purchase-anchored factor 2^(-t_p/h) cancels in the per-conversion
    // normalization, so each channel's credit is the RATIO of two sliding
    // 3-day window sums of per-touch weights. Weights are quantized to
    // integer micro-units BEFORE the window sum, making both the sum and
    // the ratio bit-deterministic (no double-accumulation order anywhere);
    // credit totals quantize per-term the same way (the repo's D6
    // convention). No purchase×touch join at any point.
    QueryDef(
      "attribution_time_decay",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val look = 3 * DayUs
        val e = Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "view", "purchase"))
          .select(col("user_id"), Tables.tsUs(col("ts")).as("us"),
            col("event_type"), col("value"))
        // Half-life = 1 day; rebased exponent keeps 2^x in double range.
        val wmicro = floor(pow(lit(2.0),
          (col("us") - lit(WatchStartUs)) / lit(86400000000.0)) * lit(1e6))
          .cast("long")
        val win = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-look, 0)
        val wd = e
          .withColumn("wc", coalesce(
            sum(when(col("event_type") === "click", wmicro)).over(win), lit(0L)))
          .withColumn("wv", coalesce(
            sum(when(col("event_type") === "view", wmicro)).over(win), lit(0L)))
        val p = wd.filter(col("event_type") === "purchase" &&
          (col("wc") + col("wv")) > 0)
        val x = p.select(col("value"), explode(array(
            struct(lit("click").as("channel"), col("wc").as("wch"),
              (col("wc") + col("wv")).as("wtot")),
            struct(lit("view").as("channel"), col("wv").as("wch"),
              (col("wc") + col("wv")).as("wtot")))).as("t"))
          .select(col("t.channel").as("channel"), col("t.wch").as("wch"),
            col("t.wtot").as("wtot"), col("value"))
        val ratio = col("wch").cast("double") / col("wtot").cast("double")
        x.groupBy(col("channel")).agg(
            count(when(col("wch") > 0, 1)).as("conversions"),
            (sum(floor(lit(1e6) * ratio).cast("long")).cast("double") / 1e6)
              .as("credit"),
            (sum(floor(lit(1e6) * col("value") * ratio).cast("long"))
              .cast("double") / 1e6).as("value_credited"))
          .orderBy(col("channel"))
      },
      Some("""
        WITH e AS (SELECT user_id, EPOCH_US(ts) AS us, event_type, value
                   FROM events
                   WHERE event_type IN ('click', 'view', 'purchase')),
        w AS (SELECT user_id, us, event_type, value,
                COALESCE(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(FLOOR(POWER(2.0, (us - 1704067200000000) / 86400000000.0)
                       * 1e6) AS BIGINT) END) OVER win, 0) AS wc,
                COALESCE(SUM(CASE WHEN event_type = 'view'
                  THEN CAST(FLOOR(POWER(2.0, (us - 1704067200000000) / 86400000000.0)
                       * 1e6) AS BIGINT) END) OVER win, 0) AS wv
              FROM e
              WINDOW win AS (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW)),
        p AS (SELECT user_id, value, wc, wv FROM w
              WHERE event_type = 'purchase' AND wc + wv > 0),
        x AS (SELECT 'click' AS channel, wc AS wch, wc + wv AS wtot, value FROM p
              UNION ALL
              SELECT 'view', wv, wc + wv, value FROM p)
        SELECT channel,
          COUNT(CASE WHEN wch > 0 THEN 1 END) AS conversions,
          CAST(SUM(CAST(FLOOR(1e6 * (CAST(wch AS DOUBLE) / CAST(wtot AS DOUBLE)))
            AS BIGINT)) AS DOUBLE) / 1e6 AS credit,
          CAST(SUM(CAST(FLOOR(1e6 * value * (CAST(wch AS DOUBLE) / CAST(wtot AS DOUBLE)))
            AS BIGINT)) AS DOUBLE) / 1e6 AS value_credited
        FROM x GROUP BY channel ORDER BY channel""")),

    // attributionCorrelation (reference
    // AggregateFunctionAttributionCorrelation.h:243-327 getRankCorrelation
    // + insertResultInto): per touch channel — total/valid touch counts,
    // valid ratio, mean touch→conversion gap, and the Spearman rank
    // correlation (ties = averaged ranks, 1 - 6Σd²/(n(n²-1)), 0 when
    // Σy=0 or NaN) over per-user (total, valid) feature pairs, pairs
    // collected only from users with ≥1 valid touch anywhere (the
    // reference's has_valid merge guard). Composed from window passes —
    // no event-stream self-join; ranks are two window sorts per channel.
    QueryDef(
      "attribution_correlation",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val look = 3 * DayUs
        val e = Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "view", "purchase"))
          .select(col("user_id"), Tables.tsUs(col("ts")).as("us"),
            col("event_type"))
        val aheadWin = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(1, look)
        val t = e
          .withColumn("np",
            min(when(col("event_type") === "purchase", col("us"))).over(aheadWin))
          .filter(col("event_type").isin("click", "view"))
          .withColumn("valid", when(col("np").isNotNull, 1L).otherwise(0L))
          .withColumn("gap", when(col("np").isNotNull, col("np") - col("us")))
        val uc = t.groupBy(col("user_id"), col("event_type").as("channel"))
          .agg(count(lit(1)).as("total"), sum(col("valid")).as("valid"),
            sum(col("gap")).as("gap_us"))
        val pairs = uc.withColumn("has_valid",
            max(when(col("valid") > 0, 1).otherwise(0))
              .over(Window.partitionBy(col("user_id"))))
          .filter(col("has_valid") === 1)
        val ranked = pairs
          .withColumn("rnx", row_number().over(Window.partitionBy(col("channel"))
            .orderBy(col("total").desc, col("user_id"))))
          .withColumn("rny", row_number().over(Window.partitionBy(col("channel"))
            .orderBy(col("valid").desc, col("user_id"))))
          .withColumn("rx", avg(col("rnx"))
            .over(Window.partitionBy(col("channel"), col("total"))))
          .withColumn("ry", avg(col("rny"))
            .over(Window.partitionBy(col("channel"), col("valid"))))
        val corr = ranked.groupBy(col("channel")).agg(
            count(lit(1)).as("n"), sum(col("valid")).as("sumy"),
            sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("d2"))
          .select(col("channel"),
            when(col("sumy") === 0 || col("n") <= 1, lit(0.0))
              .otherwise(lit(1.0) - lit(6.0) * col("d2") /
                (col("n") * (col("n") * col("n") - 1))).as("correlation"))
        uc.groupBy(col("channel")).agg(
            sum(col("total")).as("clicks"), sum(col("valid")).as("valid_clicks"),
            sum(col("gap_us")).as("gap_sum"))
          .join(corr, Seq("channel"), "left")
          .select(col("channel"),
            coalesce(col("correlation"), lit(0.0)).as("correlation"),
            col("clicks"), col("valid_clicks"),
            (col("valid_clicks").cast("double") / col("clicks").cast("double"))
              .as("valid_ratio"),
            when(col("valid_clicks") > 0,
              col("gap_sum").cast("double") / col("valid_clicks") / lit(1e6))
              .otherwise(lit(0.0)).as("avg_gap_sec"))
          .orderBy(col("channel"))
      },
      Some("""
        WITH e AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events
                   WHERE event_type IN ('click', 'view', 'purchase')),
        w AS (SELECT user_id, us, event_type,
                MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER
                  (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 1 FOLLOWING AND 259200000000 FOLLOWING) AS np
              FROM e),
        t AS (SELECT user_id, event_type AS channel,
                CASE WHEN np IS NOT NULL THEN 1 ELSE 0 END AS valid,
                CASE WHEN np IS NOT NULL THEN np - us END AS gap
              FROM w WHERE event_type IN ('click', 'view')),
        uc AS (SELECT user_id, channel, COUNT(*) AS total,
                 CAST(SUM(valid) AS BIGINT) AS valid,
                 CAST(SUM(gap) AS BIGINT) AS gap_us
               FROM t GROUP BY 1, 2),
        hv AS (SELECT *, MAX(CASE WHEN valid > 0 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id) AS has_valid FROM uc),
        rk AS (SELECT channel, user_id, total, valid,
                 ROW_NUMBER() OVER (PARTITION BY channel
                   ORDER BY total DESC, user_id) AS rnx,
                 ROW_NUMBER() OVER (PARTITION BY channel
                   ORDER BY valid DESC, user_id) AS rny
               FROM hv WHERE has_valid = 1),
        rr AS (SELECT channel, valid,
                 AVG(rnx) OVER (PARTITION BY channel, total) AS rx,
                 AVG(rny) OVER (PARTITION BY channel, valid) AS ry
               FROM rk),
        corr AS (SELECT channel, COUNT(*) AS n,
                   CAST(SUM(valid) AS BIGINT) AS sumy,
                   SUM((rx - ry) * (rx - ry)) AS d2
                 FROM rr GROUP BY channel),
        tot AS (SELECT channel, COUNT(*) AS clicks,
                  CAST(SUM(valid) AS BIGINT) AS valid_clicks,
                  CAST(SUM(gap) AS BIGINT) AS gap_sum
                FROM t GROUP BY channel)
        SELECT tot.channel,
          COALESCE(CASE WHEN corr.sumy = 0 OR corr.n <= 1 THEN 0.0
            ELSE 1.0 - 6.0 * corr.d2 / (corr.n * (corr.n * corr.n - 1)) END,
            0.0) AS correlation,
          tot.clicks, tot.valid_clicks,
          CAST(tot.valid_clicks AS DOUBLE) / CAST(tot.clicks AS DOUBLE)
            AS valid_ratio,
          CASE WHEN tot.valid_clicks > 0
            THEN CAST(tot.gap_sum AS DOUBLE) / tot.valid_clicks / 1e6
            ELSE 0.0 END AS avg_gap_sec
        FROM tot LEFT JOIN corr ON corr.channel = tot.channel
        ORDER BY tot.channel""")),

    // retentionLoss (reference AggregateFunctionRetentionLoss.h:93-126 +
    // finalize 158-162): per start-day cohort, lost(i,j) = users who
    // started on day i and had NOT returned by day j (first return
    // strictly after the start day, matching the reference's j=i+1 scan).
    // Scale shape: one user-day hash agg, then all matrix algebra runs on
    // the tiny (start_day, first_return) table — the day-grid explode
    // touches ≤ window² rows however many users exist.
    QueryDef(
      "retention_loss_matrix",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables(s, dir, "events")
          .select(col("user_id"),
            datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
              .as("dy"),
            col("event_type"))
          .groupBy(col("user_id"), col("dy"))
          .agg(max(when(col("event_type") === "signup", 1).otherwise(0)).as("st"),
               max(when(col("event_type") === "purchase", 1).otherwise(0)).as("rt"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("dy"))
          .rowsBetween(1, Window.unboundedFollowing)
        val c = d.withColumn("fr", min(when(col("rt") === 1, col("dy"))).over(w))
          .filter(col("st") === 1 && col("dy").between(0, 29))
        val g = c.groupBy(col("dy").as("i"), col("fr")).agg(count(lit(1)).as("cnt"))
        val coh = g.groupBy(col("i")).agg(sum(col("cnt")).as("cohort"))
        val grid = coh.select(col("i"), col("cohort"),
          explode(sequence(col("i"), lit(29))).as("j"))
        val ret = g.filter(col("fr").isNotNull)
          .select(col("i"), col("cnt"),
            explode(sequence(col("fr"), lit(29))).as("j"))
          .groupBy(col("i"), col("j")).agg(sum(col("cnt")).as("rn"))
        grid.join(ret, Seq("i", "j"), "left")
          .select(col("i").as("start_day"), col("j").as("day"), col("cohort"),
            (col("cohort") - coalesce(col("rn"), lit(0L))).as("lost"))
          .orderBy(col("start_day"), col("day"))
      },
      Some("""
        WITH d AS (SELECT user_id,
            CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS dy,
            MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS st,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS rt
          FROM events GROUP BY 1, 2),
        w AS (SELECT user_id, dy, st,
                MIN(CASE WHEN rt = 1 THEN dy END) OVER
                  (PARTITION BY user_id ORDER BY dy
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fr
              FROM d),
        c AS (SELECT dy AS i, fr FROM w WHERE st = 1 AND dy BETWEEN 0 AND 29),
        g AS (SELECT i, fr, COUNT(*) AS cnt FROM c GROUP BY 1, 2),
        coh AS (SELECT i, CAST(SUM(cnt) AS BIGINT) AS cohort FROM g GROUP BY i),
        grid AS (SELECT i, cohort, CAST(UNNEST(RANGE(i, 30)) AS INTEGER) AS j
                 FROM coh),
        ret AS (SELECT i, j, SUM(cnt) AS rn FROM (
                  SELECT i, cnt, CAST(UNNEST(RANGE(fr, 30)) AS INTEGER) AS j
                  FROM g WHERE fr IS NOT NULL) t
                GROUP BY 1, 2)
        SELECT grid.i AS start_day, grid.j AS day, grid.cohort,
               CAST(grid.cohort - COALESCE(ret.rn, 0) AS BIGINT) AS lost
        FROM grid LEFT JOIN ret ON grid.i = ret.i AND grid.j = ret.j
        ORDER BY start_day, day""")),

    // genArray (reference AggregateFunctionGenArray.h: per-user activity
    // bit array over the watch grid — the input feeding retention/loss).
    // 30 days pack into one BIGINT mask per flavor via bit_or.
    QueryDef(
      "retention_gen_array",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(col("user_id"),
            datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
              .as("dy"),
            col("event_type"))
          .filter(col("dy").between(0, 29))
          .groupBy(col("user_id"))
          .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), dy))").as("active_mask"),
            expr("bit_or(CASE WHEN event_type = 'signup' " +
              "THEN shiftleft(CAST(1 AS BIGINT), dy) ELSE CAST(0 AS BIGINT) END)")
              .as("signup_mask"),
            expr("bit_or(CASE WHEN event_type = 'purchase' " +
              "THEN shiftleft(CAST(1 AS BIGINT), dy) ELSE CAST(0 AS BIGINT) END)")
              .as("purchase_mask"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH d AS (SELECT user_id, event_type,
            CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS dy
          FROM events
          WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-30')
        SELECT user_id,
          BIT_OR(CAST(1 AS BIGINT) << dy) AS active_mask,
          BIT_OR(CASE WHEN event_type = 'signup' THEN CAST(1 AS BIGINT) << dy
                      ELSE CAST(0 AS BIGINT) END) AS signup_mask,
          BIT_OR(CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT) << dy
                      ELSE CAST(0 AS BIGINT) END) AS purchase_mask
        FROM d GROUP BY user_id ORDER BY user_id""")),

    // finderGroupFunnel (reference AggregateFunctionFinderGroupFunnel.h:52
    // — funnel levels split by an event-property group, state multiplied
    // per group). Spark-first the group is just another grouping column:
    // chain-start (signup) events keep their own property bucket, chain
    // continuation events are replicated to every bucket (same information
    // flow as the reference's shared event buffer), and the existing
    // finderFunnel aggregate runs per (user, group).
    QueryDef(
      "finder_group_funnel",
      (s, dir) => {
        val ff = graft.aggregates.FinderFunnelAgg
          .finderFunnel(WatchStartUs, DayUs, WatchDays, DayUs, 3) _
        val ev = Tables(s, dir, "events")
          .withColumn("step",
            when(col("event_type") === "signup", 1)
              .when(col("event_type") === "click", 2)
              .when(col("event_type") === "purchase", 3).otherwise(0))
          .filter(col("step") > 0)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        val grpOf = when(col("k") < 33, "low")
          .when(col("k") < 67, "mid").otherwise("high")
        val expanded = ev.withColumn("grp",
          explode(when(col("step") === 1, array(grpOf))
            .otherwise(array(lit("low"), lit("mid"), lit("high")))))
        expanded.groupBy(col("user_id"), col("grp"))
          .agg(ff(Tables.tsUs(col("ts")), col("step")).as("levels"))
          .select(col("grp"), posexplode(col("levels")).as(Seq("slot", "lvl")))
          .filter(col("lvl") > 0)
          .groupBy(col("slot"), col("grp"))
          .agg(count(lit(1)).as("reached_1"),
            count(when(col("lvl") >= 2, 1)).as("reached_2"),
            count(when(col("lvl") >= 3, 1)).as("reached_3"))
          .orderBy(col("slot"), col("grp"))
      },
      Some("""
        WITH e AS (SELECT user_id, EPOCH_US(ts) AS us, event_type,
                     CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
                   FROM events
                   WHERE event_type IN ('signup', 'click', 'purchase')),
        x AS (SELECT user_id, us, event_type, k,
                MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER
                  (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p_next
              FROM e),
        y AS (SELECT user_id, us, event_type, k,
                MIN(CASE WHEN event_type = 'click' THEN us END) OVER w AS c_next,
                MIN(CASE WHEN event_type = 'click' THEN p_next END) OVER w AS cp_next
              FROM x
              WINDOW w AS (PARTITION BY user_id ORDER BY us
                           RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        lv AS (SELECT user_id,
                 CASE WHEN k < 33 THEN 'low' WHEN k < 67 THEN 'mid'
                      ELSE 'high' END AS grp,
                 CAST((us - 1704067200000000) // 86400000000 AS INTEGER) AS slot,
                 CASE WHEN cp_next IS NOT NULL AND cp_next - us <= 86400000000 THEN 3
                      WHEN c_next IS NOT NULL AND c_next - us <= 86400000000 THEN 2
                      ELSE 1 END AS lvl
               FROM y WHERE event_type = 'signup'),
        m AS (SELECT user_id, slot, grp, MAX(lvl) AS lvl FROM lv
              WHERE slot >= 0 AND slot < 30 GROUP BY 1, 2, 3)
        SELECT slot, grp, COUNT(*) AS reached_1,
          COUNT(CASE WHEN lvl >= 2 THEN 1 END) AS reached_2,
          COUNT(CASE WHEN lvl >= 3 THEN 1 END) AS reached_3
        FROM m GROUP BY slot, grp ORDER BY slot, grp""")),

    // funnelRep2/funnelRep3 (reference AggregateFunctionFunnelRep2.h:81 —
    // count/sum/min/max arithmetic of the step→step+1 conversion interval
    // per funnel layer). Unit = the first signup per (user, day-slot);
    // chain = greedy earliest completion (first click at-or-after the
    // anchor, first purchase at-or-after that click, all within the 1-day
    // window) — two conditional-min window sweeps, no self-join.
    QueryDef(
      "funnel_interval_stats",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, dir, "events")
          .filter(col("event_type").isin("signup", "click", "purchase"))
          .select(col("user_id"), Tables.tsUs(col("ts")).as("us"),
            col("event_type"))
        val fwd = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(0, Window.unboundedFollowing)
        val x = e.withColumn("p_next",
          min(when(col("event_type") === "purchase", col("us"))).over(fwd))
        val y = x.withColumn("cfirst",
          min(when(col("event_type") === "click",
            struct(col("us").as("c_us"), col("p_next").as("c_pn")))).over(fwd))
        val units = y.filter(col("event_type") === "signup")
          .withColumn("slot",
            ((col("us") - WatchStartUs) / DayUs).cast("int"))
          .filter(col("slot").between(0, WatchDays - 1))
          .withColumn("t2", when(col("cfirst.c_us") <= col("us") + DayUs,
            col("cfirst.c_us")))
          .withColumn("t3", when(col("cfirst.c_us") <= col("us") + DayUs &&
            col("cfirst.c_pn") <= col("us") + DayUs, col("cfirst.c_pn")))
          .groupBy(col("user_id"), col("slot"))
          .agg(min(struct(col("us"), col("t2"), col("t3"))).as("u"))
          .select(col("u.us").as("t1"), col("u.t2"), col("u.t3"))
        units.select(explode(array(
            struct(lit("1_to_2").as("layer"), (col("t2") - col("t1")).as("gap")),
            struct(lit("2_to_3").as("layer"), (col("t3") - col("t2")).as("gap"))))
            .as("lg"))
          .select(col("lg.layer").as("layer"), col("lg.gap").as("gap"))
          .filter(col("gap").isNotNull)
          .groupBy(col("layer"))
          .agg(count(lit(1)).as("n"),
            (sum(col("gap")).cast("double") / count(lit(1))).as("avg_us"),
            min(col("gap")).as("min_us"), max(col("gap")).as("max_us"))
          .orderBy(col("layer"))
      },
      Some("""
        WITH e AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events
                   WHERE event_type IN ('signup', 'click', 'purchase')),
        x AS (SELECT user_id, us, event_type,
                MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER
                  (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p_next
              FROM e),
        y AS (SELECT user_id, us, event_type,
                MIN(CASE WHEN event_type = 'click'
                  THEN struct_pack(c_us := us, c_pn := p_next) END) OVER
                  (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS cfirst
              FROM x),
        su AS (SELECT user_id, us,
                 CAST((us - 1704067200000000) // 86400000000 AS INTEGER) AS slot,
                 CASE WHEN cfirst.c_us <= us + 86400000000
                      THEN cfirst.c_us END AS t2,
                 CASE WHEN cfirst.c_us <= us + 86400000000
                       AND cfirst.c_pn <= us + 86400000000
                      THEN cfirst.c_pn END AS t3
               FROM y WHERE event_type = 'signup'),
        units AS (SELECT MIN(struct_pack(t1 := us, t2 := t2, t3 := t3)) AS u
                  FROM su WHERE slot >= 0 AND slot < 30
                  GROUP BY user_id, slot),
        gaps AS (SELECT '1_to_2' AS layer, u.t2 - u.t1 AS gap FROM units
                 UNION ALL
                 SELECT '2_to_3', u.t3 - u.t2 FROM units)
        SELECT layer, COUNT(*) AS n,
          CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS avg_us,
          MIN(gap) AS min_us, MAX(gap) AS max_us
        FROM gaps WHERE gap IS NOT NULL
        GROUP BY layer ORDER BY layer""")),

    // (?1)(?t<=4h)(?2).*(?3): signup, then click within 4 hours of the
    // signup, then purchase any time later — the reference's flagship
    // time-bound pattern shape, backtracking path. The 4h window splits
    // the sf0.01 population ~82/150, so the oracle discriminates.
    QueryDef(
      "sequence_match_pattern",
      (s, dir) =>
        Tables(s, dir, "events")
          .filter(col("event_type").isin("signup", "click", "purchase"))
          .groupBy(col("user_id"))
          .agg(sequenceMatch(s"(?1)(?t<=${4 * HourUs})(?2).*(?3)")(
            Tables.tsUs(col("ts")),
            col("event_type") === "signup",
            col("event_type") === "click",
            col("event_type") === "purchase").as("m"))
          .agg(count(when(col("m"), 1)).as("n_matched_users"),
               count(lit(1)).as("n_users")),
      // Oracle is the linear window form (the triple self-join took 52 s
      // at sf0.1; this takes 40 ms): run_s = latest signup at-or-before
      // each row, so a click is "good" iff its best anchor is within 4h;
      // run_gc = any good click at-or-before each row; a purchase matches
      // iff a good click precedes it. RANGE frames include same-us peers.
      Some(s"""
        WITH u AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events
                   WHERE event_type IN ('signup', 'click', 'purchase')),
        w1 AS (SELECT user_id, us, event_type,
            MAX(CASE WHEN event_type = 'signup' THEN us END) OVER
              (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_s
          FROM u),
        w2 AS (SELECT user_id, us, event_type,
            MAX(CASE WHEN event_type = 'click' AND run_s IS NOT NULL
                     AND us - run_s <= ${4 * HourUs} THEN 1 END) OVER
              (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_gc
          FROM w1),
        f AS (SELECT user_id,
            MAX(CASE WHEN event_type = 'purchase' AND run_gc = 1 THEN 1 ELSE 0 END) AS m
          FROM w2 GROUP BY user_id)
        SELECT CAST(SUM(m) AS BIGINT) AS n_matched_users,
               COUNT(*) AS n_users FROM f""")),

    // (?1)(?t>=25d)(?2): error at least 25 days after a signup — the
    // time-greater scan path (early rows are skipped, not backtracked).
    // 25d splits the sf0.01 population ~90/150.
    QueryDef(
      "sequence_match_time_ge",
      (s, dir) =>
        Tables(s, dir, "events")
          .filter(col("event_type").isin("signup", "error"))
          .groupBy(col("user_id"))
          .agg(sequenceMatch(s"(?1)(?t>=${25 * DayUs})(?2)")(
            Tables.tsUs(col("ts")),
            col("event_type") === "signup",
            col("event_type") === "error").as("m"))
          .agg(count(when(col("m"), 1)).as("n_matched_users"),
               count(lit(1)).as("n_users")),
      Some(s"""
        WITH u AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events
                   WHERE event_type IN ('signup', 'error')),
        m AS (SELECT DISTINCT s.user_id FROM u s
              JOIN u e ON e.user_id = s.user_id AND e.event_type = 'error'
                AND e.us >= s.us + ${25 * DayUs}
              WHERE s.event_type = 'signup')
        SELECT (SELECT COUNT(*) FROM m) AS n_matched_users,
               (SELECT COUNT(DISTINCT user_id) FROM u) AS n_users""")),

    // (?1).(?2): signup, one row of anything (among signup/purchase
    // rows), then purchase — the AnyEvent action. The list the pattern
    // walks contains only rows where >=1 condition holds, so `.` consumes
    // one signup-or-purchase row; LEAD(.., 2) over the same filtered set
    // is the oracle.
    QueryDef(
      "sequence_match_any_gap",
      (s, dir) =>
        Tables(s, dir, "events")
          .filter(col("event_type").isin("signup", "purchase"))
          .groupBy(col("user_id"))
          .agg(sequenceMatch("(?1).(?2)")(
            Tables.tsUs(col("ts")),
            col("event_type") === "signup",
            col("event_type") === "purchase").as("m"))
          .agg(count(when(col("m"), 1)).as("n_matched_users"),
               count(lit(1)).as("n_users")),
      Some("""
        WITH u AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events
                   WHERE event_type IN ('signup', 'purchase')),
        l AS (SELECT user_id, event_type,
                LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY us) AS nxt2
              FROM u)
        SELECT COUNT(DISTINCT CASE WHEN event_type = 'signup' AND nxt2 = 'purchase'
                                   THEN user_id END) AS n_matched_users,
               COUNT(DISTINCT user_id) AS n_users
        FROM l""")),

    // (?1).*(?2).*(?3) with no time constraint: runs the linear DFA
    // engine (the reference's dfaMatch fast path).
    QueryDef(
      "sequence_match_dfa",
      (s, dir) =>
        Tables(s, dir, "events")
          .filter(col("event_type").isin("signup", "click", "purchase"))
          .groupBy(col("user_id"))
          .agg(sequenceMatch("(?1).*(?2).*(?3)")(
            Tables.tsUs(col("ts")),
            col("event_type") === "signup",
            col("event_type") === "click",
            col("event_type") === "purchase").as("m"))
          .agg(count(when(col("m"), 1)).as("n_matched_users"),
               count(lit(1)).as("n_users")),
      // Linear window form of subsequence existence (triple self-join took
      // 46 s at sf0.1; this takes 70 ms): any signup before, then any
      // click with a signup before it, then any purchase after such click.
      Some("""
        WITH u AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events
                   WHERE event_type IN ('signup', 'click', 'purchase')),
        w1 AS (SELECT user_id, us, event_type,
            MAX(CASE WHEN event_type = 'signup' THEN us END) OVER
              (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_s
          FROM u),
        w2 AS (SELECT user_id, us, event_type,
            MAX(CASE WHEN event_type = 'click' AND run_s IS NOT NULL THEN 1 END) OVER
              (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sc
          FROM w1),
        f AS (SELECT user_id,
            MAX(CASE WHEN event_type = 'purchase' AND run_sc = 1 THEN 1 ELSE 0 END) AS m
          FROM w2 GROUP BY user_id)
        SELECT CAST(SUM(m) AS BIGINT) AS n_matched_users,
               COUNT(*) AS n_users FROM f""")),

    // sequenceNextNode(forward, first_match) (reference
    // AggregateFunctionSequenceNextNode.cpp:141): after the first
    // consecutive signup→click chain in each user's stream, which event
    // comes next? Pure lead()-window plan — one shuffle on user_id, the
    // chain match and the next-node read share one sorted pass.
    QueryDef(
      "sequence_next_node",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val ev = Tables(s, dir, "events")
          .withColumn("us", Tables.tsUs(col("ts")))
          .withColumn("n1", lead(col("event_type"), 1).over(w))
          .withColumn("n2", lead(col("event_type"), 2).over(w))
        val wm = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        ev.filter(col("event_type") === "signup" && col("n1") === "click")
          .withColumn("rn", row_number().over(wm))
          .filter(col("rn") === 1)
          .groupBy(coalesce(col("n2"), lit("END")).as("next_node"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("next_node"))
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, EPOCH_US(ts) AS us, event_type,
            LEAD(event_type, 1) OVER w AS n1,
            LEAD(event_type, 2) OVER w AS n2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id)),
        m AS (
          SELECT n2,
            ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
          FROM o WHERE event_type = 'signup' AND n1 = 'click')
        SELECT COALESCE(n2, 'END') AS next_node, COUNT(*) AS n_users
        FROM m WHERE rn = 1
        GROUP BY 1
        ORDER BY next_node""")),

    // sequenceCount('(?1)(?2)'): adjacent click→purchase pairs in the
    // click/purchase row list, counted greedily non-overlapping. With
    // single-flag rows adjacent matches can never overlap, so the greedy
    // count equals the plain LEAD-adjacency count — the SQL oracle.
    QueryDef(
      "sequence_count_adjacent",
      (s, dir) =>
        Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(col("user_id"))
          .agg(sequenceCount("(?1)(?2)")(
            Tables.tsUs(col("ts")),
            col("event_type") === "click",
            col("event_type") === "purchase").as("cnt"))
          .agg(sum(col("cnt")).as("total_matches"),
               count(when(col("cnt") > 0, 1)).as("users_with_match"),
               max(col("cnt")).as("max_per_user")),
      Some("""
        WITH u AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events
                   WHERE event_type IN ('click', 'purchase')),
        l AS (SELECT user_id, event_type,
                LEAD(event_type) OVER (PARTITION BY user_id ORDER BY us) AS nxt
              FROM u),
        c AS (SELECT user_id,
                COUNT(CASE WHEN event_type = 'click' AND nxt = 'purchase' THEN 1 END) AS cnt
              FROM l GROUP BY user_id)
        SELECT CAST(SUM(cnt) AS BIGINT) AS total_matches,
               COUNT(CASE WHEN cnt > 0 THEN 1 END) AS users_with_match,
               CAST(MAX(cnt) AS BIGINT) AS max_per_user
        FROM c""")),

    // retention2 over a 7-day window: diagonal = signup cohort per day,
    // cell (i,j>i) = users who signed up on day i and purchased on day j.
    QueryDef(
      "retention2_matrix",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(col("user_id"),
            datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
              .as("dy"),
            col("event_type"))
          .filter(col("dy").between(0, 6) &&
            col("event_type").isin("signup", "purchase"))
          .groupBy("user_id")
          .agg(
            collect_set(when(col("event_type") === "signup", col("dy")))
              .as("startDays"),
            collect_set(when(col("event_type") === "purchase", col("dy")))
              .as("endDays"))
          .agg(RetentionMatrix.retention2(7)(col("startDays"), col("endDays"))
            .as("m"))
          .select(explode(col("m")).as("c"))
          .select(col("c.i").as("start_day"), col("c.j").as("end_day"),
            col("c.users").as("users"))
          .orderBy("start_day", "end_day")
      },
      Some("""
        WITH e AS (SELECT DISTINCT user_id, event_type,
            CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS dy
          FROM events
          WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'
            AND event_type IN ('signup','purchase')),
        s AS (SELECT user_id, dy FROM e WHERE event_type = 'signup'),
        p AS (SELECT user_id, dy FROM e WHERE event_type = 'purchase'),
        grid AS (SELECT CAST(i.i AS INTEGER) AS i, CAST(j.j AS INTEGER) AS j
                 FROM (SELECT UNNEST(RANGE(0, 7)) AS i) i,
                      (SELECT UNNEST(RANGE(0, 7)) AS j) j
                 WHERE j.j >= i.i),
        diag AS (SELECT dy AS i, COUNT(*) AS c FROM s GROUP BY dy),
        ret AS (SELECT s.dy AS i, p.dy AS j, COUNT(*) AS c
                FROM s JOIN p ON p.user_id = s.user_id AND p.dy > s.dy
                GROUP BY 1, 2)
        SELECT grid.i AS start_day, grid.j AS end_day,
          CAST(CASE WHEN grid.i = grid.j THEN COALESCE(diag.c, 0)
                    ELSE COALESCE(ret.c, 0) END AS BIGINT) AS users
        FROM grid
          LEFT JOIN diag ON diag.i = grid.i AND grid.i = grid.j
          LEFT JOIN ret ON ret.i = grid.i AND ret.j = grid.j
        ORDER BY start_day, end_day""")),

    // retention4 over a 14-day span, 7-day window: cohorts anchored at
    // each user's FIRST signup day; k=0 = cohort size, k>0 = users who
    // clicked exactly k days after their first signup.
    QueryDef(
      "retention4_cohorts",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(col("user_id"),
            datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
              .as("dy"),
            col("event_type"))
          .filter(col("dy").between(0, 13) &&
            col("event_type").isin("signup", "click"))
          .groupBy("user_id")
          .agg(
            collect_set(when(col("event_type") === "signup", col("dy")))
              .as("startDays"),
            collect_set(when(col("event_type") === "click", col("dy")))
              .as("endDays"))
          .agg(RetentionMatrix.retention4(7, 14)(col("startDays"), col("endDays"))
            .as("m"))
          .select(explode(col("m")).as("c"))
          .select(col("c.i").as("cohort_day"), col("c.j").as("day_offset"),
            col("c.users").as("users"))
          .orderBy("cohort_day", "day_offset")
      },
      Some("""
        WITH e AS (SELECT DISTINCT user_id, event_type,
            CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS dy
          FROM events
          WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-14'
            AND event_type IN ('signup','click')),
        f AS (SELECT user_id, MIN(dy) AS fd FROM e
              WHERE event_type = 'signup' GROUP BY user_id),
        r AS (SELECT user_id, dy FROM e WHERE event_type = 'click'),
        grid AS (SELECT CAST(i.i AS INTEGER) AS fd, CAST(k.k AS INTEGER) AS k
                 FROM (SELECT UNNEST(RANGE(0, 14)) AS i) i,
                      (SELECT UNNEST(RANGE(0, 7)) AS k) k),
        coh AS (SELECT fd, COUNT(*) AS c FROM f GROUP BY fd),
        ret AS (SELECT f.fd, CAST(r.dy - f.fd AS INTEGER) AS k, COUNT(*) AS c
                FROM f JOIN r ON r.user_id = f.user_id
                  AND r.dy > f.fd AND r.dy < f.fd + 7
                GROUP BY 1, 2)
        SELECT grid.fd AS cohort_day, grid.k AS day_offset,
          CAST(CASE WHEN grid.k = 0 THEN COALESCE(coh.c, 0)
                    ELSE COALESCE(ret.c, 0) END AS BIGINT) AS users
        FROM grid
          LEFT JOIN coh ON coh.fd = grid.fd AND grid.k = 0
          LEFT JOIN ret ON ret.fd = grid.fd AND ret.k = grid.k
        ORDER BY cohort_day, day_offset""")),

    // pathSplit/pathCount analogue: event-type transition bigram counts
    // over each user's time-ordered stream.
    QueryDef(
      "path_transition_counts",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables(s, dir, "events")
          .withColumn("prev_et", lag(col("event_type"), 1).over(w))
          .filter(col("prev_et").isNotNull)
          .groupBy(col("prev_et"), col("event_type").as("next_et"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("prev_et"), col("next_et"))
      },
      Some("""
        SELECT prev_et, event_type AS next_et, COUNT(*) AS n
        FROM (SELECT user_id, event_type,
                LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_et
              FROM events) t
        WHERE prev_et IS NOT NULL
        GROUP BY 1, 2
        ORDER BY prev_et, next_et""")),

    // First-touch model: each purchase credits the EARLIEST click/view
    // inside the 3-day lookback (last-touch's mirror; reference
    // AggregateFunctionAttribution first-touch mode).
    QueryDef(
      "attribution_first_touch",
      (s, dir) => {
        val w3 = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-LookbackUs, -1)
        Tables(s, dir, "events")
          .withColumn("us", Tables.tsUs(col("ts")))
          .withColumn("first_code", min(touchCode).over(w3))
          .filter(col("event_type") === "purchase")
          .withColumn("channel",
            when(col("first_code").isNull, lit("direct"))
              .otherwise(chanOf(col("first_code"))))
          .withColumn("gap_us",
            when(col("first_code").isNotNull,
              col("us") - expr("first_code div 2")))
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n_purchases"),
               (sum(col("gap_us")).cast(DoubleType) /
                 nullif(count(col("gap_us")), lit(0L))).as("avg_gap_us"))
          .orderBy(col("channel"))
      },
      Some("""
        WITH t AS (
          SELECT user_id, event_type, EPOCH_US(ts) AS us,
            MIN(CASE WHEN event_type = 'click' THEN EPOCH_US(ts) * 2
                     WHEN event_type = 'view' THEN EPOCH_US(ts) * 2 + 1 END)
              OVER (PARTITION BY user_id ORDER BY EPOCH_US(ts)
                    RANGE BETWEEN 259200000000 PRECEDING AND 1 PRECEDING) AS first_code
          FROM events),
        p AS (
          SELECT CASE WHEN first_code IS NULL THEN 'direct'
                      WHEN first_code % 2 = 0 THEN 'click' ELSE 'view' END AS channel,
                 us - first_code // 2 AS gap_us
          FROM t WHERE event_type = 'purchase')
        SELECT channel, COUNT(*) AS n_purchases,
          CAST(SUM(gap_us) AS DOUBLE) / NULLIF(COUNT(gap_us), 0) AS avg_gap_us
        FROM p
        GROUP BY channel
        ORDER BY channel""")),

    // Linear + position-based (U-shaped) models: every touch in the
    // lookback shares the purchase's credit — equally (linear), or
    // 40/20/40 with the first and last touch boosted (position; the
    // k=1 → 1.0 and k=2 → 0.5/0.5 degenerate cases follow the usual
    // convention). Per-purchase credits quantize to DECIMAL(18,6) before
    // summing (Num convention) so the totals are order-independent.
    QueryDef(
      "attribution_linear_position",
      (s, dir) => {
        val w3 = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-LookbackUs, -1)
        // All four frame aggregates in one select → a single Window node
        // (one pass over each user's sorted stream), not four.
        val base = Tables(s, dir, "events")
          .withColumn("us", Tables.tsUs(col("ts")))
          .select(col("user_id"), col("event_type"), col("us"),
            count(when(col("event_type") === "click", 1)).over(w3).as("n_click"),
            count(when(col("event_type") === "view", 1)).over(w3).as("n_view"),
            min(touchCode).over(w3).as("first_code"),
            max(touchCode).over(w3).as("last_code"))
          .filter(col("event_type") === "purchase")
          .withColumn("k", (col("n_click") + col("n_view")).cast(LongType))
        val firstClick = when(pmod(col("first_code"), lit(2)) === 0, 1d).otherwise(0d)
        val lastClick = when(pmod(col("last_code"), lit(2)) === 0, 1d).otherwise(0d)
        val midClick = col("n_click") - firstClick - lastClick
        val uClick =
          when(col("k") === 1, firstClick)
            .when(col("k") === 2, lit(0.5) * firstClick + lit(0.5) * lastClick)
            .otherwise(lit(0.4) * firstClick + lit(0.4) * lastClick +
              lit(0.2) * midClick / (col("k") - 2))
        val d6 = graft.Num.D6
        base
          .withColumn("lin_click",
            when(col("k") > 0, col("n_click").cast(DoubleType) / col("k")).otherwise(0d))
          .withColumn("u_click", when(col("k") > 0, uClick).otherwise(0d))
          .agg(count(lit(1)).as("n_purchases"),
               count(when(col("k") === 0, 1)).as("n_direct"),
               sum(col("lin_click").cast(d6)).cast(DoubleType).as("lin_click_credit"),
               sum((when(col("k") > 0, lit(1d)).otherwise(0d) - col("lin_click")).cast(d6))
                 .cast(DoubleType).as("lin_view_credit"),
               sum(col("u_click").cast(d6)).cast(DoubleType).as("u_click_credit"),
               sum((when(col("k") > 0, lit(1d)).otherwise(0d) - col("u_click")).cast(d6))
                 .cast(DoubleType).as("u_view_credit"))
      },
      Some("""
        WITH t AS (
          SELECT user_id, event_type, EPOCH_US(ts) AS us,
            COUNT(CASE WHEN event_type = 'click' THEN 1 END)
              OVER w3 AS n_click,
            COUNT(CASE WHEN event_type = 'view' THEN 1 END)
              OVER w3 AS n_view,
            MIN(CASE WHEN event_type = 'click' THEN EPOCH_US(ts) * 2
                     WHEN event_type = 'view' THEN EPOCH_US(ts) * 2 + 1 END)
              OVER w3 AS first_code,
            MAX(CASE WHEN event_type = 'click' THEN EPOCH_US(ts) * 2
                     WHEN event_type = 'view' THEN EPOCH_US(ts) * 2 + 1 END)
              OVER w3 AS last_code
          FROM events
          WINDOW w3 AS (PARTITION BY user_id ORDER BY EPOCH_US(ts)
                        RANGE BETWEEN 259200000000 PRECEDING AND 1 PRECEDING)),
        p AS (
          SELECT n_click + n_view AS k, n_click,
            CASE WHEN first_code % 2 = 0 THEN 1.0 ELSE 0.0 END AS fc,
            CASE WHEN last_code % 2 = 0 THEN 1.0 ELSE 0.0 END AS lc
          FROM t WHERE event_type = 'purchase'),
        c AS (
          SELECT k,
            CASE WHEN k > 0 THEN CAST(n_click AS DOUBLE) / k ELSE 0 END AS lin_click,
            CASE WHEN k = 0 THEN 0
                 WHEN k = 1 THEN fc
                 WHEN k = 2 THEN 0.5 * fc + 0.5 * lc
                 ELSE 0.4 * fc + 0.4 * lc + 0.2 * (n_click - fc - lc) / (k - 2)
            END AS u_click
          FROM p)
        SELECT COUNT(*) AS n_purchases,
          COUNT(CASE WHEN k = 0 THEN 1 END) AS n_direct,
          CAST(SUM(CAST(lin_click AS DECIMAL(18,6))) AS DOUBLE) AS lin_click_credit,
          CAST(SUM(CAST(CASE WHEN k > 0 THEN 1.0 ELSE 0.0 END - lin_click
            AS DECIMAL(18,6))) AS DOUBLE) AS lin_view_credit,
          CAST(SUM(CAST(u_click AS DECIMAL(18,6))) AS DOUBLE) AS u_click_credit,
          CAST(SUM(CAST(CASE WHEN k > 0 THEN 1.0 ELSE 0.0 END - u_click
            AS DECIMAL(18,6))) AS DOUBLE) AS u_view_credit
        FROM c""")),

    // sequenceNextNode(backward, last_match): anchor on each user's LAST
    // click→purchase chain and read the node before it (BEGIN when the
    // chain starts the stream) — the mirror of the forward/first_match
    // query sequence_next_node. Same single-window shape: the chain
    // match and the prior-node read share one sorted pass per user.
    QueryDef(
      "sequence_next_node_backward",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val wDesc = Window.partitionBy(col("user_id"))
          .orderBy(col("us").desc, col("event_id").desc)
        Tables(s, dir, "events")
          .withColumn("us", Tables.tsUs(col("ts")))
          .withColumn("p1", lag(col("event_type"), 1).over(w))
          .withColumn("p2", lag(col("event_type"), 2).over(w))
          .filter(col("event_type") === "purchase" && col("p1") === "click")
          .withColumn("rn", row_number().over(wDesc))
          .filter(col("rn") === 1)
          .groupBy(coalesce(col("p2"), lit("BEGIN")).as("prev_node"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("prev_node"))
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, EPOCH_US(ts) AS us, event_type,
            LAG(event_type, 1) OVER w AS p1,
            LAG(event_type, 2) OVER w AS p2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id)),
        m AS (
          SELECT p2,
            ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
          FROM o WHERE event_type = 'purchase' AND p1 = 'click')
        SELECT COALESCE(p2, 'BEGIN') AS prev_node, COUNT(*) AS n_users
        FROM m WHERE rn = 1
        GROUP BY 1
        ORDER BY prev_node""")),

    // finderFunnelByTimes: repeat-conversion funnel runs per day slot
    // (reference AggregateFunctionFinderFunnelByTimes.h — greedy
    // forward scan, counts every run, not just the deepest level). No
    // SQL oracle exists for the greedy consume-and-restart semantics →
    // golden-vector pinned; hand-traced reference cases gate the algorithm in
    // AggregatorsSpec.
    QueryDef(
      "funnel_by_times",
      (s, dir) => {
        import graft.aggregates.FinderFunnelByTimesAgg.finderFunnelByTimes
        val dayUs = 86400L * 1000000
        val startUs = 1704067200L * 1000000 // 2024-01-01 UTC
        val f = finderFunnelByTimes(startUs, dayUs, 30, 12L * 3600 * 1000000, 3) _
        val e = Tables(s, dir, "events")
          .withColumn("step",
            when(col("event_type") === "signup", 1)
              .when(col("event_type") === "click", 2)
              .when(col("event_type") === "purchase", 3).otherwise(0))
          .filter(col("step") > 0)
        e.groupBy(col("user_id"))
          .agg(f(Tables.tsUs(col("ts")), col("step")).as("counts"))
          .select(posexplode(col("counts")).as(Seq("idx", "runs")))
          .groupBy(col("idx")).agg(sum(col("runs")).as("runs"))
          .select(((col("idx") / 3).cast("int") - 1).as("slot"),
            (col("idx") % 3 + 1).cast("int").as("level"),
            col("runs"))
          .filter(col("runs") > 0)
          .orderBy(col("slot"), col("level"))
      },
      // GOLDEN VECTOR oracle: deterministic function of the events table
      // (no seed, greedy consume-and-restart semantics with no SQL
      // counterpart); the algorithm itself is gated by hand-traced
      // reference cases in AggregatorsSpec. Pin freezes the sf0.01
      // integration output. sf0.01 ONLY.
      Some("""
        SELECT CAST(slot AS INTEGER) AS slot, CAST(level AS INTEGER) AS level,
          CAST(runs AS BIGINT) AS runs FROM (VALUES
          (-1,1,2017), (-1,2,366), (-1,3,37), (0,1,68), (0,2,14), (0,3,2),
          (1,1,68), (1,2,13), (1,3,2), (2,1,63), (2,2,13), (2,3,3),
          (3,1,60), (3,2,11), (3,3,1), (4,1,64), (4,2,13), (4,3,2),
          (5,1,74), (5,2,18), (5,3,2), (6,1,63), (6,2,8), (7,1,63),
          (7,2,10), (8,1,55), (8,2,9), (9,1,81), (9,2,12), (10,1,67),
          (10,2,13), (10,3,2), (11,1,73), (11,2,12), (11,3,1), (12,1,71),
          (12,2,10), (12,3,2), (13,1,83), (13,2,14), (13,3,2), (14,1,66),
          (14,2,14), (15,1,55), (15,2,12), (16,1,64), (16,2,11), (17,1,79),
          (17,2,15), (17,3,2), (18,1,55), (18,2,10), (18,3,2), (19,1,77),
          (19,2,11), (19,3,1), (20,1,73), (20,2,12), (20,3,2), (21,1,68),
          (21,2,14), (21,3,2), (22,1,62), (22,2,10), (22,3,1), (23,1,62),
          (23,2,16), (23,3,1), (24,1,71), (24,2,8), (25,1,69), (25,2,14),
          (25,3,3), (26,1,66), (26,2,14), (27,1,70), (27,2,14), (27,3,2),
          (28,1,59), (28,2,11), (28,3,1), (29,1,68), (29,2,10), (29,3,1)) AS t(slot, level, runs) ORDER BY 1, 2""")),

    // userDistribution (reference AggregateFunctionUserDistribution.h:47
    // + ...Common.h:27): per user × time-slot a state byte — ARRIVE(1)
    // when the user had an event in the slot, NEWONE(2) when the user's
    // registration (first-seen) falls in the same slot. Consumed here as
    // the per-slot DAU / new-user distribution. Registration is derived
    // as min(ts) per user; slots are days of Jan 2024 (granularity 1d,
    // 30 slots), matching the (start_time, granularity, num_slots)
    // parameterization.
    QueryDef(
      "user_distribution_daily",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("d"))
        val reg = e.groupBy("user_id").agg(min(col("d")).as("regd"))
        val slots = e.distinct()
          .join(reg, "user_id")
          .withColumn("slot", datediff(col("d"), lit("2024-01-01").cast("date")))
          .filter(col("slot") >= 0 && col("slot") < 30)
          .withColumn("state",
            lit(1) + when(col("d") === col("regd"), 2).otherwise(0))
        slots.groupBy(col("slot"))
          .agg(count(lit(1)).as("arrive_users"),
            sum(when(col("state") === 3, 1L).otherwise(0L)).as("new_users"))
          .orderBy(col("slot"))
      },
      Some("""
        WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        reg AS (SELECT user_id, MIN(d) AS regd FROM e GROUP BY user_id),
        slots AS (
          SELECT e.user_id, datediff('day', DATE '2024-01-01', e.d) AS slot,
            CASE WHEN e.d = reg.regd THEN 3 ELSE 1 END AS state
          FROM e JOIN reg ON e.user_id = reg.user_id
          WHERE datediff('day', DATE '2024-01-01', e.d) BETWEEN 0 AND 29
        )
        SELECT CAST(slot AS INT) AS slot,
          COUNT(*) AS arrive_users,
          CAST(SUM(CASE WHEN state = 3 THEN 1 ELSE 0 END) AS BIGINT) AS new_users
        FROM slots GROUP BY slot ORDER BY slot""")),

    // slideMatchCount over the userDistribution states (reference
    // AggregateFunctionSlideMatchCount.h:72 — slide a state pattern over
    // each user's slot array and count matching offsets). Pattern here is
    // [NEWONE+ARRIVE, ARRIVE]: registration day immediately followed by
    // an active day — the day-1 activation metric. The slide is the
    // slot+1 self-join; no per-user array materialization.
    QueryDef(
      "slide_match_activation",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("d"))
          .distinct()
        val reg = e.groupBy("user_id").agg(min(col("d")).as("regd"))
        val slots = e.join(reg, "user_id")
          .withColumn("slot", datediff(col("d"), lit("2024-01-01").cast("date")))
          .filter(col("slot") >= 0 && col("slot") < 30)
          .withColumn("state",
            lit(1) + when(col("d") === col("regd"), 2).otherwise(0))
        val s1 = slots.filter(col("state") === 3)
          .select(col("user_id"), col("slot"))
        val s2 = slots.select(col("user_id").as("u2"), col("slot").as("slot2"))
        s1.join(s2, s1("user_id") === s2("u2") && (s1("slot") + 1) === s2("slot2"))
          .agg(count(lit(1)).as("match_count"),
            countDistinct(col("user_id")).as("users_matched"))
      },
      Some("""
        WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        reg AS (SELECT user_id, MIN(d) AS regd FROM e GROUP BY user_id),
        slots AS (
          SELECT e.user_id, datediff('day', DATE '2024-01-01', e.d) AS slot,
            CASE WHEN e.d = reg.regd THEN 3 ELSE 1 END AS state
          FROM e JOIN reg ON e.user_id = reg.user_id
          WHERE datediff('day', DATE '2024-01-01', e.d) BETWEEN 0 AND 29
        )
        SELECT COUNT(*) AS match_count,
          COUNT(DISTINCT s1.user_id) AS users_matched
        FROM slots s1 JOIN slots s2
          ON s1.user_id = s2.user_id AND s1.slot + 1 = s2.slot
        WHERE s1.state = 3""")),

    // lastRangeCount (reference AggregateFunctionLastRangeCount.h:93):
    // for each output slot, count users with ANY arrival in the
    // `duration` slots ending there — the rolling weekly-active-users
    // curve over the userDistribution day grid. The slide is an explode
    // of each (user, day) into the ≤duration slots it feeds (bounded
    // fan-out, no join — a range join against the slot grid would plan
    // a nested loop).
    QueryDef(
      "last_range_count_wau",
      (s, dir) => {
        val days = Tables(s, dir, "events")
          .select(col("user_id"),
            datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("d"))
          .filter(col("d").between(0, 29))
          .distinct()
        days
          .select(col("user_id"),
            explode(sequence(greatest(col("d"), lit(6)),
              least(col("d") + 6, lit(29)))).as("slot"))
          .groupBy(col("slot").cast("int").as("slot"))
          .agg(countDistinct(col("user_id")).as("active_users"))
          .orderBy(col("slot"))
      },
      Some("""
        WITH days AS (
          SELECT DISTINCT user_id,
            DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
          FROM events
          WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-30'),
        grid AS (SELECT UNNEST(generate_series(6, 29)) AS slot)
        SELECT CAST(grid.slot AS INT) AS slot,
          COUNT(DISTINCT days.user_id) AS active_users
        FROM grid JOIN days ON days.d BETWEEN grid.slot - 6 AND grid.slot
        GROUP BY grid.slot ORDER BY slot""")),

    // genArrayMonth (reference AggregateFunctionGenArrayMonth.h:42 —
    // genArray with month-granularity slots via toRelativeMonthNum):
    // per-customer order-activity masks over the first 60 months from
    // 1995-01, one BIGINT per flavor.
    QueryDef(
      "gen_array_month",
      (s, dir) => {
        Tables(s, dir, "orders")
          .select(col("o_custkey"),
            ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1)
              .as("m"),
            col("o_orderpriority"))
          .filter(col("m").between(0, 59))
          .groupBy(col("o_custkey"))
          .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), m))").as("active_mask"),
            expr("bit_or(CASE WHEN o_orderpriority LIKE '1%' " +
              "THEN shiftleft(CAST(1 AS BIGINT), m) ELSE CAST(0 AS BIGINT) END)")
              .as("urgent_mask"))
          .orderBy(col("o_custkey"))
      },
      Some("""
        WITH d AS (SELECT o_custkey, o_orderpriority,
            (YEAR(o_orderdate) - 1995) * 12 + MONTH(o_orderdate) - 1 AS m
          FROM orders)
        SELECT o_custkey,
          BIT_OR(CAST(1 AS BIGINT) << m) AS active_mask,
          BIT_OR(CASE WHEN o_orderpriority LIKE '1%' THEN CAST(1 AS BIGINT) << m
                      ELSE CAST(0 AS BIGINT) END) AS urgent_mask
        FROM d WHERE m BETWEEN 0 AND 59
        GROUP BY o_custkey ORDER BY o_custkey""")),

    // sessionAnalysis (AggregateFunctionSessionAnalysis.h:135): the
    // per-session (duration, depth, end_event, session_time) tuples
    // over a 30-minute inactivity gap, one row per session. The oracle
    // is the classic lag + cumulative-break sessionization with the
    // same ≥-gap boundary and (ts, event) tiebreak for the end event.
    QueryDef(
      "session_analysis_tuples",
      (s, dir) =>
        SessionAnalysis.sessions(
            Tables(s, dir, "events"),
            col("user_id"), col("ts"), col("event_type"), 1800L * 1000000)
          .orderBy(col("user_id"), col("session_time")),
      Some("""
        WITH b AS (
          SELECT user_id, ts, event_type,
            CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                 THEN 1 ELSE 0 END AS brk
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
        g AS (
          SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_type
            ROWS UNBOUNDED PRECEDING) AS sid
          FROM b)
        SELECT user_id, MIN(ts) AS session_time,
          epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
          COUNT(*) AS depth,
          substr(MAX(concat(lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0'),
            ':', event_type)), 22) AS end_event
        FROM g GROUP BY user_id, sid
        ORDER BY user_id, session_time""")),

    // userDistributionMonthly (AggregateFunctionUserDistributionMonthly
    // .h:37): the daily operator's slot grid generalized to calendar
    // months — ARRIVE when the user acted in the month-slot, NEWONE when
    // their first-ever activity (the derived registration) falls in the
    // same slot. 36 months from 1995-01 over the orders table; customers
    // whose first order predates the grid arrive but are never new,
    // exactly the reference's convertTimeToIndex out-of-range behavior.
    QueryDef(
      "user_distribution_monthly",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .select(col("o_custkey").as("cust"),
            trunc(col("o_orderdate"), "month").as("m"))
          .distinct()
        val reg = o.groupBy("cust").agg(min(col("m")).as("regm"))
        o.join(reg, "cust")
          .withColumn("slot",
            months_between(col("m"), lit("1995-01-01").cast("date")).cast("int"))
          .filter(col("slot").between(0, 35))
          .withColumn("state",
            lit(1) + when(col("m") === col("regm"), 2).otherwise(0))
          .groupBy(col("slot"))
          .agg(count(lit(1)).as("arrive_users"),
            sum(when(col("state") === 3, 1L).otherwise(0L)).as("new_users"))
          .orderBy(col("slot"))
      },
      Some("""
        WITH o AS (SELECT DISTINCT o_custkey AS cust,
            date_trunc('month', o_orderdate) AS m FROM orders),
        reg AS (SELECT cust, MIN(m) AS regm FROM o GROUP BY cust),
        slots AS (
          SELECT o.cust, datediff('month', DATE '1995-01-01', o.m) AS slot,
            CASE WHEN o.m = reg.regm THEN 3 ELSE 1 END AS state
          FROM o JOIN reg ON o.cust = reg.cust
          WHERE datediff('month', DATE '1995-01-01', o.m) BETWEEN 0 AND 35)
        SELECT CAST(slot AS INT) AS slot,
          COUNT(*) AS arrive_users,
          CAST(SUM(CASE WHEN state = 3 THEN 1 ELSE 0 END) AS BIGINT) AS new_users
        FROM slots GROUP BY slot ORDER BY slot""")),

    // funnelPathSplitByTimes (reference
    // AggregateFunctionFunnelPathSplitByTimes.h:140): one path per
    // funnel run — every signup opens a bucket, level events advance
    // the oldest eligible bucket, common events replicate to every
    // window-reachable one. The per-node content has no SQL oracle
    // (FunnelPathSplitByTimesSpec holds five hand-traced reference
    // cases plus a shuffle-order invariance gate); the gate checks the
    // STRUCTURAL invariants the bucket rules imply — one run per
    // signup, every run starting at the signup level, path lengths
    // within the declared cap — which ARE oracle-expressible.
    QueryDef(
      "funnel_path_split_by_times",
      (s, dir) => {
        import graft.aggregates.PathSplitAgg.funnelPathSplitByTimes
        val f = funnelPathSplitByTimes(2L * 86400 * 1000000, 8, 3) _
        Tables(s, dir, "events")
          .withColumn("idx",
            when(col("event_type") === "signup", 1)
              .when(col("event_type") === "click", 2)
              .when(col("event_type") === "purchase", 3).otherwise(0))
          .groupBy(col("user_id"))
          .agg(f(Tables.tsUs(col("ts")), col("idx"), col("event_type"))
            .as("paths"))
          .select(col("user_id"), posexplode(col("paths")).as(Seq("run_pos", "path")))
          .select(col("user_id"), col("run_pos"),
            posexplode(col("path")).as(Seq("node_pos", "node")))
          .select(col("user_id"), col("run_pos"), col("node_pos"),
            col("node.col1").as("ev"))
          .groupBy(col("user_id"))
          .agg(countDistinct(col("run_pos")).as("n_runs"),
               sum(when(col("node_pos") === 0 && col("ev") === 1, 1L)
                 .otherwise(0L)).as("signup_led_runs"))
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id,
          CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
          CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_led_runs
        FROM events
        GROUP BY user_id
        HAVING SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) > 0
        ORDER BY user_id""")),

    // finderGroupFunnelByTimes (reference
    // AggregateFunctionFinderGroupFunnelByTimes.h:769): repeat-run
    // funnel counts split by an event-property group — the same
    // composition as finder_group_funnel (chain-start events keep their
    // property bucket, continuations replicate to every bucket) over
    // the ByTimes greedy consume-and-restart aggregate. No SQL oracle
    // exists for the greedy semantics → golden-vector pinned; the underlying
    // aggregate's hand-traced reference cases gate the algorithm.
    QueryDef(
      "finder_group_funnel_by_times",
      (s, dir) => {
        import graft.aggregates.FinderFunnelByTimesAgg.finderFunnelByTimes
        val dayUs = 86400L * 1000000
        val startUs = 1704067200L * 1000000 // 2024-01-01 UTC
        val f = finderFunnelByTimes(startUs, dayUs, 30, 12L * 3600 * 1000000, 3) _
        val ev = Tables(s, dir, "events")
          .withColumn("step",
            when(col("event_type") === "signup", 1)
              .when(col("event_type") === "click", 2)
              .when(col("event_type") === "purchase", 3).otherwise(0))
          .filter(col("step") > 0)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        val grpOf = when(col("k") < 33, "low")
          .when(col("k") < 67, "mid").otherwise("high")
        val expanded = ev.withColumn("grp",
          explode(when(col("step") === 1, array(grpOf))
            .otherwise(array(lit("low"), lit("mid"), lit("high")))))
        expanded.groupBy(col("user_id"), col("grp"))
          .agg(f(Tables.tsUs(col("ts")), col("step")).as("counts"))
          .select(col("grp"), posexplode(col("counts")).as(Seq("idx", "runs")))
          .groupBy(col("idx"), col("grp")).agg(sum(col("runs")).as("runs"))
          .select(((col("idx") / 3).cast("int") - 1).as("slot"),
            (col("idx") % 3 + 1).cast("int").as("level"),
            col("grp"), col("runs"))
          .filter(col("runs") > 0)
          .orderBy(col("slot"), col("level"), col("grp"))
      },
      // GOLDEN VECTOR oracle: deterministic function of the events table
      // (greedy funnel-run semantics, no SQL counterpart); algorithm gated
      // by hand-traced reference cases in AggregatorsSpec. sf0.01 ONLY.
      Some("""
        SELECT CAST(slot AS INTEGER) AS slot, CAST(level AS INTEGER) AS level,
          grp, CAST(runs AS BIGINT) AS runs FROM (VALUES
          (-1,1,'high',676), (-1,1,'low',652), (-1,1,'mid',689), (-1,2,'high',132), (-1,2,'low',119), (-1,2,'mid',141),
          (-1,3,'high',9), (-1,3,'low',13), (-1,3,'mid',21), (0,1,'high',20), (0,1,'low',23), (0,1,'mid',25),
          (0,2,'high',6), (0,2,'low',4), (0,2,'mid',5), (0,3,'mid',2), (1,1,'high',27), (1,1,'low',18),
          (1,1,'mid',23), (1,2,'high',5), (1,2,'low',4), (1,2,'mid',6), (1,3,'high',2), (1,3,'low',1),
          (1,3,'mid',1), (2,1,'high',19), (2,1,'low',23), (2,1,'mid',21), (2,2,'high',7), (2,2,'low',6),
          (2,2,'mid',1), (2,3,'high',1), (2,3,'low',2), (2,3,'mid',1), (3,1,'high',18), (3,1,'low',23),
          (3,1,'mid',19), (3,2,'high',3), (3,2,'low',3), (3,2,'mid',6), (3,3,'low',1), (3,3,'mid',1),
          (4,1,'high',19), (4,1,'low',24), (4,1,'mid',21), (4,2,'high',4), (4,2,'low',5), (4,2,'mid',6),
          (4,3,'low',1), (4,3,'mid',1), (5,1,'high',22), (5,1,'low',20), (5,1,'mid',32), (5,2,'high',5),
          (5,2,'low',6), (5,2,'mid',8), (5,3,'low',1), (5,3,'mid',1), (6,1,'high',25), (6,1,'low',18),
          (6,1,'mid',20), (6,2,'high',3), (6,2,'low',4), (6,2,'mid',3), (7,1,'high',19), (7,1,'low',20),
          (7,1,'mid',24), (7,2,'high',3), (7,2,'low',3), (7,2,'mid',4), (8,1,'high',14), (8,1,'low',20),
          (8,1,'mid',21), (8,2,'high',3), (8,2,'low',4), (8,2,'mid',3), (9,1,'high',28), (9,1,'low',25),
          (9,1,'mid',28), (9,2,'high',6), (9,2,'low',6), (9,2,'mid',2), (10,1,'high',28), (10,1,'low',16),
          (10,1,'mid',23), (10,2,'high',5), (10,2,'low',4), (10,2,'mid',6), (10,3,'high',1), (10,3,'low',1),
          (10,3,'mid',1), (11,1,'high',23), (11,1,'low',29), (11,1,'mid',21), (11,2,'high',6), (11,2,'low',4),
          (11,2,'mid',4), (11,3,'high',1), (11,3,'mid',1), (12,1,'high',20), (12,1,'low',21), (12,1,'mid',30),
          (12,2,'high',2), (12,2,'low',2), (12,2,'mid',6), (12,3,'high',1), (12,3,'low',1), (13,1,'high',29),
          (13,1,'low',29), (13,1,'mid',25), (13,2,'high',4), (13,2,'low',5), (13,2,'mid',5), (13,3,'low',1),
          (13,3,'mid',1), (14,1,'high',24), (14,1,'low',21), (14,1,'mid',21), (14,2,'high',5), (14,2,'low',6),
          (14,2,'mid',5), (15,1,'high',16), (15,1,'low',15), (15,1,'mid',24), (15,2,'high',5), (15,2,'low',4),
          (15,2,'mid',4), (16,1,'high',24), (16,1,'low',20), (16,1,'mid',20), (16,2,'high',4), (16,2,'low',4),
          (16,2,'mid',3), (17,1,'high',36), (17,1,'low',22), (17,1,'mid',21), (17,2,'high',5), (17,2,'low',1),
          (17,2,'mid',9), (17,3,'mid',2), (18,1,'high',22), (18,1,'low',20), (18,1,'mid',13), (18,2,'high',4),
          (18,2,'low',3), (18,2,'mid',3), (18,3,'high',2), (19,1,'high',25), (19,1,'low',22), (19,1,'mid',30),
          (19,2,'high',5), (19,2,'low',3), (19,2,'mid',3), (19,3,'low',1), (20,1,'high',25), (20,1,'low',23),
          (20,1,'mid',25), (20,2,'high',4), (20,2,'low',4), (20,2,'mid',5), (20,3,'low',1), (20,3,'mid',1),
          (21,1,'high',23), (21,1,'low',26), (21,1,'mid',19), (21,2,'high',6), (21,2,'low',4), (21,2,'mid',4),
          (21,3,'high',1), (21,3,'mid',1), (22,1,'high',18), (22,1,'low',22), (22,1,'mid',22), (22,2,'high',5),
          (22,2,'low',1), (22,2,'mid',4), (22,3,'mid',1), (23,1,'high',17), (23,1,'low',14), (23,1,'mid',31),
          (23,2,'high',4), (23,2,'low',4), (23,2,'mid',8), (23,3,'mid',1), (24,1,'high',21), (24,1,'low',26),
          (24,1,'mid',24), (24,2,'high',3), (24,2,'low',4), (24,2,'mid',1), (25,1,'high',29), (25,1,'low',21),
          (25,1,'mid',19), (25,2,'high',7), (25,2,'low',6), (25,2,'mid',4), (25,3,'low',1), (25,3,'mid',2),
          (26,1,'high',25), (26,1,'low',23), (26,1,'mid',18), (26,2,'high',4), (26,2,'low',6), (26,2,'mid',4),
          (27,1,'high',15), (27,1,'low',26), (27,1,'mid',29), (27,2,'high',3), (27,2,'low',4), (27,2,'mid',8),
          (27,3,'low',1), (27,3,'mid',1), (28,1,'high',24), (28,1,'low',17), (28,1,'mid',18), (28,2,'high',5),
          (28,2,'low',1), (28,2,'mid',6), (28,3,'mid',1), (29,1,'high',21), (29,1,'low',25), (29,1,'mid',22),
          (29,2,'high',1), (29,2,'low',4), (29,2,'mid',5), (29,3,'mid',1)) AS t(slot, level, grp, runs) ORDER BY 1, 2, 3""")),

    // attributionAnalysisFuse (reference
    // AggregateFunctionAttributionAnalysisFuse.h:201): second-stage merge
    // of per-user attribution tuples — per (event, attribute) key: summed
    // clicks/valids/value, ratio, contribution = value/Σvalue, and the
    // reference's 10-bucket integer-gap histograms of the transform
    // time/step samples. The per-user tuples are synthesized
    // arithmetically so the oracle can rebuild the exact same input; the
    // fuse aggregate is the unit under test.
    QueryDef.sql(
      "attribution_analysis_fuse",
      Seq("events"),
      """
        WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
        t AS (SELECT named_struct(
            'touch_events', array(array('click', concat('seg', CAST(uid % 3 AS STRING))),
                                  array('view',  concat('seg', CAST(uid % 2 AS STRING)))),
            'click_cnt', array(CAST(1 + uid % 5 AS BIGINT), CAST(1 + uid % 7 AS BIGINT)),
            'valid_transform_cnt', array(CAST(uid % 4 AS BIGINT), CAST(uid % 2 AS BIGINT)),
            'transform_times', array(array(CAST(10 + uid % 50 AS BIGINT)),
                                     array(CAST(5 + uid % 80 AS BIGINT))),
            'transform_steps', array(array(CAST(1 + uid % 4 AS BIGINT)),
                                     array(CAST(1 + uid % 6 AS BIGINT))),
            'value', array(CAST(uid % 10 AS DOUBLE), CAST(uid % 4 AS DOUBLE)),
            'contribution', array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))) AS tup
          FROM u),
        m AS (SELECT attributionAnalysisFuse(tup) AS r FROM t)
        SELECT element_at(ke, 1) AS ev, element_at(ke, 2) AS attr,
          element_at(r.click_cnt, pos + 1) AS clicks,
          element_at(r.valid_transform_cnt, pos + 1) AS valid,
          CAST(CAST(element_at(r.valid_transform_ratio, pos + 1) AS DECIMAL(18,6)) AS DOUBLE) AS ratio,
          array_join(element_at(r.transform_time_distribution, pos + 1), ',') AS time_dist,
          array_join(element_at(r.transform_step_distribution, pos + 1), ',') AS step_dist,
          CAST(CAST(element_at(r.value, pos + 1) AS DECIMAL(18,2)) AS DOUBLE) AS value,
          CAST(CAST(element_at(r.contribution, pos + 1) AS DECIMAL(18,6)) AS DOUBLE) AS contribution
        FROM m LATERAL VIEW posexplode(r.touch_events) p AS pos, ke
        ORDER BY ev, attr""",
      Some("""
        WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
        rws AS (
          SELECT 'click' AS ev, 'seg' || CAST(uid % 3 AS VARCHAR) AS attr,
                 1 + uid % 5 AS clicks, uid % 4 AS valid,
                 10 + uid % 50 AS t, 1 + uid % 4 AS st,
                 CAST(uid % 10 AS DOUBLE) AS val
          FROM u
          UNION ALL
          SELECT 'view', 'seg' || CAST(uid % 2 AS VARCHAR),
                 1 + uid % 7, uid % 2, 5 + uid % 80, 1 + uid % 6,
                 CAST(uid % 4 AS DOUBLE)
          FROM u),
        agg AS (SELECT ev, attr,
                  CAST(SUM(clicks) AS BIGINT) AS clicks,
                  CAST(SUM(valid) AS BIGINT) AS valid,
                  SUM(val) AS value,
                  MIN(t) AS mn, MAX(t) AS mx, MIN(st) AS smn, MAX(st) AS smx
                FROM rws GROUP BY 1, 2),
        tot AS (SELECT SUM(value) AS tv FROM agg),
        tdist AS (SELECT r.ev, r.attr,
                    CAST(FLOOR((r.t - a.mn) / ((a.mx - a.mn) // 10 + 1)) AS INT) AS b,
                    COUNT(*) AS c
                  FROM rws r JOIN agg a ON a.ev = r.ev AND a.attr = r.attr
                  WHERE r.t > 0 GROUP BY 1, 2, 3),
        sdist AS (SELECT r.ev, r.attr,
                    CAST(FLOOR((r.st - a.smn) / ((a.smx - a.smn) // 10 + 1)) AS INT) AS b,
                    COUNT(*) AS c
                  FROM rws r JOIN agg a ON a.ev = r.ev AND a.attr = r.attr
                  WHERE r.st > 0 GROUP BY 1, 2, 3),
        grid AS (SELECT a.ev, a.attr, gs.b
                 FROM agg a CROSS JOIN (SELECT UNNEST(range(10)) AS b) gs),
        tstr AS (SELECT g.ev, g.attr,
                   string_agg(CAST(COALESCE(d.c, 0) AS VARCHAR), ',' ORDER BY g.b) AS time_dist
                 FROM grid g LEFT JOIN tdist d
                   ON d.ev = g.ev AND d.attr = g.attr AND d.b = g.b
                 GROUP BY 1, 2),
        sstr AS (SELECT g.ev, g.attr,
                   string_agg(CAST(COALESCE(d.c, 0) AS VARCHAR), ',' ORDER BY g.b) AS step_dist
                 FROM grid g LEFT JOIN sdist d
                   ON d.ev = g.ev AND d.attr = g.attr AND d.b = g.b
                 GROUP BY 1, 2)
        SELECT a.ev, a.attr, a.clicks, a.valid,
          CAST(CAST(a.valid * 1.0 / a.clicks AS DECIMAL(18,6)) AS DOUBLE) AS ratio,
          tstr.time_dist, sstr.step_dist,
          CAST(CAST(a.value AS DECIMAL(18,2)) AS DOUBLE) AS value,
          CAST(CAST(a.value / tot.tv AS DECIMAL(18,6)) AS DOUBLE) AS contribution
        FROM agg a
        JOIN tstr ON tstr.ev = a.ev AND tstr.attr = a.attr
        JOIN sstr ON sstr.ev = a.ev AND sstr.attr = a.attr
        CROSS JOIN tot
        ORDER BY a.ev, a.attr""")),

    // attributionCorrelationFuse: the same fuse plus a per-key Spearman
    // rank correlation (ties-averaged, 1 − 6Σd²/(n(n²−1))) over per-user
    // (click, valid) feature pairs, collected only from users with a
    // valid transform somewhere (the trans_sum guard).
    QueryDef.sql(
      "attribution_correlation_fuse",
      Seq("events"),
      """
        WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
        t AS (SELECT named_struct(
            'touch_events', array(array('click', concat('seg', CAST(uid % 3 AS STRING))),
                                  array('view',  concat('seg', CAST(uid % 2 AS STRING)))),
            'click_cnt', array(CAST(1 + uid % 5 AS BIGINT), CAST(1 + uid % 7 AS BIGINT)),
            'valid_transform_cnt', array(CAST(uid % 4 AS BIGINT), CAST(uid % 2 AS BIGINT)),
            'transform_times', array(array(CAST(10 + uid % 50 AS BIGINT)),
                                     array(CAST(5 + uid % 80 AS BIGINT))),
            'transform_steps', array(array(CAST(1 + uid % 4 AS BIGINT)),
                                     array(CAST(1 + uid % 6 AS BIGINT))),
            'value', array(CAST(uid % 10 AS DOUBLE), CAST(uid % 4 AS DOUBLE)),
            'contribution', array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))) AS tup
          FROM u),
        m AS (SELECT attributionCorrelationFuse(tup) AS r FROM t)
        SELECT element_at(ke, 1) AS ev, element_at(ke, 2) AS attr,
          CAST(CAST(element_at(r.correlation, pos + 1) AS DECIMAL(18,6)) AS DOUBLE) AS corr,
          element_at(r.click_cnt, pos + 1) AS clicks,
          element_at(r.valid_transform_cnt, pos + 1) AS valid
        FROM m LATERAL VIEW posexplode(r.touch_events) p AS pos, ke
        ORDER BY ev, attr""",
      Some("""
        WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
        rws AS (
          SELECT uid, 'click' AS ev, 'seg' || CAST(uid % 3 AS VARCHAR) AS attr,
                 CAST(1 + uid % 5 AS DOUBLE) AS x, CAST(uid % 4 AS DOUBLE) AS y,
                 1 + uid % 5 AS clicks, uid % 4 AS valid
          FROM u
          UNION ALL
          SELECT uid, 'view', 'seg' || CAST(uid % 2 AS VARCHAR),
                 CAST(1 + uid % 7 AS DOUBLE), CAST(uid % 2 AS DOUBLE),
                 1 + uid % 7, uid % 2
          FROM u),
        agg AS (SELECT ev, attr,
                  CAST(SUM(clicks) AS BIGINT) AS clicks,
                  CAST(SUM(valid) AS BIGINT) AS valid
                FROM rws GROUP BY 1, 2),
        feats AS (SELECT * FROM rws
                  WHERE (uid % 4) + (uid % 2) > 0),
        ranked AS (SELECT ev, attr, x, y,
                     RANK() OVER (PARTITION BY ev, attr ORDER BY x DESC)
                       + (COUNT(*) OVER (PARTITION BY ev, attr, x) - 1) / 2.0 AS rx,
                     RANK() OVER (PARTITION BY ev, attr ORDER BY y DESC)
                       + (COUNT(*) OVER (PARTITION BY ev, attr, y) - 1) / 2.0 AS ry,
                     COUNT(*) OVER (PARTITION BY ev, attr) AS n
                   FROM feats),
        sp AS (SELECT ev, attr,
                 CASE WHEN MAX(y) = 0 AND MIN(y) = 0 THEN 0.0
                      WHEN MAX(n) <= 1 THEN 0.0
                      ELSE 1.0 - 6.0 * SUM((rx - ry) * (rx - ry))
                           / (MAX(n) * (MAX(n) * CAST(MAX(n) AS DOUBLE) - 1))
                 END AS corr
               FROM ranked GROUP BY 1, 2)
        SELECT a.ev, a.attr,
          CAST(CAST(COALESCE(sp.corr, 0.0) AS DECIMAL(18,6)) AS DOUBLE) AS corr,
          a.clicks, a.valid
        FROM agg a LEFT JOIN sp ON sp.ev = a.ev AND sp.attr = a.attr
        ORDER BY a.ev, a.attr""")))
}
