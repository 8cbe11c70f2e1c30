package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** sessionAnalysis (reference
  * /root/reference/src/AggregateFunctions/AggregateFunctionSessionAnalysis.h:135):
  * split each user's time-sorted events into sessions broken by an
  * inactivity gap ≥ max_session_size (insertResultInto's rolling
  * `session_limit = events[i].time + max_session_size`), and emit one
  * tuple per session — (duration, depth, end event, session time).
  *
  * The reference materializes every event into an arena per aggregate
  * state and splits at finish; here sessionization is a lag/running-sum
  * window over one per-user sort followed by a hash aggregate on
  * (user, session_id) — identical break semantics (an event at exactly
  * prev + gap starts a new session in both), never an
  * O(events-per-user) buffer. One shuffle on user_id, linear at 100 TB.
  *
  * The start/target/end-event-parameterized variants of the reference
  * collapse to post-filters on these rows (start events are session
  * breaks only when the gap already broke; see scaladoc on the query).
  */
object SessionAnalysis {

  /** Per-session rows: user, session_time (first event), duration_us
    * (last − first), depth (event count), end_event (the last event's
    * name, ties broken by event name for determinism — the reference's
    * stable time sort leaves equal-time order unspecified).
    *
    * Boundary: a gap of exactly `gapUs` BREAKS the session (the
    * reference's `events[i].time >= session_limit`, rolling limit).
    *
    * r16 shape (guide §2.4): NO aggregate at all. The r15 groupBy on
    * (user, session_id) fell off the hash-aggregate path — max_by's
    * struct-of-(long,string) buffer is not UnsafeRow-mutable — leaving a
    * Sort → SortAggregate pair after the window. But every per-session
    * field is already computable inside the one per-user window pass:
    * rows arrive sorted by (__us, __ev), sessions are contiguous runs,
    * so a running last-non-null of the break row's (us, ts, row_number)
    * carries the session start to every row, and `lead(__brk)` flags the
    * session's LAST row (which IS max_by(ev, (us, ev)) — same tiebreak).
    * Emitting that row with (us − start_us, rn − start_rn + 1) replaces
    * the aggregate with a streaming Filter: one exchange, one sort,
    * zero aggregates. Still one shuffle on user_id, still never an
    * O(events-per-user) buffer.
    */
  def sessions(
      df: DataFrame, user: Column, ts: Column, event: Column,
      gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__us"), col("__ev"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("__us"), 1).over(w)
    val nxt = lead(col("__us"), 1).over(w)
    val startOf = (c: Column) =>
      last(when(col("__brk") === 1, c), ignoreNulls = true).over(wRun)
    // The timestamp itself never crosses the exchange: __us is the only
    // time column shuffled (session_time is rebuilt from the start µs —
    // timestamp_micros is the exact inverse of unix_micros).
    df.select(user.as("user_id"), Tables.tsUs(ts).as("__us"), event.as("__ev"))
      // Two window layers only: layer 1 evaluates lag/lead/row_number in
      // one pass (__end = "the NEXT row starts a session" comes straight
      // from lead(__us), not from lead(__brk), so it needs no layer 2);
      // layer 2 is the two running session-start carriers.
      .withColumn("__brk",
        when(prev.isNull || col("__us") - prev >= gapUs, 1).otherwise(0))
      // A row without a timestamp is a session of its own (duration and
      // session_time null, depth 1): nulls sort first, so it breaks
      // (lag is null) and ends here, or the `>=` would be null and the
      // filter would drop it.
      .withColumn("__end",
        nxt.isNull || col("__us").isNull || nxt - col("__us") >= gapUs)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__sus", startOf(col("__us")))
      .withColumn("__srn", startOf(col("__rn")))
      .filter(col("__end"))
      .select(col("user_id"),
        timestamp_micros(col("__sus")).as("session_time"),
        (col("__us") - col("__sus")).as("duration_us"),
        (col("__rn") - col("__srn") + 1).cast("long").as("depth"),
        col("__ev").as("end_event"))
  }
}
