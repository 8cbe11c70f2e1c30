package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.aggregates.{BitmapAggregates => B}
import graft.aggregates.{BitmapAggregates, BitmapExprCalcAgg, BitmapLevels, BitmapMaxLevelAgg,
  SumMap, TopK}
import org.apache.spark.sql.functions._

/** Bitmaps and sketches (SURVEY §2.4 sketch/bitmap groups): user-set
  * bitmap algebra and lifecycle (bitmapMaxLevel, bitmapColumnDiff, the
  * join-form bitmap aggregate, subset/slice, value algebra), segment
  * algebra over expression strings (reference
  * AggregateFunctionBitmapExpressionCalculation.h bitmapCount /
  * bitmapMultiCount / bitmapExtract), heavy hitters (topK), HLL, theta
  * and KLL sketches with the -State/-Merge pattern, and sumMap.
  *
  * Scale shape: raw events reduce to one compressed bitmap or sketch
  * state per key in a distributed hash aggregate; the final pass combines
  * only #keys small states, so the shuffle payload is compressed user
  * sets, not user rows. Bitmap oracles compute the same set algebra from
  * exact per-user membership flags.
  */
object BitmapsSketches {

  import Num._

  val defs: Seq[QueryDef] = Seq(

    // bitmapMaxLevel over one day's funnel events: view=1 < click=2 <
    // purchase=3; each user counts only at the deepest level reached that
    // day. Day-scoped because over the full month every user reaches every
    // level (see bitmap_extract_expression's day-scoping note).
    QueryDef(
      "bitmap_max_level",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(to_date(col("ts")) === lit("2024-01-05").cast("date") &&
            col("event_type").isin("view", "click", "purchase"))
          .withColumn("level",
            when(col("event_type") === "view", 1L)
              .when(col("event_type") === "click", 2L)
              .otherwise(3L))
        ev.groupBy("level")
          .agg(BitmapAggregates.groupBitmap(col("user_id")).as("bm"))
          .agg(BitmapMaxLevelAgg.maxLevel(col("level"), col("bm")).as("r"))
          .select(explode(col("r")).as("lu"))
          .select(col("lu.col1").as("level"), col("lu.col2").as("users"))
          .orderBy("level")
      },
      Some("""
        WITH f AS (SELECT user_id,
            CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 3 END AS lvl
          FROM events
          WHERE CAST(ts AS DATE) = DATE '2024-01-05'
            AND event_type IN ('view','click','purchase')),
        m AS (SELECT user_id, MAX(lvl) AS lvl FROM f GROUP BY user_id),
        lv AS (SELECT DISTINCT lvl FROM f)
        SELECT CAST(lv.lvl AS BIGINT) AS level,
               CAST(COALESCE(COUNT(m.user_id), 0) AS BIGINT) AS users
        FROM lv LEFT JOIN m ON m.lvl = lv.lvl
        GROUP BY lv.lvl ORDER BY level""")),

    // bitmapColumnDiff forward/step=1 over daily active-user bitmaps:
    // per day, users active that day but gone the next (churn). The last
    // day has no successor and emits 0, like the reference's empty bitmap.
    QueryDef(
      "bitmap_column_diff",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("day"), col("user_id"))
          .groupBy("day")
          .agg(BitmapAggregates.groupBitmap(col("user_id")).as("bm"))
          .agg(BitmapLevels.columnDiff("forward", 1)(col("day"), col("bm")).as("r"))
          .select(explode(col("r")).as("kd"))
          .select(col("kd.key").as("day"),
                  element_at(col("kd.diffs"), 1).as("lost"))
          .orderBy("day")
      },
      Some("""
        WITH ud AS (SELECT DISTINCT
            CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
            user_id
          FROM events),
        days AS (SELECT day, LEAD(day) OVER (ORDER BY day) AS nxt
                 FROM (SELECT DISTINCT day FROM ud)),
        j AS (SELECT d.day, a.user_id, d.nxt
              FROM days d JOIN ud a ON a.day = d.day)
        SELECT j.day,
          CAST(SUM(CASE WHEN j.nxt IS NOT NULL AND NOT EXISTS
              (SELECT 1 FROM ud b WHERE b.user_id = j.user_id AND b.day = j.nxt)
            THEN 1 ELSE 0 END) AS BIGINT) AS lost
        FROM j GROUP BY j.day ORDER BY j.day""")),

    // bitmapColumnOr/And/Xor/Cardinality/Has (reference
    // AggregateFunctionBitmapLogic.cpp:94-98) + bitmapFromColumn
    // (AggregateFunctionBitmapFromColumn.cpp): one compressed bitmap per
    // (type, day), then the per-type fold combines #days tiny bitmaps —
    // OR = any-day audience, AND = every-day regulars, XOR = odd-day
    // parity, Has = membership probe. Set ops are commutative/associative
    // so distributed merge order is immaterial.
    QueryDef(
      "bitmap_column_logic",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          .where(to_date(col("ts")).between(
            lit("2024-01-01").cast("date"), lit("2024-01-07").cast("date")))
          .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
          .groupBy("event_type", "day")
          .agg(BitmapAggregates.groupBitmap(col("user_id")).as("bm"))
        daily.groupBy("event_type")
          .agg(
            BitmapAggregates.bitmapColumnCardinality(col("bm")).as("users_any_day"),
            BitmapAggregates.bitmapCardinality(
              BitmapAggregates.bitmapColumnAnd(col("bm"))).as("users_every_day"),
            BitmapAggregates.bitmapCardinality(
              BitmapAggregates.bitmapColumnXor(col("bm"))).as("users_odd_days"),
            BitmapAggregates.bitmapColumnHas(col("bm"), lit(17L)).as("has_user_17"))
          .orderBy("event_type")
      },
      Some("""
        WITH ud AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
          FROM events
          WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'),
        nd AS (SELECT event_type, COUNT(DISTINCT day) AS ndays FROM ud GROUP BY 1),
        per_user AS (SELECT event_type, user_id, COUNT(DISTINCT day) AS d
                     FROM ud GROUP BY 1, 2)
        SELECT p.event_type,
          CAST(COUNT(*) AS BIGINT) AS users_any_day,
          CAST(SUM(CASE WHEN p.d = nd.ndays THEN 1 ELSE 0 END) AS BIGINT) AS users_every_day,
          CAST(SUM(CASE WHEN p.d % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS users_odd_days,
          bool_or(p.user_id = 17) AS has_user_17
        FROM per_user p JOIN nd ON nd.event_type = p.event_type
        GROUP BY p.event_type ORDER BY p.event_type""")),

    // bitmapMultiCount over four expression strings sharing one pruned
    // tag→bitmap state; fixed-width output projected to scalar columns.
    QueryDef(
      "bitmap_count_expression",
      (s, dir) => {
        val mc = BitmapExprCalcAgg.multiCount(
          "click & purchase",
          "click | view",
          "( click & purchase ) ~ error",
          "signup , view") _
        Tables(s, dir, "events")
          .agg(mc(col("event_type"), col("user_id")).as("c"))
          .select(col("c")(0).as("n_click_and_purchase"),
                  col("c")(1).as("n_click_or_view"),
                  col("c")(2).as("n_cp_not_error"),
                  col("c")(3).as("n_signup_or_view"))
      },
      Some("""
        WITH s AS (SELECT user_id,
            MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
            MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
            MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e,
            MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS g
          FROM events GROUP BY user_id)
        SELECT
          CAST(SUM(c * p) AS BIGINT) AS n_click_and_purchase,
          CAST(SUM(CASE WHEN c = 1 OR v = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_click_or_view,
          CAST(SUM(CASE WHEN c = 1 AND p = 1 AND e = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cp_not_error,
          CAST(SUM(CASE WHEN g = 1 OR v = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_signup_or_view
        FROM s""")),

    // bitmapExtract over day-scoped tags (`<type>_d<day>` — tags are
    // arbitrary strings, so segments can encode time slices): users who
    // purchased AND signed up on day 3 but did not click that day,
    // posexploded to one user per row for the gate. Day-scoping keeps the
    // segment selective — every user has every event type over the full
    // month, so whole-month algebra degenerates to all-or-nothing sets.
    QueryDef(
      "bitmap_extract_expression",
      (s, dir) => {
        val ex = BitmapExprCalcAgg.extract("( purchase_d3 & signup_d3 ) ~ click_d3") _
        Tables(s, dir, "events")
          .withColumn("tag",
            concat(col("event_type"), lit("_d"),
              datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))))
          .agg(ex(col("tag"), col("user_id")).as("u"))
          .select(posexplode(col("u")).as(Seq("pos", "user_id")))
          .select(col("pos"), col("user_id"))
          .orderBy(col("pos"))
      },
      Some("""
        WITH d3 AS (SELECT user_id, event_type FROM events
                    WHERE CAST(ts AS DATE) = DATE '2024-01-04'),
        s AS (SELECT user_id,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
            MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS g,
            MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
          FROM d3 GROUP BY user_id),
        m AS (SELECT user_id FROM s WHERE p = 1 AND g = 1 AND c = 0)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY user_id) - 1 AS INTEGER) AS pos,
               user_id
        FROM m ORDER BY pos""")),

    // -State/-Merge combinator parity (SURVEY §1.2 AggregateFunction
    // columns): daily HLL sketch states per event_type, merged across
    // days with hll_union_agg — sketch internals have no SQL oracle, so
    // this entry is rows-only checked.
    QueryDef(
      "hll_state_merge",
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
          .agg(hll_sketch_agg(col("user_id")).as("state"))
          .groupBy(col("event_type"))
          .agg(hll_sketch_estimate(hll_union_agg(col("state"))).as("approx_users"),
               count(lit(1)).as("n_partials"))
          .orderBy(col("event_type")),
      // HYBRID oracle: n_partials (distinct days per type) is genuinely
      // recomputed by DuckDB; only the merged-HLL estimate is pinned from
      // the sf0.01 run (deterministic — register merges are max-commutative;
      // verified stable across local[4]/local[8]). sf0.01 ONLY.
      Some("""
        SELECT e.event_type, CAST(v.approx_users AS BIGINT) AS approx_users,
          COUNT(DISTINCT DATE_TRUNC('day', e.ts)) AS n_partials
        FROM events e JOIN (VALUES
          ('click',150), ('error',150), ('purchase',150), ('signup',150), ('view',150)
        ) AS v(event_type, approx_users) ON e.event_type = v.event_type
        GROUP BY e.event_type, v.approx_users
        ORDER BY e.event_type""")),

    // approx_count_distinct (HLL++, reference uniq/uniqHLL12 family,
    // AggregateFunctionUniq.h:69) — sketch internals differ from any
    // oracle, so the estimate column is golden-vector pinned below.
    QueryDef(
      "approx_distinct_users",
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id")).as("approx_users"),
               countDistinct(col("user_id")).as("exact_users"))
          .orderBy(col("event_type")),
      // HYBRID oracle: exact_users is genuinely recomputed by DuckDB;
      // only the deterministic HLL++ estimate column is pinned from the
      // sf0.01 run (sketch internals have no SQL counterpart; the
      // estimator's error bound is spec-gated). sf0.01 ONLY.
      Some("""
        SELECT e.event_type, CAST(v.approx_users AS BIGINT) AS approx_users,
          COUNT(DISTINCT e.user_id) AS exact_users
        FROM events e JOIN (VALUES
          ('click',151), ('error',151), ('purchase',151), ('signup',151), ('view',151)) AS v(event_type, approx_users) ON e.event_type = v.event_type
        GROUP BY e.event_type, v.approx_users
        ORDER BY e.event_type""")),

    // bitMapJoinAndCard (reference AggregateFunctionBitMapJoin.cpp:92 —
    // an in-aggregate hash join of two (join_key, attrs, bitmap) streams
    // with AND/OR combination, thread-pooled because ClickHouse lacks a
    // distributed join). Spark-first this IS the native join: per-key
    // bitmaps from two distributed hash aggregates, equi-joined by the
    // planner (broadcast here — both sides are #days-sized), AND
    // cardinality as a scalar. No custom operator needed — the point of
    // re-architecting on Spark.
    QueryDef(
      "bitmap_join_and_card",
      (s, dir) => {
        val ud = Tables(s, dir, "events")
          .select(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .as("day"), col("event_type"), col("user_id"))
        val a = ud.filter(col("event_type").isin("click", "view"))
          .groupBy(col("day"), col("event_type").as("channel"))
          .agg(BitmapAggregates.groupBitmap(col("user_id")).as("bma"))
        val b = ud.filter(col("event_type") === "purchase")
          .groupBy(col("day"))
          .agg(BitmapAggregates.groupBitmap(col("user_id")).as("bmb"))
        a.join(b, Seq("day"))
          .select(col("day"), col("channel"),
            BitmapAggregates.bitmapAndCardinality(col("bma"), col("bmb"))
              .as("overlap"))
          .orderBy(col("day"), col("channel"))
      },
      Some("""
        WITH ud AS (SELECT DISTINCT
            CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER)
              AS day,
            event_type, user_id
          FROM events),
        a AS (SELECT day, event_type AS channel, user_id FROM ud
              WHERE event_type IN ('click', 'view')),
        b AS (SELECT day, user_id FROM ud WHERE event_type = 'purchase')
        SELECT a.day, a.channel,
          CAST(COUNT(CASE WHEN b.user_id IS NOT NULL THEN 1 END) AS BIGINT)
            AS overlap
        FROM a
          JOIN (SELECT DISTINCT day FROM b) bd ON bd.day = a.day
          LEFT JOIN b ON b.day = a.day AND b.user_id = a.user_id
        GROUP BY a.day, a.channel ORDER BY a.day, a.channel""")),

    // Bitmap set algebra on user sets: |click|, |purchase|, intersection,
    // union, difference — oracle = exact per-user boolean aggregation.
    QueryDef(
      "bitmap_user_overlap",
      (s, dir) => {
        // Single-pass conditional bitmaps: one events scan with two
        // map-side-combined bitmap states replaces two filtered scans +
        // two global aggs + a crossJoin (2 scans / 2 exchanges → 1 scan /
        // 1 exchange). groupBitmap skips NULLs, so `when(cond, user_id)`
        // reproduces the filtered semantics exactly.
        val ev = Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
        ev.agg(
            B.groupBitmap(when(col("event_type") === "click", col("user_id")))
              .as("bm_click"),
            B.groupBitmap(when(col("event_type") === "purchase", col("user_id")))
              .as("bm_purchase"))
          .select(
          B.bitmapCardinality(col("bm_click")).as("n_click"),
          B.bitmapCardinality(col("bm_purchase")).as("n_purchase"),
          B.bitmapAndCardinality(col("bm_click"), col("bm_purchase")).as("n_both"),
          B.bitmapOrCardinality(col("bm_click"), col("bm_purchase")).as("n_either"),
          B.bitmapAndnotCardinality(col("bm_click"), col("bm_purchase")).as("n_click_only"))
      },
      Some("""
        WITH s AS (
          SELECT user_id,
            MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
          FROM events GROUP BY user_id)
        SELECT CAST(SUM(c) AS BIGINT) AS n_click,
          CAST(SUM(p) AS BIGINT) AS n_purchase,
          CAST(SUM(c * p) AS BIGINT) AS n_both,
          CAST(SUM(CASE WHEN c = 1 OR p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_either,
          CAST(SUM(CASE WHEN c = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_click_only
        FROM s""")),

    // topK heavy hitters (SpaceSaving). Capacity >= NDV at test scale →
    // exact, so the oracle is the true top-10 by count (ties → lower id).
    QueryDef(
      "topk_users_by_events",
      (s, dir) => {
        val topk = TopK(10)
        Tables(s, dir, "events")
          .agg(topk(col("user_id")).as("top_users"))
          .select(posexplode(col("top_users")).as(Seq("pos", "user_id")))
          .select((col("pos") + 1).as("rank"), col("user_id"))
          .orderBy(col("rank"))
      },
      Some("""
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS INTEGER) AS rank,
          user_id
        FROM (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id) t
        ORDER BY n DESC, user_id
        LIMIT 10""")),

    // HLL sketch (DataSketches, reference uniq/hllSketch family) — the
    // estimate is sketch-internal — pinned below, exact side recomputed.
    QueryDef(
      "hll_sketch_users",
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("hll_users"),
               countDistinct(col("user_id")).as("exact_users"))
          .orderBy(col("event_type")),
      // HYBRID oracle: exact_users recomputed by DuckDB; the
      // DataSketches HLL estimate column is pinned from the sf0.01 run
      // (deterministic; accuracy spec-gated). sf0.01 ONLY.
      Some("""
        SELECT e.event_type, CAST(v.hll_users AS BIGINT) AS hll_users,
          COUNT(DISTINCT e.user_id) AS exact_users
        FROM events e JOIN (VALUES
          ('click',150), ('error',150), ('purchase',150), ('signup',150), ('view',150)) AS v(event_type, hll_users) ON e.event_type = v.event_type
        GROUP BY e.event_type, v.hll_users
        ORDER BY e.event_type""")),

    // Theta sketch distinct (TypedImperativeAggregate over DataSketches;
    // reference thetaSketch family). Estimate is sketch-internal →
    // rows-only; accuracy asserted in unit tests.
    QueryDef(
      "theta_sketch_users",
      // oracle-checked: below 2^lgK retained hashes a theta sketch is an
      // exact set, and the per-type user counts here are far under the
      // 4096 threshold — the estimate IS count-distinct, so DuckDB
      // verifies both columns bit-exactly
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(graft.aggregates.SketchAggregates.thetaDistinct(col("user_id"))
              .cast("long").as("theta_users"),
               countDistinct(col("user_id")).as("exact_users"))
          .orderBy(col("event_type")),
      Some("""
        SELECT event_type,
          COUNT(DISTINCT user_id) AS theta_users,
          COUNT(DISTINCT user_id) AS exact_users
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // KLL quantile sketch (reference kllSketch family). The sketch's
    // chosen values depend on compaction order, so the gate checks the
    // sketch's ACCURACY CONTRACT instead: the realized rank of each
    // estimate must sit within the KLL error bound of its target
    // quantile (k=200 → ~1.65% normalized rank error; 5% budget). The
    // booleans + group counts hash against the oracle, which asserts
    // them true — a broken sketch flips a boolean and fails the hash.
    QueryDef(
      "kll_value_quantiles",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val q = ev.groupBy(col("event_type"))
          .agg(graft.aggregates.SketchAggregates.kllQuantile(col("value"), 0.5).as("kll_p50"),
               graft.aggregates.SketchAggregates.kllQuantile(col("value"), 0.9).as("kll_p90"))
        ev.join(broadcast(q), "event_type")
          .groupBy(col("event_type"), col("kll_p50"), col("kll_p90"))
          .agg(count(lit(1)).as("n"),
               sum(when(col("value") <= col("kll_p50"), 1L).otherwise(0L)).as("le50"),
               sum(when(col("value") <= col("kll_p90"), 1L).otherwise(0L)).as("le90"))
          .select(col("event_type"), col("n"),
            (abs(col("le50") / col("n") - 0.5) <= 0.05).as("p50_in_bound"),
            (abs(col("le90") / col("n") - 0.9) <= 0.05).as("p90_in_bound"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
          TRUE AS p50_in_bound, TRUE AS p90_in_bound
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // sumMap: per-user map of event_type → summed value (Map-combinator
    // family). Map scalar functions probe the result; oracle = equivalent
    // conditional aggregation.
    QueryDef(
      "summap_user_values",
      (s, dir) => {
        val sm = SumMap()
        Tables(s, dir, "events")
          .withColumn("v6", col("value").cast(Num.D6).cast("double"))
          .groupBy(col("user_id"))
          .agg(sm(col("event_type"), col("v6")).as("m"))
          .select(col("user_id"),
                  size(map_keys(col("m"))).as("n_types"),
                  round(coalesce(element_at(col("m"), "click"), lit(0.0)), 6).as("click_value"),
                  round(coalesce(element_at(col("m"), "purchase"), lit(0.0)), 6).as("purchase_value"),
                  round(aggregate(map_values(col("m")), lit(0.0).cast(Num.D6),
                    (acc, x) => (acc + x.cast(Num.D6)).cast(Num.D6)).cast("double"), 6)
                    .as("total_value"))
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id,
          CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_types,
          ROUND(CAST(SUM(CASE WHEN event_type = 'click'
            THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE), 6) AS click_value,
          ROUND(CAST(SUM(CASE WHEN event_type = 'purchase'
            THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE), 6) AS purchase_value,
          ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    // topKWeighted: SpaceSaving heavy hitters by integer weight (floor of
    // the event value — floor, not cast, because DuckDB's double→BIGINT
    // cast rounds while Spark's truncates). Exact at test capacity.
    QueryDef(
      "topk_weighted_value",
      (s, dir) => {
        val topkw = graft.aggregates.TopKWeighted(10)
        Tables(s, dir, "events")
          .agg(topkw(col("user_id"), floor(col("value")).cast("long")).as("tu"))
          .select(posexplode(col("tu")).as(Seq("pos", "user_id")))
          .select((col("pos") + 1).as("rank"), col("user_id"))
          .orderBy(col("rank"))
      },
      Some("""
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY w DESC, user_id) AS INTEGER) AS rank,
          user_id
        FROM (SELECT user_id, SUM(CAST(FLOOR(value) AS BIGINT)) AS w
              FROM events GROUP BY user_id) t
        ORDER BY w DESC, user_id
        LIMIT 10""")),

    // bitmapHasAll / bitmapHasAny / subBitmap (reference
    // FunctionsBitmap.h:1832,713): subset predicates + the
    // position-sliced sub-bitmap over the Roaring64 user segments.
    // The slice is by sorted element position (not value), so the
    // oracle ranks click users by id and windows rows 11..35.
    QueryDef(
      "bitmap_subset_slice",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val click = ev.filter(col("event_type") === "click")
          .agg(B.groupBitmap(col("user_id")).as("bm_click"))
        val purchase = ev.filter(col("event_type") === "purchase")
          .agg(B.groupBitmap(col("user_id")).as("bm_purchase"))
        click.crossJoin(purchase).select(
          B.bitmapHasAll(col("bm_click"), col("bm_purchase")).as("purchase_subset_click"),
          B.bitmapHasAll(col("bm_purchase"), col("bm_click")).as("click_subset_purchase"),
          B.bitmapHasAny(col("bm_click"), col("bm_purchase")).as("any_overlap"),
          B.bitmapCardinality(
            B.subBitmap(col("bm_click"), lit(10L), lit(25L))).as("slice_card"),
          B.bitmapAndCardinality(
            B.subBitmap(col("bm_click"), lit(10L), lit(25L)),
            col("bm_purchase")).as("slice_purchasers"))
      },
      Some("""
        WITH s AS (
          SELECT user_id,
            MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
          FROM events GROUP BY user_id),
        ck AS (
          SELECT user_id, p, ROW_NUMBER() OVER (ORDER BY user_id) AS rn
          FROM s WHERE c = 1)
        SELECT
          (SELECT COUNT(*) FROM s WHERE p = 1 AND c = 0) = 0 AS purchase_subset_click,
          (SELECT COUNT(*) FROM s WHERE c = 1 AND p = 0) = 0 AS click_subset_purchase,
          (SELECT COUNT(*) FROM s WHERE c = 1 AND p = 1) > 0 AS any_overlap,
          (SELECT COUNT(*) FROM ck WHERE rn > 10 AND rn <= 35) AS slice_card,
          (SELECT COUNT(*) FROM ck WHERE rn > 10 AND rn <= 35 AND p = 1) AS slice_purchasers""")),

    // Bitmap value algebra (reference FunctionsBitmap.h): min/max,
    // value-range and from-value-limited subsets, xor/andnot
    // cardinalities, build↔toArray round-trip, and a transform remap —
    // all over the Roaring64 user segments, each rebuilt by the oracle
    // from the per-user click/purchase flags.
    QueryDef(
      "bitmap_value_algebra",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val B = graft.aggregates.BitmapAggregates
        val ev = Tables(s, dir, "events")
        val click = ev.filter(col("event_type") === "click")
          .agg(B.groupBitmap(col("user_id")).as("bm_click"))
        val purchase = ev.filter(col("event_type") === "purchase")
          .agg(B.groupBitmap(col("user_id")).as("bm_purchase"))
        click.crossJoin(purchase).select(
          B.bitmapMin(col("bm_click")).as("min_click"),
          B.bitmapMax(col("bm_click")).as("max_click"),
          B.bitmapCardinality(B.bitmapSubsetInRange(
            col("bm_click"), lit(100L), lit(300L))).as("range_card"),
          B.bitmapCardinality(B.bitmapSubsetLimit(
            col("bm_click"), lit(100L), lit(20L))).as("limit_card"),
          B.bitmapXorCardinality(col("bm_click"), col("bm_purchase")).as("xor_card"),
          B.bitmapCardinality(B.bitmapAndnot(
            col("bm_click"), col("bm_purchase"))).as("andnot_card"),
          B.bitmapCardinality(B.bitmapBuild(
            B.bitmapToArray(col("bm_purchase")))).as("rt_card"),
          aggregate(B.bitmapToArray(B.bitmapSubsetLimit(
            col("bm_click"), lit(0L), lit(5L))), lit(0L), (a, x) => a + x)
            .as("low5_sum"),
          B.bitmapContains(B.bitmapTransform(B.bitmapBuild(
            array(lit(1L), lit(2L), lit(3L))), array(lit(2L)), array(lit(99L))),
            lit(99L)).cast("int").as("tr_ok"))
      },
      Some("""
        WITH s AS (
          SELECT user_id,
            MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
          FROM events GROUP BY user_id)
        SELECT
          (SELECT MIN(user_id) FROM s WHERE c = 1) AS min_click,
          (SELECT MAX(user_id) FROM s WHERE c = 1) AS max_click,
          (SELECT COUNT(*) FROM s WHERE c = 1 AND user_id >= 100 AND user_id < 300)
            AS range_card,
          (SELECT LEAST(20, COUNT(*)) FROM s WHERE c = 1 AND user_id >= 100)
            AS limit_card,
          (SELECT COUNT(*) FROM s WHERE c + p = 1) AS xor_card,
          (SELECT COUNT(*) FROM s WHERE c = 1 AND p = 0) AS andnot_card,
          (SELECT COUNT(*) FROM s WHERE p = 1) AS rt_card,
          (SELECT CAST(SUM(user_id) AS BIGINT) FROM
            (SELECT user_id FROM s WHERE c = 1 ORDER BY user_id LIMIT 5)) AS low5_sum,
          CAST(1 AS INT) AS tr_ok""")),

    // uniqTheta set-op scalars (reference FunctionsUniqTheta.h) over
    // sketch STATES: union/intersect/A-not-B of the click and purchase
    // user sketches. Below the 2^lgK exact threshold a theta sketch is
    // an exact set, so the estimates equal the exact distinct counts
    // the oracle computes from per-user flags.
    QueryDef(
      "sketch_theta_setops",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val S = graft.aggregates.SketchAggregates
        val ev = Tables(s, dir, "events")
        val click = ev.filter(col("event_type") === "click")
          .agg(S.thetaState(col("user_id")).as("sk_click"))
        val purchase = ev.filter(col("event_type") === "purchase")
          .agg(S.thetaState(col("user_id")).as("sk_purchase"))
        click.crossJoin(purchase).select(
          S.thetaEstimate(S.uniqThetaUnion(col("sk_click"), col("sk_purchase")))
            .cast("long").as("u_card"),
          S.thetaEstimate(S.uniqThetaIntersect(col("sk_click"), col("sk_purchase")))
            .cast("long").as("i_card"),
          S.thetaEstimate(S.uniqThetaNot(col("sk_click"), col("sk_purchase")))
            .cast("long").as("n_card"))
      },
      Some("""
        WITH s AS (
          SELECT user_id,
            MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
          FROM events GROUP BY user_id)
        SELECT
          (SELECT COUNT(*) FROM s WHERE c = 1 OR p = 1) AS u_card,
          (SELECT COUNT(*) FROM s WHERE c = 1 AND p = 1) AS i_card,
          (SELECT COUNT(*) FROM s WHERE c = 1 AND p = 0) AS n_card""")))
}
