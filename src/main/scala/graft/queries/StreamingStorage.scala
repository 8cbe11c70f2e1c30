package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.multimodal.Multimodal
import graft.operators.Upsert
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._

/** Streaming and storage semantics: Structured Streaming pipelines over
  * the events table (tumbling, stateful, funnel, session and
  * bucketed-AUC counts — SURVEY §2.10), unique-key upsert reads,
  * deterministic SAMPLE BY key, materialized-view rewrite, and multimodal
  * plumbing (media codecs and feature extraction).
  */
object StreamingStorage {

  val defs: Seq[QueryDef] = Seq(

    // Unique-key upsert read: latest event per (user, event_type) —
    // last-writer-wins by (ts, event_id).
    QueryDef(
      "upsert_latest_state",
      (s, dir) =>
        Upsert.latestByVersion(
            Tables(s, dir, "events").withColumn("us", Tables.tsUs(col("ts"))),
            keys = Seq("user_id", "event_type"), version = "us", tiebreak = "event_id")
          .select(col("user_id"), col("event_type"), col("event_id").as("latest_event"),
                  col("us").as("latest_us"))
          .orderBy(col("user_id"), col("event_type")),
      Some("""
        SELECT user_id, event_type, event_id AS latest_event,
          EPOCH_US(ts) AS latest_us
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
            ORDER BY EPOCH_US(ts) DESC, event_id DESC) AS rn
          FROM events) t
        WHERE rn = 1
        ORDER BY user_id, event_type""")),

    // SAMPLE BY key: md5-prefix deterministic sample (2/16 of keys) —
    // identical row set in any engine at any parallelism (vs statistical
    // df.sample).
    QueryDef(
      "sample_by_key",
      (s, dir) =>
        Tables(s, dir, "orders")
          .filter(Upsert.sampleByKey(col("o_orderkey"), take = 2))
          .agg(count(lit(1)).as("n_sampled"),
               countDistinct(col("o_custkey")).as("n_customers")),
      Some("""
        SELECT COUNT(*) AS n_sampled, COUNT(DISTINCT o_custkey) AS n_customers
        FROM orders
        WHERE SUBSTRING(MD5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '2'""")),

    // Streaming tumbling-window counts (AvailableNow over the same data) —
    // oracle identical to the batch bucketing, proving stream/batch parity.
    QueryDef(
      "stream_tumbling_counts",
      (s, dir) =>
        StreamingPipeline.tumblingCounts(s, dir, s"stream_tumbling_${System.nanoTime()}")
          .orderBy(col("bucket"), col("event_type")),
      Some("""
        SELECT MAKE_TIMESTAMP((EPOCH_US(ts) // 21600000000) * 21600000000) AS bucket,
          event_type, COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
        ORDER BY bucket, event_type""")),

    // Stateful streaming: per-user running counters via
    // flatMapGroupsWithState; with AvailableNow over static data the final
    // state equals the batch aggregate (the oracle).
    QueryDef(
      "stream_stateful_counts",
      (s, dir) =>
        StreamingPipeline.statefulUserCounts(s, dir, s"stream_state_${System.nanoTime()}")
          .orderBy(col("user_id")),
      Some("""
        SELECT user_id, COUNT(*) AS n_events
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    // Incremental windowFunnel in the state store (flatMapGroupsWithState,
    // window-bounded eviction + carried best level) — per-user levels
    // must match the batch funnel's linear-window oracle exactly.
    QueryDef(
      "stream_funnel_levels",
      (s, dir) =>
        StreamingPipeline.streamingFunnel(s, dir,
            s"stream_funnel_${System.nanoTime()}",
            windowUs = 7L * 86400 * 1000000,
            steps = Seq("signup", "click", "purchase"))
          .orderBy(col("user_id")),
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
        SELECT user_id, d1 + d2 + d3 AS level
        FROM f ORDER BY user_id""")),

    // Streaming session windows (session_window + watermark, AvailableNow
    // over static data) — oracle identical to the batch gap-split.
    QueryDef(
      "stream_session_counts",
      (s, dir) =>
        StreamingPipeline.sessionCounts(s, dir, s"stream_session_${System.nanoTime()}")
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

    // Streaming sessionAnalysis: the batch operator's per-session
    // (duration, depth, end event, session time) tuples computed by the
    // watermarked session_window state store — must match the batch
    // lag+cumulative-break oracle exactly (same gap − 1 µs boundary).
    QueryDef(
      "stream_session_tuples",
      (s, dir) =>
        StreamingPipeline.sessionTuples(s, dir, s"stream_sess_tup_${System.nanoTime()}")
          .orderBy(col("user_id"), col("session_time_us")),
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
        SELECT user_id, epoch_us(MIN(ts)) AS session_time_us,
          epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
          COUNT(*) AS depth,
          substr(MAX(concat(lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0'),
            ':', event_type)), 22) AS end_event
        FROM g GROUP BY user_id, sid
        ORDER BY user_id, session_time_us""")),

    // Multimodal plumbing: binary payload + metadata + stub feature
    // extraction (hybrid oracle below; the decode is a documented fake).
    QueryDef(
      "multimodal_features",
      (s, dir) => {
        val media = Multimodal.withFakeMedia(Tables(s, dir, "documents"), "doc_id", "text")
        media
          .withColumn("features", Multimodal.fakeDecodeFeatures(col("media"), 8))
          .withColumn("frames", Multimodal.sampleFrames(col("media"), 3, 16))
          .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
                  round(element_at(col("features"), 1), 6).as("f0"),
                  size(col("frames")).as("n_frames"))
          .orderBy(col("media_id"))
          .limit(100)
      },
      // HYBRID oracle: media_id / n_bytes / n_frames are SQL-derivable
      // from documents (same derivation multimodal_metadata hash-checks);
      // only the deterministic stub-decode feature f0 is pinned per
      // media_id from the sf0.01 run. sf0.01 ONLY.
      Some("""
        SELECT d.doc_id AS media_id, CAST(LENGTH(d.text) AS INTEGER) AS n_bytes,
          CAST(v.f0 AS DOUBLE) AS f0, 3 AS n_frames
        FROM documents d JOIN (VALUES
          (0,0.885484), (1,-0.660112), (2,0.20907), (3,0.191629), (4,-0.906901), (5,0.082773),
          (6,0.69327), (7,0.162872), (8,0.569035), (9,0.797204), (10,-0.071696), (11,0.132884),
          (12,0.853469), (13,-0.052072), (14,-0.620996), (15,-0.923866), (16,0.86642), (17,0.753108),
          (18,0.947043), (19,-0.774132), (20,-0.979035), (21,-0.131352), (22,-0.364508), (23,0.09614),
          (24,0.747467), (25,-0.691266), (26,0.932632), (27,-0.162775), (28,-0.909227), (29,-0.650759),
          (30,-0.335257), (31,0.085806), (32,0.651009), (33,0.15233), (34,-0.100939), (35,-0.187781),
          (36,0.753441), (37,-0.437693), (38,0.496913), (39,-0.448864), (40,0.070242), (41,-0.655592),
          (42,-0.996763), (43,-0.530181), (44,-0.508124), (45,0.767029), (46,0.163674), (47,-0.39704),
          (48,-0.194966), (49,-0.203443), (50,-0.113262), (51,0.190698), (52,-0.708185), (53,-0.189863),
          (54,-0.140165), (55,-0.652363), (56,-0.21878), (57,0.515817), (58,-0.358649), (59,0.384941),
          (60,0.657747), (61,0.921125), (62,-0.007827), (63,0.702822), (64,0.660449), (65,0.962129),
          (66,-0.565111), (67,-0.749721), (68,-0.623059), (69,-0.429893), (70,-0.442465), (71,0.047005),
          (72,0.38765), (73,-0.090059), (74,0.013335), (75,-0.287416), (76,-0.15541), (77,0.741661),
          (78,0.050292), (79,0.236479), (80,-0.943414), (81,-0.187003), (82,0.298238), (83,0.728751),
          (84,-0.035605), (85,-0.595222), (86,-0.2582), (87,-0.747678), (88,-0.158001), (89,-0.374901),
          (90,-0.424081), (91,0.273547), (92,0.720168), (93,-0.550311), (94,-0.433347), (95,-0.584608),
          (96,0.276713), (97,-0.600913), (98,0.384084), (99,-0.885884)) AS v(media_id, f0) ON d.doc_id = v.media_id
        ORDER BY media_id""")),

    // SQL-expressible half of the multimodal pipeline: the metadata
    // struct and frame-sampling arity are deterministic functions of the
    // payload, so they hash-check against the oracle even though the
    // decode stub's feature values can't.
    QueryDef(
      "multimodal_metadata",
      (s, dir) => {
        val media = Multimodal.withFakeMedia(Tables(s, dir, "documents"), "doc_id", "text")
        media
          .withColumn("frames", Multimodal.sampleFrames(col("media"), 3, 16))
          .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
                  col("meta.format").as("format"),
                  size(col("frames")).as("n_frames"))
          .orderBy(col("media_id"))
          .limit(100)
      },
      Some("""
        SELECT doc_id AS media_id,
          CAST(LENGTH(text) AS INTEGER) AS n_bytes,
          'fake/raw' AS format,
          3 AS n_frames
        FROM documents
        ORDER BY media_id
        LIMIT 100""")),

    // Streaming bucketed AUC (incremental BucketedRankAucAgg): the
    // histogram state lives in the streaming aggregation state store,
    // the rank-sum fold runs post-drain over cohorts × buckets rows.
    // Oracle recomputes the identical bucketed Mann-Whitney fold in
    // SQL — full hash gate, not rows-only, because every intermediate
    // is an integer-valued double.
    QueryDef(
      "stream_auc_bucketed",
      (s, dir) =>
        graft.streaming.StreamingPipeline
          .bucketedAuc(s, dir, s"stream_auc_${System.nanoTime()}"),
      Some("""
        WITH b AS (
          SELECT CAST(user_id % 4 AS INT) AS cohort,
                 CAST(LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 25.0) AS BIGINT), 0), 19) AS INT) AS bucket,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
          FROM events WHERE value IS NOT NULL),
        c AS (
          SELECT cohort, bucket,
                 CAST(SUM(pos) AS DOUBLE) AS pd,
                 CAST(COUNT(*) - SUM(pos) AS DOUBLE) AS nd
          FROM b GROUP BY cohort, bucket),
        w AS (
          SELECT cohort, pd, nd,
                 COALESCE(SUM(nd) OVER (PARTITION BY cohort ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_n
          FROM c)
        SELECT cohort,
               CAST(CAST(ROUND(SUM(pd * (cum_n + nd / 2))
                 / (SUM(pd) * SUM(nd)), 6) AS DECIMAL(18,6)) AS DOUBLE) AS auc
        FROM w
        GROUP BY cohort
        ORDER BY cohort""")),

    // REAL multimodal decode (graft.multimodal.MediaCodecs — RIFF/PCM
    // WAV and 24 bpp BMP are pure byte parsing, no codec library):
    // payloads are ENCODED from doc_id-derived parameters in one
    // projection and DECODED in the next, so the DuckDB oracle can
    // recompute every output from doc_id arithmetic alone — a full
    // hash-match on the decoder outputs. A square wave makes RMS/peak
    // exactly amplitude/32768; a solid BMP makes channel means exact
    // and the average-hash canonically zero.
    QueryDef(
      "multimodal_codec_roundtrip",
      (s, dir) => {
        import graft.multimodal.Multimodal
        val d = Tables(s, dir, "documents")
          .select(col("doc_id")).filter(col("doc_id") < 500)
        d.withColumn("wav", Multimodal.encodeWavSquare(
            lit(8000) + (col("doc_id") % 3) * 4000,
            lit(100) + col("doc_id") % 400,
            lit(1000) + col("doc_id") % 5000))
          .withColumn("bmp", Multimodal.encodeBmpSolid(
            lit(8) + col("doc_id") % 25, lit(4) + col("doc_id") % 13,
            col("doc_id") % 256, (col("doc_id") * 3) % 256, (col("doc_id") * 7) % 256))
          .select(col("doc_id"),
            Multimodal.wavSampleRate(col("wav")).as("sample_rate"),
            Multimodal.wavFrames(col("wav")).as("n_frames"),
            Num.dq6(Multimodal.wavDurationMs(col("wav"))).as("duration_ms"),
            (Multimodal.wavRms(col("wav")) * 32768).cast("bigint").as("rms_raw"),
            (Multimodal.wavPeak(col("wav")) * 32768).cast("bigint").as("peak_raw"),
            Multimodal.bmpWidth(col("bmp")).as("w"),
            Multimodal.bmpHeight(col("bmp")).as("h"),
            element_at(Multimodal.bmpMeanRgb(col("bmp")), 1).cast("bigint").as("mean_r"),
            element_at(Multimodal.bmpMeanRgb(col("bmp")), 2).cast("bigint").as("mean_g"),
            element_at(Multimodal.bmpMeanRgb(col("bmp")), 3).cast("bigint").as("mean_b"),
            Multimodal.bmpAHash(col("bmp")).as("ahash"),
            // real resize: solid images keep exact channel means
            Multimodal.bmpWidth(Multimodal.bmpResize(col("bmp"), lit(5), lit(3)))
              .as("resized_w"),
            element_at(Multimodal.bmpMeanRgb(
              Multimodal.bmpResize(col("bmp"), lit(5), lit(3))), 1)
              .cast("bigint").as("resized_mean_r"),
            // windowed energy of a square wave: every window exactly A
            (element_at(Multimodal.wavEnergyProfile(col("wav"), lit(4)), 3) * 32768)
              .cast("bigint").as("energy_w3"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
          CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
          CAST(100 + doc_id % 400 AS BIGINT) AS n_frames,
          CAST(CAST(ROUND((100 + doc_id % 400) * 1000.0
            / (8000 + (doc_id % 3) * 4000), 6) AS DECIMAL(18,6)) AS DOUBLE) AS duration_ms,
          CAST(1000 + doc_id % 5000 AS BIGINT) AS rms_raw,
          CAST(1000 + doc_id % 5000 AS BIGINT) AS peak_raw,
          CAST(8 + doc_id % 25 AS INT) AS w,
          CAST(4 + doc_id % 13 AS INT) AS h,
          CAST(doc_id % 256 AS BIGINT) AS mean_r,
          CAST((doc_id * 3) % 256 AS BIGINT) AS mean_g,
          CAST((doc_id * 7) % 256 AS BIGINT) AS mean_b,
          CAST(0 AS BIGINT) AS ahash,
          CAST(5 AS INT) AS resized_w,
          CAST(doc_id % 256 AS BIGINT) AS resized_mean_r,
          CAST(1000 + doc_id % 5000 AS BIGINT) AS energy_w3
        FROM documents WHERE doc_id < 500
        ORDER BY doc_id""")),

    // Transparent MV rewrite end-to-end (plans/MaterializedViewRewrite,
    // reference src/Optimizer/Rewriter/MaterializedViewRewriter.h): build
    // a decimal-measure base table + its (returnflag, linestatus,
    // shipyear) MV, then run a COARSER rollup with a group-column filter
    // — the optimizer rule transparently answers it from the MV
    // (MaterializedViewRewriteSpec pins the plan actually scanning the
    // MV parquet), while DuckDB computes the same numbers from the raw
    // base rows. Decimal measures make both aggregation paths exact, so
    // the parity is bit-level, not tolerance-level. At 100 TB the
    // rewrite turns a fact-table scan into a scan of the group-key
    // cross product.
    QueryDef(
      "mv_rewrite_rollup",
      (s, dir) => {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_mv_gate_" +
          Integer.toHexString(dir.hashCode)
        val basePath = s"$root/lineitem_dec"
        Tables(s, dir, "lineitem").selectExpr(
          "l_returnflag", "l_linestatus",
          "year(l_shipdate) AS l_shipyear",
          "CAST(l_quantity AS DECIMAL(18,2)) AS qty_d",
          "CAST(l_extendedprice AS DECIMAL(18,2)) AS price_d",
          "l_linenumber")
          .write.mode("overwrite").parquet(basePath)
        val base = Tables.readParquet(s, basePath)
        base.createOrReplaceTempView("lineitem_dec")
        graft.plans.MaterializedViews.create(s, "gate_li_mv", base,
          Seq("l_returnflag", "l_linestatus", "l_shipyear"),
          Seq("qty_d", "price_d", "l_linenumber"),
          s"$root/mv")
        s.sql("""
          SELECT l_returnflag, l_linestatus,
                 CAST(SUM(qty_d) AS DOUBLE) AS sum_qty,
                 CAST(MIN(price_d) AS DOUBLE) AS min_price,
                 CAST(MAX(price_d) AS DOUBLE) AS max_price,
                 COUNT(*) AS n,
                 AVG(l_linenumber) AS avg_ln
          FROM lineitem_dec
          WHERE l_shipyear >= 1993
          GROUP BY 1, 2
          ORDER BY 1, 2""")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
          CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
          COUNT(*) AS n,
          AVG(l_linenumber) AS avg_ln
        FROM lineitem
        WHERE EXTRACT(year FROM l_shipdate) >= 1993
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // REAL PNG decode via the JDK's own ImageIO (MediaCodecs — the
    // round-4 "image decode env-blocked" stub closes: PNG is a genuine
    // compressed format, zlib-filtered, and the JDK codec is complete
    // and headless). PNG is lossless, so a solid image encoded from
    // doc_id parameters decodes to EXACT channel means, dimensions,
    // format sniff, resize means and the canonical zero average-hash —
    // all recomputed by the oracle from doc_id arithmetic alone.
    QueryDef(
      "multimodal_png_codecs",
      (s, dir) => {
        import graft.multimodal.Multimodal
        import org.apache.spark.sql.functions._
        val d = Tables(s, dir, "documents")
          .select(col("doc_id")).filter(col("doc_id") < 300)
        d.withColumn("png", Multimodal.encodePngSolid(
            lit(6) + col("doc_id") % 20, lit(5) + col("doc_id") % 11,
            col("doc_id") % 256, (col("doc_id") * 5) % 256, (col("doc_id") * 11) % 256))
          .select(col("doc_id"),
            Multimodal.mediaFormat(col("png")).as("fmt"),
            Multimodal.imageWidth(col("png")).as("w"),
            Multimodal.imageHeight(col("png")).as("h"),
            element_at(Multimodal.imageMeanRgb(col("png")), 1).cast("bigint").as("mean_r"),
            element_at(Multimodal.imageMeanRgb(col("png")), 2).cast("bigint").as("mean_g"),
            element_at(Multimodal.imageMeanRgb(col("png")), 3).cast("bigint").as("mean_b"),
            Multimodal.imageAHash(col("png")).as("ahash"),
            Multimodal.imageWidth(Multimodal.imageResizePng(col("png"), lit(4), lit(3)))
              .as("rz_w"),
            element_at(Multimodal.imageMeanRgb(
              Multimodal.imageResizePng(col("png"), lit(4), lit(3))), 2)
              .cast("bigint").as("rz_mean_g"),
            // REAL feature extraction: channel-mean feature recovers the
            // encoded red exactly; a solid image occupies exactly one
            // luma-histogram bucket with fraction 1.0
            round(element_at(Multimodal.imageFeatures(col("png"), lit(11)), 1)
              * 255.0).cast("bigint").as("feat_r255"),
            array_max(slice(Multimodal.imageFeatures(col("png"), lit(11)),
              4, 8)).cast("bigint").as("hist_peak"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
          'PNG' AS fmt,
          CAST(6 + doc_id % 20 AS INT) AS w,
          CAST(5 + doc_id % 11 AS INT) AS h,
          CAST(doc_id % 256 AS BIGINT) AS mean_r,
          CAST((doc_id * 5) % 256 AS BIGINT) AS mean_g,
          CAST((doc_id * 11) % 256 AS BIGINT) AS mean_b,
          CAST(0 AS BIGINT) AS ahash,
          CAST(4 AS INT) AS rz_w,
          CAST((doc_id * 5) % 256 AS BIGINT) AS rz_mean_g,
          CAST(doc_id % 256 AS BIGINT) AS feat_r255,
          CAST(1 AS BIGINT) AS hist_peak
        FROM documents WHERE doc_id < 300
        ORDER BY doc_id""")))
}
