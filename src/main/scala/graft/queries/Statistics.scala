package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.operators.{Association, StatTests}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical and ML aggregates: the AUC-heuristic family (reference
  * src/AggregateFunctions/AggregateFunctionFastAuc*.cpp, DebiasAuc.cpp,
  * EcpmAuc.cpp, RegAuc.cpp, RegAucV2.cpp), hypothesis tests
  * (AggregateFunctionMannWhitney.cpp, AggregateFunctionTTest.h, mean
  * z-test, rank correlation), covariance matrices, the cross-tab
  * association statistics (cramersV / cramersVBiasCorrected / theilsU /
  * contingency, CrossTab.h) and categoricalInformationValue, NDCG, and
  * stochasticLinearRegression (AggregateFunctionMLMethod.cpp:111).
  *
  * Numeric design for oracle parity in the AUC family: preds, labels and
  * weights are integer-derived, so per-bucket tallies and rank
  * cross-products are exact and order-independent in both engines; only
  * the final division rounds, on identical operands, and results are
  * quantized per [[graft.Num.dq]].
  *
  * Scale notes: the association statistics make one pass over the fact
  * table (groupBy(a,b).count) and do the statistic math on the
  * distinct-pairs cells table; the bucketed AUC aggregates carry a
  * ≤bucket_num sparse map per group.
  */
object Statistics {

  import Num._

  val defs: Seq[QueryDef] = Seq(

    // fastAuc2 / fastAuc3 / fastPrevAuc2 (shared bucketed-rank math) +
    // debiasAuc (1/sample_rate weights), 100 buckets over [0,1).
    QueryDef.sql(
      "auc_bucketed_family",
      Seq("events"),
      """
        SELECT event_type,
          CAST(fastAuc2(0.01, 0.0, 1.0, (event_id % 997) / 997.0,
            CASE WHEN (event_id % 997) * 3 + (event_id % 101) * 7 > 1500 THEN 1 ELSE 0 END)
            AS DECIMAL(18,6)) AS auc_fast2,
          CAST(fastAuc3(0.01, 0.0, 1.0, (event_id % 997) / 997.0,
            CASE WHEN (event_id % 997) * 3 + (event_id % 101) * 7 > 1500 THEN 1 ELSE 0 END)
            AS DECIMAL(18,6)) AS auc_fast3,
          CAST(fastPrevAuc2(0.01, 0.0, 1.0, (event_id % 997) / 997.0,
            CASE WHEN (event_id % 997) * 3 + (event_id % 101) * 7 > 1500 THEN 1 ELSE 0 END)
            AS DECIMAL(18,6)) AS auc_prev2,
          CAST(debiasAuc(0.01, 0.0, 1.0, (event_id % 997) / 997.0,
            CASE WHEN (event_id % 997) * 3 + (event_id % 101) * 7 > 1500 THEN 1 ELSE 0 END,
            CASE WHEN event_id % 4 = 0 THEN 0.5 ELSE 0.25 END)
            AS DECIMAL(18,6)) AS auc_debias
        FROM events
        GROUP BY event_type
        ORDER BY event_type""",
      Some("""
        WITH t AS (
          SELECT event_type,
                 (event_id % 997) / 997.0 AS pred,
                 CASE WHEN (event_id % 997) * 3 + (event_id % 101) * 7 > 1500 THEN 1 ELSE 0 END AS label,
                 CASE WHEN event_id % 4 = 0 THEN 0.5 ELSE 0.25 END AS sr
          FROM events),
        b AS (
          SELECT event_type,
                 least(greatest(CAST(floor(pred / 0.01) AS BIGINT), 0), 99) AS bkt,
                 SUM(CASE WHEN label > 0 THEN 1.0 ELSE 0.0 END) AS pos,
                 SUM(CASE WHEN label > 0 THEN 0.0 ELSE 1.0 END) AS neg,
                 SUM(CASE WHEN label > 0 THEN 1.0 / sr ELSE 0.0 END) AS wpos,
                 SUM(CASE WHEN label > 0 THEN 0.0 ELSE 1.0 / sr END) AS wneg
          FROM t GROUP BY 1, 2),
        o AS (
          SELECT event_type, pos, neg, wpos, wneg,
                 COALESCE(SUM(neg) OVER (PARTITION BY event_type ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg,
                 COALESCE(SUM(wneg) OVER (PARTITION BY event_type ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wcumneg
          FROM b)
        SELECT event_type,
          CAST(SUM(pos * (cumneg + neg / 2.0)) / (SUM(pos) * SUM(neg)) AS DECIMAL(18,6)) AS auc_fast2,
          CAST(SUM(pos * (cumneg + neg / 2.0)) / (SUM(pos) * SUM(neg)) AS DECIMAL(18,6)) AS auc_fast3,
          CAST(SUM(pos * (cumneg + neg / 2.0)) / (SUM(pos) * SUM(neg)) AS DECIMAL(18,6)) AS auc_prev2,
          CAST(SUM(wpos * (wcumneg + wneg / 2.0)) / (SUM(wpos) * SUM(wneg)) AS DECIMAL(18,6)) AS auc_debias
        FROM o GROUP BY event_type ORDER BY event_type""")),

    // ecpmAuc: value-weighted ranking concordance over a log10-descending
    // eCPM bucketing (100 buckets over log10 ∈ [-2.5, 2.5)).
    QueryDef.sql(
      "auc_ecpm_ranking",
      Seq("events"),
      """
        SELECT event_type,
          CAST(CAST(ecpmAuc(0.01, -2.5, 2.5,
            power(10.0, ((event_id % 1600) / 400.0) - 2.0 + 0.0012345),
            (event_id % 17) + 1.0) AS DECIMAL(18,6)) AS DOUBLE) AS ecpm_auc,
          COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type""",
      Some("""
        WITH t AS (
          SELECT event_type,
                 power(10.0, ((event_id % 1600) / 400.0) - 2.0 + 0.0012345) AS ecpm,
                 (event_id % 17) + 1.0 AS adv
          FROM events),
        b AS (
          SELECT event_type,
                 least(greatest(CAST(floor((2.5 - log10(ecpm)) / (0.01 * 5.0)) AS BIGINT), 0), 99) AS bkt,
                 SUM(1.0) AS cnt,
                 SUM(adv) AS advsum
          FROM t GROUP BY 1, 2),
        o AS (
          SELECT event_type, cnt, advsum,
                 COALESCE(SUM(advsum) OVER (PARTITION BY event_type ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumadv_before,
                 SUM(advsum) OVER (PARTITION BY event_type ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumadv_incl
          FROM b)
        SELECT event_type,
          CAST(CAST(SUM(cnt * cumadv_before + cnt * cumadv_incl)
            / (SUM(cnt) * SUM(advsum) * 2.0) AS DECIMAL(18,6)) AS DOUBLE) AS ecpm_auc,
          CAST(SUM(cnt) AS BIGINT) AS n
        FROM o GROUP BY event_type ORDER BY event_type""")),

    // regAuc flags 1–4 + regAucV2: exact correct-pair fractions per
    // nation over customer (pred = account balance, label = custkey%5).
    // The oracle enumerates unordered pairs directly.
    QueryDef.sql(
      "auc_reg_pairs",
      Seq("customer"),
      """
        SELECT c_nationkey AS nk,
          CAST(CAST(regAuc(10000, 1, c_acctbal, CAST(c_custkey % 5 AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS auc_f1,
          CAST(CAST(regAuc(10000, 2, c_acctbal, CAST(c_custkey % 5 AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS auc_f2,
          CAST(CAST(regAuc(10000, 3, c_acctbal, CAST(c_custkey % 5 AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS auc_f3,
          CAST(CAST(regAuc(10000, 4, c_acctbal, CAST(c_custkey % 5 AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS auc_f4,
          CAST(CAST(regAucV2(10000, 1, c_acctbal, CAST(c_custkey % 5 AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS auc_v2
        FROM customer
        GROUP BY c_nationkey
        ORDER BY nk""",
      Some("""
        WITH t AS (
          SELECT c_nationkey AS nk, c_custkey AS id,
                 CAST(c_acctbal AS DOUBLE) AS p,
                 CAST(c_custkey % 5 AS DOUBLE) AS l
          FROM customer),
        pairs AS (
          SELECT a.nk,
                 CASE WHEN (a.p > b.p AND a.l > b.l) OR (a.p < b.p AND a.l < b.l) THEN 1 ELSE 0 END AS conc,
                 CASE WHEN a.p = b.p AND a.l = b.l THEN 1 ELSE 0 END AS tieboth,
                 CASE WHEN a.l = b.l THEN 1 ELSE 0 END AS tielabel
          FROM t a JOIN t b ON a.nk = b.nk AND a.id < b.id),
        agg AS (
          SELECT nk,
                 SUM(conc) AS nc, SUM(tieboth) AS tb, SUM(tielabel) AS tl,
                 COUNT(*) AS tot
          FROM pairs GROUP BY nk)
        SELECT nk,
          CAST(CAST((nc + tb) * 1.0 / tot AS DECIMAL(18,6)) AS DOUBLE) AS auc_f1,
          CAST(CAST((nc + tl) * 1.0 / tot AS DECIMAL(18,6)) AS DOUBLE) AS auc_f2,
          CAST(CAST(nc * 1.0 / tot AS DECIMAL(18,6)) AS DOUBLE) AS auc_f3,
          CAST(CAST(CASE WHEN tot - tl <= 0 THEN -1.0 ELSE nc * 1.0 / (tot - tl) END AS DECIMAL(18,6)) AS DOUBLE) AS auc_f4,
          CAST(CAST((nc + tb) * 1.0 / tot AS DECIMAL(18,6)) AS DOUBLE) AS auc_v2
        FROM agg ORDER BY nk""")),

    // fastAuc: the arrival-order streaming heuristic — value is
    // order-dependent by construction (see FastAucAgg scaladoc), so the
    // stream is PINNED to one deterministic arrival order (a single
    // partition sorted by event_id = the canonical replay); the oracle
    // carries the traced values for that order (sf0.01, like the
    // selection-pinned ANN oracles). Exact single-stream behavior is
    // hand-traced in AucFamilySpec.
    QueryDef(
      "auc_fast_streaming",
      (s, dir) => {
        Tables(s, dir, "events")
          .repartition(1).sortWithinPartitions(col("event_id"))
          .createOrReplaceTempView("events_ordered")
        val out = s.sql("""
          SELECT event_type,
            fastAuc((event_id % 997) / 997.0,
              CASE WHEN (event_id % 997) * 3 + (event_id % 101) * 7 > 1500 THEN 1 ELSE 0 END) AS auc_stream,
            fastAuc(1, (event_id % 997) / 997.0, value) AS auc_regression
          FROM events_ordered
          GROUP BY event_type
          ORDER BY event_type""")
        out.select(col("event_type"),
          graft.Num.dq6(col("auc_stream")).as("auc_stream"),
          graft.Num.dq6(col("auc_regression")).as("auc_regression"))
      },
      // ORDER-PINNED oracle: the canonical replay's traced values
      // (deterministic — verified identical across executor counts);
      // sf0.01 ONLY, like the selection-pinned ANN oracles
      Some("""
        SELECT * FROM (VALUES
          ('click',    CAST(0.926365 AS DOUBLE), CAST(0.485786 AS DOUBLE)),
          ('error',    CAST(0.929995 AS DOUBLE), CAST(0.494287 AS DOUBLE)),
          ('purchase', CAST(0.913766 AS DOUBLE), CAST(0.498990 AS DOUBLE)),
          ('signup',   CAST(0.913951 AS DOUBLE), CAST(0.494544 AS DOUBLE)),
          ('view',     CAST(0.921875 AS DOUBLE), CAST(0.487633 AS DOUBLE)))
          AS t(event_type, auc_stream, auc_regression)
        ORDER BY event_type""")),

    // Welch's t-test: click vs purchase event values.
    QueryDef(
      "stat_welch_ttest",
      (s, dir) =>
        StatTests.welchTTest(
          Tables(s, dir, "events").filter(col("event_type").isin("click", "purchase")),
          col("value"), col("event_type") === "click"),
      Some(statOracleMoments +
        """
        SELECT n_a, n_b,
          ROUND((mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b), 6) AS t,
          ROUND((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b) /
            ((var_a / n_a) * (var_a / n_a) / (n_a - 1) +
             (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 6) AS df
        FROM m""")),

    // Student's pooled t-test on the same two samples.
    QueryDef(
      "stat_student_ttest",
      (s, dir) =>
        StatTests.studentTTest(
          Tables(s, dir, "events").filter(col("event_type").isin("click", "purchase")),
          col("value"), col("event_type") === "click"),
      Some(statOracleMoments +
        """
        SELECT n_a, n_b,
          ROUND((mean_a - mean_b) / SQRT(
            ((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2)
            * (1.0 / n_a + 1.0 / n_b)), 6) AS t
        FROM m""")),

    // Mann–Whitney U via the distributed mid-rank histogram.
    QueryDef(
      "stat_mann_whitney",
      (s, dir) =>
        StatTests.mannWhitneyU(
          Tables(s, dir, "events").filter(col("event_type").isin("click", "purchase")),
          col("value"), col("event_type") === "click"),
      Some("""
        WITH e AS (SELECT CAST(value AS DOUBLE) AS v,
                     event_type = 'click' AS a
                   FROM events WHERE event_type IN ('click', 'purchase')),
        c AS (SELECT v, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca, COUNT(*) AS c
              FROM e GROUP BY v),
        r AS (SELECT ca, c, COALESCE(SUM(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
              FROM c),
        s AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                     CAST(SUM(c - ca) AS BIGINT) AS n_b,
                     CAST(SUM(ca * (2 * b + c + 1)) AS BIGINT) AS r2_a
              FROM r)
        SELECT n_a, n_b,
          ROUND(CAST(r2_a AS DOUBLE) / 2 - n_a * (n_a + 1) / 2, 6) AS u,
          ROUND((CAST(r2_a AS DOUBLE) / 2 - n_a * (n_a + 1) / 2 - n_a * n_b / 2.0)
            / SQRT(CAST(n_a AS DOUBLE) * n_b * (n_a + n_b + 1) / 12.0), 6) AS z
        FROM s""")),

    // ROC AUC: how well `value` ranks purchases above clicks.
    QueryDef(
      "stat_roc_auc",
      (s, dir) =>
        StatTests.rocAuc(
          Tables(s, dir, "events").filter(col("event_type").isin("click", "purchase")),
          col("value"), col("event_type") === "purchase"),
      Some("""
        WITH e AS (SELECT CAST(value AS DOUBLE) AS v,
                     event_type = 'purchase' AS a
                   FROM events WHERE event_type IN ('click', 'purchase')),
        c AS (SELECT v, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca, COUNT(*) AS c
              FROM e GROUP BY v),
        r AS (SELECT ca, c, COALESCE(SUM(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
              FROM c),
        s AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_pos,
                     CAST(SUM(c - ca) AS BIGINT) AS n_neg,
                     CAST(SUM(ca * (2 * b + c + 1)) AS BIGINT) AS r2_pos
              FROM r)
        SELECT n_pos, n_neg,
          ROUND((CAST(r2_pos AS DOUBLE) / 2 - n_pos * (n_pos + 1) / 2)
            / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc
        FROM s""")),

    // cramersV / cramersVBiasCorrected / theilsU / contingency over the
    // (lang, source) pair of the documents table — all four from the one
    // shared cross-tab pass, mirroring the reference's shared
    // CrossTabData state.
    QueryDef(
      "assoc_crosstab_stats",
      (s, dir) =>
        Association.crossTabStats(
          Tables(s, dir, "documents"), col("lang"), col("source")),
      Some("""
        WITH cells AS (
          SELECT lang AS a, source AS b, COUNT(*) AS nab
          FROM documents GROUP BY 1, 2
        ),
        marg AS (
          SELECT a, b, nab,
            SUM(nab) OVER (PARTITION BY a) AS na,
            SUM(nab) OVER (PARTITION BY b) AS nb,
            SUM(nab) OVER () AS n,
            ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS rn_a
          FROM cells
        ),
        sums AS (
          SELECT CAST(MAX(n) AS BIGINT) AS n,
            (SELECT COUNT(DISTINCT lang) FROM documents) AS card_a,
            (SELECT COUNT(DISTINCT source) FROM documents) AS card_b,
            CAST(SUM(CAST(
              (nab - na*nb/CAST(n AS DOUBLE)) * (nab - na*nb/CAST(n AS DOUBLE))
                / (na*nb/CAST(n AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS chi2,
            CAST(SUM(CAST(CASE WHEN rn_a = 1
              THEN (na/CAST(n AS DOUBLE)) * LN(na/CAST(n AS DOUBLE))
              ELSE 0.0 END AS DECIMAL(28,12))) AS DOUBLE) AS ha,
            CAST(SUM(CAST(
              (nab/CAST(n AS DOUBLE)) * LN(nab/CAST(nb AS DOUBLE))
              AS DECIMAL(28,12))) AS DOUBLE) AS dep
          FROM marg
        )
        SELECT n, card_a, card_b,
          printf('%.4f', CAST(CAST(ROUND(chi2 / n, 4) AS DECIMAL(18,4)) AS DOUBLE)) AS phi2,
          printf('%.4f', CAST(CAST(ROUND(SQRT(chi2 / n / (LEAST(card_a, card_b) - 1)), 4) AS DECIMAL(18,4)) AS DOUBLE)) AS cramers_v,
          printf('%.4f', CAST(CAST(ROUND(SQRT(
            GREATEST(0.0, chi2 / n
              - (card_a-1.0)*(card_b-1.0)/(n-1.0))
            / (LEAST(card_a - (card_a-1.0)*(card_a-1.0)/(n-1.0),
                     card_b - (card_b-1.0)*(card_b-1.0)/(n-1.0)) - 1)),
            4) AS DECIMAL(18,4)) AS DOUBLE)) AS cramers_v_bc,
          printf('%.4f', CAST(CAST(ROUND((dep - ha) / ha, 4) AS DECIMAL(18,4)) AS DOUBLE)) AS theils_u,
          printf('%.4f', CAST(CAST(ROUND(SQRT(chi2 / n / (chi2 / n + n)), 4) AS DECIMAL(18,4)) AS DOUBLE)) AS contingency
        FROM sums""")),

    // categoricalInformationValue: three priority-class indicators
    // against the "order finished" tag (reference
    // AggregateFunctionCategoricalInformationValue.h:147 element
    // formula; N-ary flags + tag signature → one column per flag).
    QueryDef(
      "assoc_categorical_iv",
      (s, dir) =>
        Association.categoricalIV(
          Tables(s, dir, "orders"),
          Seq(
            "urgent" -> col("o_orderpriority").startsWith("1"),
            "high" -> col("o_orderpriority").startsWith("2"),
            "low" -> (col("o_orderpriority").startsWith("4") ||
              col("o_orderpriority").startsWith("5"))),
          col("o_orderstatus") === "F"),
      Some("""
        WITH f AS (
          SELECT
            o_orderpriority LIKE '1%' AS c_urgent,
            o_orderpriority LIKE '2%' AS c_high,
            (o_orderpriority LIKE '4%' OR o_orderpriority LIKE '5%') AS c_low,
            o_orderstatus = 'F' AS tag
          FROM orders
        ),
        s AS (
          SELECT
            SUM(CASE WHEN c_urgent AND NOT tag THEN 1 ELSE 0 END) AS no_urgent,
            SUM(CASE WHEN c_urgent AND tag THEN 1 ELSE 0 END) AS yes_urgent,
            SUM(CASE WHEN c_high AND NOT tag THEN 1 ELSE 0 END) AS no_high,
            SUM(CASE WHEN c_high AND tag THEN 1 ELSE 0 END) AS yes_high,
            SUM(CASE WHEN c_low AND NOT tag THEN 1 ELSE 0 END) AS no_low,
            SUM(CASE WHEN c_low AND tag THEN 1 ELSE 0 END) AS yes_low,
            SUM(CASE WHEN NOT tag THEN 1 ELSE 0 END) AS sum_no,
            SUM(CASE WHEN tag THEN 1 ELSE 0 END) AS sum_yes
          FROM f
        )
        SELECT
          ROUND((no_urgent/CAST(sum_no AS DOUBLE) - yes_urgent/CAST(sum_yes AS DOUBLE))
            * (LN(no_urgent/CAST(sum_no AS DOUBLE)) - LN(yes_urgent/CAST(sum_yes AS DOUBLE))), 6) AS iv_urgent,
          ROUND((no_high/CAST(sum_no AS DOUBLE) - yes_high/CAST(sum_yes AS DOUBLE))
            * (LN(no_high/CAST(sum_no AS DOUBLE)) - LN(yes_high/CAST(sum_yes AS DOUBLE))), 6) AS iv_high,
          ROUND((no_low/CAST(sum_no AS DOUBLE) - yes_low/CAST(sum_yes AS DOUBLE))
            * (LN(no_low/CAST(sum_no AS DOUBLE)) - LN(yes_low/CAST(sum_yes AS DOUBLE))), 6) AS iv_low
        FROM s""")),

    // meanZTest with known population variances (statistic only, like
    // the repo's t-tests).
    QueryDef(
      "stat_mean_ztest",
      (s, dir) =>
        StatTests.meanZTest(
          Tables(s, dir, "events").filter(col("event_type").isin("click", "purchase")),
          col("value"), col("event_type") === "click", 900.0, 870.0),
      Some("""
        WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS v,
                     event_type = 'click' AS a
                   FROM events WHERE event_type IN ('click', 'purchase')),
        m0 AS (SELECT
            CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
            CAST(SUM(CAST(CASE WHEN a THEN v ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS sx_a,
            CAST(SUM(CAST(CASE WHEN a THEN 0 ELSE v END AS DECIMAL(18,6))) AS DOUBLE) AS sx_b
          FROM e)
        SELECT n_a, n_b,
          ROUND((sx_a / n_a - sx_b / n_b) / SQRT(900.0 / n_a + 870.0 / n_b), 6) AS z
        FROM m0""")),

    // ndcg (reference AggregateFunctionNdcg.h:100): entries grouped by
    // rank_id; DCG pairs pred-descending relevance with the i-th
    // SMALLEST rank as discount position, IDCG pairs each relevance with
    // its own rank; result is the mean of dcg/idcg over rank_ids. The
    // position alignment is two row_number windows joined on position —
    // no per-group collect.
    QueryDef(
      "ndcg_ranking",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("event_type").as("grp"),
            (col("user_id") % 3).as("rank_id"),
            (col("event_id") % 10).as("rank"),
            col("value").as("pred"),
            (col("event_id") % 4).as("label"))
        val rel = (pow(lit(2.0), col("label") + 1) - 1).cast("double")
        val byPred = Window.partitionBy(col("grp"), col("rank_id"))
          .orderBy(col("pred").desc, col("rank"), col("label"))
        val byRank = Window.partitionBy(col("grp"), col("rank_id"))
          .orderBy(col("rank"), col("pred"), col("label"))
        val predSide = e.select(col("grp"), col("rank_id"),
          rel.as("rel"), col("rank"),
          row_number().over(byPred).as("pos"))
        val rankSide = e.select(col("grp"), col("rank_id"), col("rank"),
          row_number().over(byRank).as("pos"))
        import graft.Num._
        val joined = predSide.alias("p")
          .join(rankSide.alias("r"), Seq("grp", "rank_id", "pos"))
          .groupBy(col("grp"), col("rank_id"))
          .agg(
            dsum6(col("p.rel") / log2(col("p.rank") + 2)).as("idcg"),
            dsum6(col("p.rel") / log2(col("r.rank") + 2)).as("dcg"))
        joined.groupBy(col("grp"))
          .agg(graft.Num.dq6(davg6(col("dcg") / col("idcg"))).as("ndcg"))
          .orderBy(col("grp"))
      },
      Some("""
        WITH e AS (
          SELECT event_type AS grp, user_id % 3 AS rank_id,
            event_id % 10 AS rank, value AS pred,
            CAST((1::BIGINT << (event_id % 4 + 1)) - 1 AS DOUBLE) AS rel
          FROM events
        ),
        p AS (SELECT grp, rank_id, rel, rank,
                ROW_NUMBER() OVER (PARTITION BY grp, rank_id
                  ORDER BY pred DESC, rank, rel) AS pos
              FROM e),
        r AS (SELECT grp, rank_id, rank,
                ROW_NUMBER() OVER (PARTITION BY grp, rank_id
                  ORDER BY rank, pred, rel) AS pos
              FROM e),
        g AS (SELECT p.grp, p.rank_id,
                CAST(SUM(CAST(p.rel / LOG2(p.rank + 2) AS DECIMAL(18,6))) AS DOUBLE) AS idcg,
                CAST(SUM(CAST(p.rel / LOG2(r.rank + 2) AS DECIMAL(18,6))) AS DOUBLE) AS dcg
              FROM p JOIN r USING (grp, rank_id, pos)
              GROUP BY p.grp, p.rank_id)
        SELECT grp,
          CAST(CAST(ROUND(CAST(SUM(CAST(dcg / idcg AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(18,6)) AS DOUBLE) AS ndcg
        FROM g GROUP BY grp ORDER BY grp""")),

    // Standalone Spearman rank correlation (reference upstream
    // AggregateFunctionRankCorrelation.h — average ranks for ties, then
    // Pearson on the ranks). Mid-ranks come from the distinct-value
    // histogram joined back (the StatTests.rankSums shape) — no per-row
    // global sort survives into the aggregate.
    QueryDef(
      "stat_rank_correlation",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("value").as("va"), (col("event_id") % 100).cast("double").as("vb"))
        def midRanks(df: org.apache.spark.sql.DataFrame, c: String, out: String) = {
          val cnt = df.groupBy(col(c)).agg(count(lit(1)).as("__c"))
          val wCum = Window.orderBy(col(c)).rowsBetween(Window.unboundedPreceding, -1)
          cnt.withColumn("__before", coalesce(sum(col("__c")).over(wCum), lit(0L)))
            .select(col(c), (col("__before") + (col("__c") + 1) / 2.0).as(out))
        }
        val ra = midRanks(e, "va", "ra")
        val rb = midRanks(e, "vb", "rb")
        e.join(ra, "va").join(rb, "vb")
          .agg(round(corr(col("ra"), col("rb")), 6).cast(graft.Num.D6).as("rho"))
      },
      Some("""
        WITH e AS (SELECT value AS va, CAST(event_id % 100 AS DOUBLE) AS vb FROM events),
        ra AS (
          SELECT va, SUM(c) OVER (ORDER BY va ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b, c
          FROM (SELECT va, COUNT(*) AS c FROM e GROUP BY va)
        ),
        rb AS (
          SELECT vb, SUM(c) OVER (ORDER BY vb ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b, c
          FROM (SELECT vb, COUNT(*) AS c FROM e GROUP BY vb)
        )
        SELECT CAST(ROUND(CORR(COALESCE(ra.b, 0) + (ra.c + 1) / 2.0,
                          COALESCE(rb.b, 0) + (rb.c + 1) / 2.0), 6) AS DECIMAL(18,6)) AS rho
        FROM e JOIN ra USING (va) JOIN rb USING (vb)""")),

    // covarSampMatrix / corrMatrix (reference
    // AggregateFunctionVarianceMatrix.h:64): all pairwise statistics of
    // N columns in ONE aggregate pass — the N(N+1)/2 upper triangle as
    // fixed-width scalar columns (no N×N array output to trip the gate).
    QueryDef(
      "stat_covar_matrix",
      (s, dir) => {
        // Price in thousands: keeps every matrix entry ≤ ~1e2 so the
        // ROUND(4) cushion dwarfs co-moment merge-order noise.
        val li = Tables(s, dir, "lineitem").select(
          col("l_quantity").as("q"), (col("l_extendedprice") / 1000).as("p"),
          col("l_discount").as("d"), col("l_tax").as("t"))
        val cols = Seq("q", "p", "d", "t")
        // + 0.0 normalizes IEEE −0.0 before the decimal round-trip; the
        // quantize-through-decimal-back-to-double makes the driver hash
        // ulp-proof while keeping a hash-stable DOUBLE output column
        // (raw DECIMAL outputs hash-fail — see graft.Num.dq).
        val covs = for {
          i <- cols.indices; j <- 0 to i
        } yield graft.Num.dq(covar_samp(col(cols(i)), col(cols(j))) + lit(0.0), 4)
          .as(s"cov_${cols(i)}${cols(j)}")
        val corrs = for {
          i <- cols.indices; j <- 0 until i
        } yield graft.Num.dq6(corr(col(cols(i)), col(cols(j))) + lit(0.0))
          .as(s"corr_${cols(i)}${cols(j)}")
        li.agg((covs ++ corrs).head, (covs ++ corrs).tail: _*)
      },
      Some("""
        SELECT
          CAST(CAST(ROUND(COVAR_SAMP(l_quantity, l_quantity), 4) + 0.0 AS DECIMAL(18,4)) AS DOUBLE) AS cov_qq,
          CAST(CAST(ROUND(COVAR_SAMP(l_extendedprice/1000.0, l_quantity), 4) + 0.0 AS DECIMAL(18,4)) AS DOUBLE) AS cov_pq,
          CAST(CAST(ROUND(COVAR_SAMP(l_extendedprice/1000.0, l_extendedprice/1000.0), 4) + 0.0 AS DECIMAL(18,4)) AS DOUBLE) AS cov_pp,
          CAST(CAST(ROUND(COVAR_SAMP(l_discount, l_quantity), 4) + 0.0 AS DECIMAL(18,4)) AS DOUBLE) AS cov_dq,
          CAST(CAST(ROUND(COVAR_SAMP(l_discount, l_extendedprice/1000.0), 4) + 0.0 AS DECIMAL(18,4)) AS DOUBLE) AS cov_dp,
          CAST(CAST(ROUND(COVAR_SAMP(l_discount, l_discount), 4) + 0.0 AS DECIMAL(18,4)) AS DOUBLE) AS cov_dd,
          CAST(CAST(ROUND(COVAR_SAMP(l_tax, l_quantity), 4) + 0.0 AS DECIMAL(18,4)) AS DOUBLE) AS cov_tq,
          CAST(CAST(ROUND(COVAR_SAMP(l_tax, l_extendedprice/1000.0), 4) + 0.0 AS DECIMAL(18,4)) AS DOUBLE) AS cov_tp,
          CAST(CAST(ROUND(COVAR_SAMP(l_tax, l_discount), 4) + 0.0 AS DECIMAL(18,4)) AS DOUBLE) AS cov_td,
          CAST(CAST(ROUND(COVAR_SAMP(l_tax, l_tax), 4) + 0.0 AS DECIMAL(18,4)) AS DOUBLE) AS cov_tt,
          CAST(CAST(ROUND(CORR(l_extendedprice/1000.0, l_quantity), 6) + 0.0 AS DECIMAL(18,6)) AS DOUBLE) AS corr_pq,
          CAST(CAST(ROUND(CORR(l_discount, l_quantity), 6) + 0.0 AS DECIMAL(18,6)) AS DOUBLE) AS corr_dq,
          CAST(CAST(ROUND(CORR(l_discount, l_extendedprice/1000.0), 6) + 0.0 AS DECIMAL(18,6)) AS DOUBLE) AS corr_dp,
          CAST(CAST(ROUND(CORR(l_tax, l_quantity), 6) + 0.0 AS DECIMAL(18,6)) AS DOUBLE) AS corr_tq,
          CAST(CAST(ROUND(CORR(l_tax, l_extendedprice/1000.0), 6) + 0.0 AS DECIMAL(18,6)) AS DOUBLE) AS corr_tp,
          CAST(CAST(ROUND(CORR(l_tax, l_discount), 6) + 0.0 AS DECIMAL(18,6)) AS DOUBLE) AS corr_td
        FROM lineitem""")),

    // stochasticLinearRegression + evalMLMethod (reference
    // AggregateFunctionMLMethod.cpp:111): per-type mini-batch SGD over a
    // synthetic linear target; mini-batch training is arrival-order-
    // dependent (in the reference too), so the gate is rows-only — the
    // exact single-stream algorithm is differentially gated in
    // StochasticRegressionSpec.
    QueryDef.sql(
      "ml_stochastic_regression",
      Seq("events"),
      """
        WITH f AS (SELECT event_type,
            (event_id % 97) / 97.0 AS x1, (user_id % 89) / 89.0 AS x2,
            2.0 * ((event_id % 97) / 97.0) - ((user_id % 89) / 89.0) + 0.5 AS y
          FROM events),
        m AS (SELECT event_type,
            stochasticLinearRegression(0.2, 0.0, 20, 'SGD', y, x1, x2) AS w,
            COUNT(*) AS n
          FROM f GROUP BY event_type)
        SELECT event_type, size(w) AS n_params, n,
          evalMLMethod(w, 0.5, 0.5) IS NOT NULL AS scored
        FROM m ORDER BY event_type""",
      // The projected columns (param arity = n_features + intercept,
      // group size, scored non-null) are all SQL-derivable even though
      // the SGD weights themselves are arrival-order-dependent — so this
      // IS a full oracle for what the query outputs; the weight math is
      // differentially gated in StochasticRegressionSpec.
      Some("""
        SELECT event_type, 3 AS n_params, COUNT(*) AS n, TRUE AS scored
        FROM events GROUP BY event_type ORDER BY event_type""")))

  /** Shared moment-sums CTE for the t-test oracles: the exact decimal
    * quantization sequence must mirror StatTests.moments step for step.
    */
  private def statOracleMoments: String = """
    WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS v,
                 event_type = 'click' AS a
               FROM events WHERE event_type IN ('click', 'purchase')),
    m0 AS (SELECT
        CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        CAST(SUM(CAST(CASE WHEN a THEN v ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS sx_a,
        CAST(SUM(CAST(CASE WHEN a THEN 0 ELSE v END AS DECIMAL(18,6))) AS DOUBLE) AS sx_b,
        CAST(SUM(CAST(CASE WHEN a THEN v * v ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS sxx_a,
        CAST(SUM(CAST(CASE WHEN a THEN 0 ELSE v * v END AS DECIMAL(18,6))) AS DOUBLE) AS sxx_b
      FROM e),
    m AS (SELECT n_a, n_b,
        sx_a / n_a AS mean_a, sx_b / n_b AS mean_b,
        (sxx_a - sx_a * sx_a / n_a) / (n_a - 1) AS var_a,
        (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) AS var_b
      FROM m0)
    """
}
