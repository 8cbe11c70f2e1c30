package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.functions.GeoFunctions
import graft.operators.LimitBy
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** ClickHouse dialect surface rebuilt as Spark rewrites and functions
  * (SURVEY §7.2): ORDER BY … WITH FILL [INTERPOLATE] (reference
  * FillingStep.h:24, src/Processors/Transforms/FillingTransform.cpp),
  * DISTINCT ON (ParserSelectQuery.cpp:131), LIMIT n BY
  * (src/QueryPlan/LimitByStep.h:23), SAMPLE, extremes, trivial count
  * (ReadStorageRowCountStep.h), the numbers() table function,
  * dictionaries (StorageDictionary; a broadcast dim join is the
  * Spark-native dictGet), Nested columns, and the scalar function
  * families (SURVEY §2.2): string, date/time formatting and rounding,
  * math, null handling, arrays, type conversions, URL
  * (src/Functions/URL/), map, IP, JSON (src/Functions/FunctionsJSON.cpp)
  * and geohash (src/Functions/GeoHash.cpp). Scalar spellings lower to
  * codegen'd expressions evaluated in-scan.
  */
object Dialect {

  import Num._

  private val D4 = org.apache.spark.sql.types.DecimalType(28, 4)

  val defs: Seq[QueryDef] = Seq(

    // ClickHouse function spellings straight through the SQL front door —
    // resolved by graft.sql.ClickHouseAliases (FunctionRegistry injection,
    // no text rewriting) onto native codegen'd Spark expressions.
    QueryDef.sql(
      "dialect_clickhouse_sql",
      Seq("events"),
      """
        SELECT toYYYYMM(ts) AS ym, event_type,
          countIf(value > 250) AS n_big,
          countIf(notEmpty(props)) AS n_with_props,
          toInt32(toDayOfMonth(min(ts))) AS first_dom,
          count(*) AS n
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2""",
      Some("""
        SELECT CAST(STRFTIME(ts, '%Y%m') AS INTEGER) AS ym, event_type,
          CAST(COUNT(CASE WHEN value > 250 THEN 1 END) AS BIGINT) AS n_big,
          CAST(COUNT(CASE WHEN LENGTH(props) > 0 THEN 1 END) AS BIGINT) AS n_with_props,
          CAST(DAY(MIN(ts)) AS INTEGER) AS first_dom,
          COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // ORDER BY ... WITH FILL: continuous day axis with zero-filled gaps.
    QueryDef(
      "orderby_with_fill",
      (s, dir) => {
        val daily = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-02-01 00:00:00")) &&
                  col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1995-04-01 00:00:00")))
          .groupBy(col("l_shipdate").as("day"))
          .agg(count(lit(1)).as("n_items"))
        val axis = daily
          .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
        axis.join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("n_items"), lit(0L)).as("n_items"))
          .orderBy(col("day"))
      },
      Some("""
        WITH daily AS (
          SELECT l_shipdate AS day, COUNT(*) AS n_items
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-02-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
          GROUP BY 1),
        axis AS (
          SELECT UNNEST(GENERATE_SERIES(
            (SELECT MIN(day) FROM daily), (SELECT MAX(day) FROM daily),
            INTERVAL 1 DAY)) AS day)
        SELECT axis.day AS day, COALESCE(n_items, 0) AS n_items
        FROM axis LEFT JOIN daily ON axis.day = daily.day
        ORDER BY day""")),

    // DISTINCT ON (first row per key by an explicit ordering).
    QueryDef(
      "distinct_on",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        Tables(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderkey").as("latest_order"),
                  col("o_orderdate").as("latest_date"))
          .orderBy(col("o_custkey"))
      },
      Some("""
        SELECT o_custkey, o_orderkey AS latest_order, o_orderdate AS latest_date
        FROM (
          SELECT o_custkey, o_orderkey, o_orderdate,
            ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders) t
        WHERE rn = 1
        ORDER BY o_custkey""")),

    // Higher-order array functions (reference src/Functions/array/, 73
    // files — arrayMap/Filter/Reduce ≡ transform/filter/aggregate).
    QueryDef(
      "array_higher_order",
      (s, dir) =>
        Tables(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sort_array(collect_list(col("o_totalprice").cast(Num.D2))).as("prices"))
          .filter(size(col("prices")) >= 8)
          .select(
            col("o_custkey"),
            size(col("prices")).as("n"),
            round(element_at(col("prices"), 1).cast("double"), 2).as("cheapest"),
            round(aggregate(col("prices"), lit(0).cast(D4),
              (acc, x) => (acc + x).cast(D4)).cast("double"), 2).as("total"),
            size(filter(col("prices"), x => x > 200000)).as("n_big"),
            round(aggregate(col("prices"), lit(0).cast(D4),
              (acc, x) => (acc + x * 2).cast(D4)).cast("double"), 2)
              .as("doubled_total"))
          .orderBy(col("o_custkey")),
      Some("""
        WITH t AS (
          SELECT o_custkey, LIST(CAST(o_totalprice AS DECIMAL(18,2)) ORDER BY o_totalprice) AS prices
          FROM orders GROUP BY o_custkey)
        SELECT o_custkey, LEN(prices) AS n,
          ROUND(CAST(prices[1] AS DOUBLE), 2) AS cheapest,
          ROUND(CAST(LIST_SUM(prices) AS DOUBLE), 2) AS total,
          LEN(LIST_FILTER(prices, x -> x > 200000)) AS n_big,
          ROUND(CAST(LIST_SUM(LIST_TRANSFORM(prices, x -> x * 2)) AS DOUBLE), 2) AS doubled_total
        FROM t
        WHERE LEN(prices) >= 8
        ORDER BY o_custkey""")),

    // String-function family (substr/concat/replace/trim/pad/case/split).
    QueryDef(
      "string_functions",
      (s, dir) =>
        Tables(s, dir, "part")
          .select(
            col("p_partkey"),
            upper(substring(col("p_name"), 1, 3)).as("pref"),
            length(col("p_name")).as("name_len"),
            concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
            lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
            replace(col("p_type"), lit(" "), lit("_")).as("type_u"),
            split(col("p_name"), " ").getItem(0).as("first_word"),
            reverse(col("p_brand")).as("brand_rev"))
          .orderBy(col("p_partkey"))
          .limit(200),
      Some("""
        SELECT p_partkey,
          UPPER(SUBSTRING(p_name, 1, 3)) AS pref,
          LENGTH(p_name) AS name_len,
          CONCAT_WS('|', p_brand, p_type) AS brand_type,
          LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
          REPLACE(p_type, ' ', '_') AS type_u,
          STRING_SPLIT(p_name, ' ')[1] AS first_word,
          REVERSE(p_brand) AS brand_rev
        FROM part
        ORDER BY p_partkey
        LIMIT 200""")),

    // Date/time function family (extract/trunc/diff/add/format).
    QueryDef(
      "date_functions",
      (s, dir) =>
        Tables(s, dir, "orders")
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).as("y"),
            quarter(col("o_orderdate")).as("q"),
            month(col("o_orderdate")).as("m"),
            dayofmonth(col("o_orderdate")).as("d"),
            dayofweek(col("o_orderdate")).as("dow"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso_day"),
            (col("o_orderdate") + expr("interval 90 days")).as("due_date"),
            datediff(lit(java.sql.Date.valueOf("2002-01-01")), col("o_orderdate")).as("days_to_2002"))
          .orderBy(col("o_orderkey"))
          .limit(500),
      Some("""
        SELECT o_orderkey,
          CAST(YEAR(o_orderdate) AS INTEGER) AS y,
          CAST(QUARTER(o_orderdate) AS INTEGER) AS q,
          CAST(MONTH(o_orderdate) AS INTEGER) AS m,
          CAST(DAY(o_orderdate) AS INTEGER) AS d,
          CAST(DAYOFWEEK(o_orderdate) + 1 AS INTEGER) AS dow,
          STRFTIME(o_orderdate, '%Y-%m-%d') AS iso_day,
          o_orderdate + INTERVAL 90 DAY AS due_date,
          CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER)
            AS days_to_2002
        FROM orders
        ORDER BY o_orderkey
        LIMIT 500""")),

    // Math scalar family (rounded to dodge libm last-ulp differences).
    QueryDef(
      "math_functions",
      (s, dir) =>
        Tables(s, dir, "supplier")
          .select(
            col("s_suppkey"),
            round(abs(col("s_acctbal")), 2).as("abs_bal"),
            ceil(col("s_acctbal")).as("ceil_bal"),
            floor(col("s_acctbal")).as("floor_bal"),
            signum(col("s_acctbal")).as("sign_bal"),
            round(sqrt(abs(col("s_acctbal"))), 6).as("sqrt_bal"),
            round(pow(col("s_suppkey").cast("double"), 2.0), 1).as("key_sq"),
            round(log(col("s_suppkey").cast("double") + 1.0), 6).as("ln_key"),
            pmod(col("s_suppkey"), lit(7)).as("key_mod7"))
          .orderBy(col("s_suppkey")),
      Some("""
        SELECT s_suppkey,
          ROUND(ABS(s_acctbal), 2) AS abs_bal,
          CAST(CEIL(s_acctbal) AS BIGINT) AS ceil_bal,
          CAST(FLOOR(s_acctbal) AS BIGINT) AS floor_bal,
          CAST(SIGN(s_acctbal) AS DOUBLE) AS sign_bal,
          ROUND(SQRT(ABS(s_acctbal)), 6) AS sqrt_bal,
          ROUND(POW(CAST(s_suppkey AS DOUBLE), 2.0), 1) AS key_sq,
          ROUND(LN(CAST(s_suppkey AS DOUBLE) + 1.0), 6) AS ln_key,
          s_suppkey % 7 AS key_mod7
        FROM supplier
        ORDER BY s_suppkey""")),

    // NULL semantics: nullif/coalesce/null-safe equality over derived nulls.
    QueryDef(
      "null_handling",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .withColumn("d", nullif(col("l_discount"), lit(0.0)))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
               count(col("d")).as("n_nonnull_disc"),
               sum(when(col("d").isNull, 1L).otherwise(0L)).as("n_zero_disc"),
               Num.dsum2(coalesce(col("d"), lit(0.0))).as("sum_disc"),
               count(when(col("d") <=> lit(0.05), 1)).as("n_exact_5pct"))
          .orderBy(col("l_returnflag")),
      Some("""
        SELECT l_returnflag, COUNT(*) AS n_rows,
          COUNT(NULLIF(l_discount, 0.0)) AS n_nonnull_disc,
          CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_disc,
          CAST(SUM(CAST(COALESCE(NULLIF(l_discount, 0.0), 0.0) AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_disc,
          COUNT(CASE WHEN NULLIF(l_discount, 0.0) IS NOT DISTINCT FROM 0.05 THEN 1 END)
            AS n_exact_5pct
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // Metadata-only count (trivial-count optimization surface).
    QueryDef(
      "trivial_count",
      (s, dir) =>
        Tables(s, dir, "lineitem").agg(count(lit(1)).as("n_rows")),
      Some("SELECT COUNT(*) AS n_rows FROM lineitem")),

    // SAMPLE k: statistical sampling — fraction differs per engine run
    // seed; the seed-42 count is golden-vector pinned below.
    QueryDef(
      "sample_fraction",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .sample(withReplacement = false, fraction = 0.1, seed = 42)
          .agg(count(lit(1)).as("n_sampled"),
               countDistinct(col("l_orderkey")).as("n_orders")),
      // GOLDEN VECTOR oracle: Bernoulli sample at seed 42 is
      // deterministic for a fixed scan partitioning (verified stable
      // across local[4]/local[8]); bounds are additionally asserted in
      // unit tests, and sample_by_hash carries the exact-oracle
      // deterministic-sampling semantics. sf0.01 ONLY.
      Some("""
        SELECT CAST(5971 AS BIGINT) AS n_sampled,
               CAST(4899 AS BIGINT) AS n_orders""")),

    // Deterministic SAMPLE — the reference's actual semantics: ClickHouse
    // SAMPLE hashes the declared sampling key and keeps rows below
    // fraction × max, so the same query returns the SAME sample on every
    // run and every replica (StorageMergeTree sampling_expression;
    // reference src/Storages/MergeTree/MergeTreeDataSelectExecutor.cpp:455).
    // Re-expressed with an overflow-safe multiplicative hash both engines
    // evaluate identically as plain integer SQL (no engine-specific hash
    // builtin, no 64-bit wraparound: operands stay < 2^63 in both), which
    // upgrades the check from rows-only to an exact oracle. Scale: a pure
    // per-row predicate on the scan — no shuffle, fully parallel.
    QueryDef.sql(
      "sample_by_hash",
      Seq("lineitem"),
      """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE ((l_orderkey % 1000000007) * 2654435761 + l_linenumber * 40503)
              % 1048576 < 104858"""),

    // ORDER BY ... WITH FILL INTERPOLATE: daily grid over January, gaps
    // linearly interpolated between the surrounding known points (edge
    // gaps take the nearest known value).
    QueryDef(
      "orderby_fill_interpolate",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          .filter(col("event_type") === "error" && col("value") > 485)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(dsum2(col("value")).as("s"))
        val axis = s.sql(
          "SELECT explode(sequence(TIMESTAMP '2024-01-01 00:00:00', " +
            "TIMESTAMP '2024-01-30 00:00:00', interval 1 day)) AS day")
        val wPrev = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
        val wNext = Window.orderBy(col("day")).rowsBetween(0, Window.unboundedFollowing)
        axis.join(daily, Seq("day"), "left")
          .withColumn("ps", last(col("s"), ignoreNulls = true).over(wPrev))
          .withColumn("pd", last(when(col("s").isNotNull, col("day")), ignoreNulls = true).over(wPrev))
          .withColumn("ns", first(col("s"), ignoreNulls = true).over(wNext))
          .withColumn("nd", first(when(col("s").isNotNull, col("day")), ignoreNulls = true).over(wNext))
          .select(col("day"),
            when(col("s").isNotNull, col("s"))
              .when(col("ps").isNull, col("ns"))
              .when(col("ns").isNull, col("ps"))
              .otherwise(col("ps") + (col("ns") - col("ps")) *
                ((Tables.tsUs(col("day")) - Tables.tsUs(col("pd"))).cast(DoubleType) /
                  (Tables.tsUs(col("nd")) - Tables.tsUs(col("pd"))).cast(DoubleType)))
              .as("filled"))
          .orderBy(col("day"))
      },
      Some("""
        WITH daily AS (
          SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s
          FROM events WHERE event_type = 'error' AND value > 485
          GROUP BY 1),
        axis AS (SELECT UNNEST(GENERATE_SERIES(
            TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS day),
        j AS (SELECT axis.day AS day, s FROM axis LEFT JOIN daily ON axis.day = daily.day),
        f AS (SELECT day, s,
                LAST_VALUE(s IGNORE NULLS) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
                LAST_VALUE(CASE WHEN s IS NOT NULL THEN day END IGNORE NULLS) OVER (
                  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
                FIRST_VALUE(s IGNORE NULLS) OVER (ORDER BY day
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ns,
                FIRST_VALUE(CASE WHEN s IS NOT NULL THEN day END IGNORE NULLS) OVER (
                  ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
              FROM j)
        SELECT day,
          CASE WHEN s IS NOT NULL THEN s
               WHEN ps IS NULL THEN ns
               WHEN ns IS NULL THEN ps
               ELSE ps + (ns - ps) * ((EPOCH_US(day) - EPOCH_US(pd))
                 / CAST(EPOCH_US(nd) - EPOCH_US(pd) AS DOUBLE))
          END AS filled
        FROM f
        ORDER BY day""")),

    // Map-type operations: per-user event_type→count map built with
    // map_from_entries, probed with element_at / map_contains_key /
    // map_keys (reference src/Functions/map.cpp family).
    QueryDef(
      "map_functions",
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("user_id"))
          .agg(map_from_entries(sort_array(collect_list(struct(col("event_type"), col("n")))))
            .as("m"))
          .select(col("user_id"),
            size(col("m")).as("n_types"),
            coalesce(element_at(col("m"), "click"), lit(0L)).as("click_n"),
            map_contains_key(col("m"), "error").as("has_error"),
            array_join(map_keys(col("m")), ",").as("type_list"))
          .orderBy(col("user_id")),
      Some("""
        WITH c AS (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2)
        SELECT user_id,
          CAST(COUNT(*) AS INTEGER) AS n_types,
          CAST(COALESCE(MAX(CASE WHEN event_type = 'click' THEN n END), 0) AS BIGINT)
            AS click_n,
          BOOL_OR(event_type = 'error') AS has_error,
          STRING_AGG(event_type, ',' ORDER BY event_type) AS type_list
        FROM c
        GROUP BY user_id
        ORDER BY user_id""")),

    // IPv4 string↔number conversions (reference src/Functions/
    // FunctionsCoding.cpp IPv4NumToString/IPv4StringToNum family) via
    // split + integer arithmetic with a roundtrip check.
    QueryDef(
      "ip_functions",
      (s, dir) =>
        Tables(s, dir, "events")
          .select(col("user_id")).distinct()
          .withColumn("ip", concat_ws(".", lit(10), pmod(col("user_id"), lit(256)),
            pmod(col("user_id") * 7, lit(256)), pmod(col("user_id") * 13, lit(256))))
          .withColumn("o", split(col("ip"), "\\."))
          .withColumn("ip_num",
            element_at(col("o"), 1).cast("long") * 16777216L +
              element_at(col("o"), 2).cast("long") * 65536L +
              element_at(col("o"), 3).cast("long") * 256L +
              element_at(col("o"), 4).cast("long"))
          .withColumn("rt", concat_ws(".",
            expr("(ip_num div 16777216) % 256"), expr("(ip_num div 65536) % 256"),
            expr("(ip_num div 256) % 256"), expr("ip_num % 256")))
          .select(col("user_id"), col("ip"), col("ip_num"),
                  (col("rt") === col("ip")).as("roundtrip_ok"))
          .orderBy(col("user_id")),
      Some("""
        WITH d AS (SELECT DISTINCT user_id FROM events),
        i AS (SELECT user_id,
                '10.' || CAST(user_id % 256 AS VARCHAR) || '.' ||
                  CAST((user_id * 7) % 256 AS VARCHAR) || '.' ||
                  CAST((user_id * 13) % 256 AS VARCHAR) AS ip
              FROM d),
        n AS (SELECT user_id, ip,
                CAST(SPLIT_PART(ip, '.', 1) AS BIGINT) * 16777216 +
                CAST(SPLIT_PART(ip, '.', 2) AS BIGINT) * 65536 +
                CAST(SPLIT_PART(ip, '.', 3) AS BIGINT) * 256 +
                CAST(SPLIT_PART(ip, '.', 4) AS BIGINT) AS ip_num
              FROM i)
        SELECT user_id, ip, ip_num,
          (CAST((ip_num // 16777216) % 256 AS VARCHAR) || '.' ||
            CAST((ip_num // 65536) % 256 AS VARCHAR) || '.' ||
            CAST((ip_num // 256) % 256 AS VARCHAR) || '.' ||
            CAST(ip_num % 256 AS VARCHAR)) = ip AS roundtrip_ok
        FROM n
        ORDER BY user_id""")),

    // Nested(...) ≡ array<struct<...>> (SURVEY §1.2): per-order item
    // arrays built with collect_list(struct(...)), then filtered/probed
    // with higher-order functions. Scalar outputs so the oracle can
    // compute the same facts flat.
    QueryDef(
      "nested_struct_ops",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_list(struct(col("l_linenumber").as("ln"),
            col("l_quantity").as("qty")))).as("items"))
          .select(col("l_orderkey"),
            size(col("items")).as("n_items"),
            size(expr("filter(items, x -> x.qty > 40)")).as("n_heavy"),
            expr("exists(items, x -> x.ln = 1)").as("has_line1"),
            expr("CAST(aggregate(items, CAST(0.0 AS DECIMAL(18,2)), (acc, x) -> " +
              "CAST(acc + CAST(x.qty AS DECIMAL(18,2)) AS DECIMAL(18,2))) AS DOUBLE)")
              .as("sum_qty"))
          .groupBy(col("has_line1"))
          .agg(count(lit(1)).as("n_orders"),
               sum(col("n_items")).as("total_items"),
               sum(col("n_heavy")).as("total_heavy"),
               sum(col("sum_qty").cast(Num.D2)).cast("double").as("total_qty"))
          .orderBy(col("has_line1")),
      Some("""
        WITH per_order AS (
          SELECT l_orderkey, COUNT(*) AS n_items,
            CAST(COUNT(CASE WHEN l_quantity > 40 THEN 1 END) AS INTEGER) AS n_heavy,
            BOOL_OR(l_linenumber = 1) AS has_line1,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          FROM lineitem GROUP BY l_orderkey)
        SELECT has_line1, COUNT(*) AS n_orders,
          CAST(SUM(n_items) AS BIGINT) AS total_items,
          CAST(SUM(n_heavy) AS BIGINT) AS total_heavy,
          CAST(SUM(CAST(sum_qty AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM per_order
        GROUP BY has_line1
        ORDER BY has_line1""")),

    // JSON property extraction from the props column.
    QueryDef(
      "json_extract_props",
      (s, dir) =>
        Tables(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy((col("k") % 10).as("k_mod"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
          .orderBy(col("k_mod")),
      Some("""
        SELECT (CAST(props->>'$.k' AS BIGINT) % 10) AS k_mod, COUNT(*) AS n,
          CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
        FROM events
        GROUP BY 1
        ORDER BY k_mod""")),

    // URL function family over synthesized URLs (host/path/query parts).
    QueryDef(
      "url_functions",
      (s, dir) =>
        Tables(s, dir, "documents")
          .withColumn("url",
            concat(lit("https://"), col("source"), lit(".example.com/docs/"),
                   col("lang"), lit("/"), col("doc_id"), lit("?fmt=txt&len="), col("n_chars")))
          .select(
            col("doc_id"),
            parse_url(col("url"), lit("HOST")).as("host"),
            parse_url(col("url"), lit("PATH")).as("path"),
            parse_url(col("url"), lit("QUERY"), lit("fmt")).as("fmt"),
            parse_url(col("url"), lit("PROTOCOL")).as("proto"))
          .orderBy(col("doc_id"))
          .limit(100),
      Some("""
        SELECT doc_id,
          CONCAT(source, '.example.com') AS host,
          CONCAT('/docs/', lang, '/', doc_id) AS path,
          'txt' AS fmt,
          'https' AS proto
        FROM documents
        ORDER BY doc_id
        LIMIT 100""")),

    // Synthetic sources (reference numbers()/generateRandom table
    // functions, registerTableFunctions.cpp:34-41): spark.range + an
    // arithmetic PRNG both engines can evaluate identically.
    QueryDef(
      "table_function_numbers",
      (s, _) =>
        s.range(0, 10000)
          .withColumn("r", pmod(col("id") * 2654435761L, lit(1000003L)))
          .groupBy((col("id") % 7).as("g"))
          .agg(count(lit(1)).as("n"), sum(col("r")).as("sum_r"),
               min(col("r")).as("min_r"), max(col("r")).as("max_r"))
          .orderBy(col("g")),
      Some("""
        SELECT (id % 7) AS g, COUNT(*) AS n,
          CAST(SUM(r) AS BIGINT) AS sum_r,
          CAST(MIN(r) AS BIGINT) AS min_r, CAST(MAX(r) AS BIGINT) AS max_r
        FROM (SELECT range AS id, (range * 2654435761) % 1000003 AS r
              FROM RANGE(0, 10000))
        GROUP BY 1
        ORDER BY g""")),

    // Geohash encode/decode over synthesized coordinates; cell counts +
    // roundtrip error bound. Rows-only: DuckDB has no geohash, and the
    // bit-interleave is impractical in portable SQL — exactness is
    // covered by unit tests against published geohash vectors.
    QueryDef(
      "geohash_cells",
      (s, dir) =>
        Tables(s, dir, "events")
          .select(col("user_id")).distinct()
          .withColumn("lat", (pmod(col("user_id") * 37, lit(17000)) / 100.0) - 85.0)
          .withColumn("lon", (pmod(col("user_id") * 91, lit(35000)) / 100.0) - 175.0)
          .withColumn("gh", GeoFunctions.geohashEncode(col("lat"), col("lon"), lit(6)))
          .withColumn("cell4", substring(col("gh"), 1, 4))
          .withColumn("dec_lat", GeoFunctions.geohashDecodeLat(col("gh")))
          .withColumn("dec_lon", GeoFunctions.geohashDecodeLon(col("gh")))
          .groupBy(col("cell4"))
          .agg(count(lit(1)).as("n_users"),
               round(max(abs(col("dec_lat") - col("lat"))), 6).as("max_lat_err"),
               round(max(abs(col("dec_lon") - col("lon"))), 6).as("max_lon_err"))
          .orderBy(col("cell4")),
      // GOLDEN VECTOR oracle (no portable SQL counterpart exists):
      // literal VALUES for the full pipeline, cross-validated by
      // GoldenVectorProvenanceSpec against an INDEPENDENT from-scratch
      // implementation of the published geohash spec replaying this
      // exact derivation over the same parquet — the pin certifies
      // published-algorithm parity, not just current behavior.
      // sf0.01 ONLY.
      Some("""
        SELECT cell4, CAST(n_users AS BIGINT) AS n_users, CAST(max_lat_err AS DOUBLE) AS max_lat_err, CAST(max_lon_err AS DOUBLE) AS max_lon_err FROM (VALUES
          ('00gs', 1, 0.001526, 0.004272),
          ('00un', 1, 0.000432, 0.004849),
          ('01hb', 1, 0.00239, 0.002983),
          ('01j6', 1, 0.001145, 0.001118),
          ('01nh', 1, 0.000813, 0.000747),
          ('01ny', 1, 0.002722, 0.002612),
          ('01r3', 1, 0.000764, 0.004478),
          ('0325', 1, 0.001194, 0.004644),
          ('032t', 1, 0.002341, 0.002778),
          ('033r', 1, 0.000383, 0.000913),
          ('03d1', 1, 0.001575, 0.000952),
          ('03de', 1, 0.00196, 0.002817),
          ('03em', 1, 2e-06, 0.004683),
          ('03ez', 1, 0.001956, 0.004438),
          ('03u9', 1, 0.00158, 0.002573),
          ('03vk', 1, 0.000378, 0.000708),
          ('03vy', 1, 0.002336, 0.001157),
          ('06n8', 1, 0.001199, 0.003022),
          ('06p4', 1, 0.000759, 0.004888),
          ('06pu', 1, 0.002717, 0.004233),
          ('0d0q', 1, 0.000818, 0.002368),
          ('0d30', 1, 0.00114, 0.000503),
          ('0d3f', 1, 0.002395, 0.001362),
          ('0d6k', 1, 0.000437, 0.003228),
          ('0d7n', 1, 0.001521, 0.005093),
          ('0de9', 1, 0.002014, 0.004028),
          ('0ds7', 1, 5.6e-05, 0.002163),
          ('0dtj', 1, 0.001902, 0.000298),
          ('0dtx', 1, 0.001633, 0.001567),
          ('0dy3', 1, 0.000325, 0.003433),
          ('0dyg', 1, 0.002283, 0.005298),
          ('0dzt', 1, 0.001252, 0.003823),
          ('0fbr', 1, 0.000706, 0.001958),
          ('0g0c', 1, 0.002664, 9.3e-05),
          ('0g1s', 1, 0.000872, 0.001772),
          ('0g4n', 1, 0.001086, 0.003638),
          ('0g6b', 1, 0.002449, 0.005483),
          ('0g76', 1, 0.000491, 0.003618),
          ('0gkh', 1, 0.001467, 0.001753),
          ('0gky', 1, 0.002068, 0.000112),
          ('0gt2', 1, 0.00011, 0.001978),
          ('0gw4', 1, 0.001848, 0.003843),
          ('0gws', 1, 0.001687, 0.005278),
          ('0gxq', 1, 0.000271, 0.003413),
          ('15b1', 1, 0.002229, 0.001548),
          ('15be', 1, 0.001306, 0.000317),
          ('15cm', 1, 0.000652, 0.002183),
          ('15cz', 1, 0.00261, 0.004048),
          ('1h49', 1, 0.000925, 0.005073),
          ('1h57', 1, 0.001033, 0.003208),
          ('1h5v', 1, 0.002502, 0.001343),
          ('1hhx', 1, 0.000544, 0.000522),
          ('1hm1', 1, 0.001414, 0.002388),
          ('1hmu', 1, 0.002122, 0.004253),
          ('1hqq', 1, 0.000164, 0.004868),
          ('1hx0', 1, 0.001794, 0.003003),
          ('1hxf', 1, 0.001741, 0.001138),
          ('1k8k', 1, 0.000217, 0.000728),
          ('1k9n', 1, 0.002175, 0.002593),
          ('1kc8', 1, 0.00136, 0.004458),
          ('1kf6', 1, 0.000598, 0.004663),
          ('1kgh', 1, 0.002556, 0.002798),
          ('1kgw', 1, 0.000979, 0.000933),
          ('1mh3', 1, 0.000979, 0.000933),
          ('1mhg', 1, 0.002556, 0.002798),
          ('1mjt', 1, 0.000598, 0.004663),
          ('1mnr', 1, 0.00136, 0.004458),
          ('1mqc', 1, 0.002175, 0.002593),
          ('1mre', 1, 0.000217, 0.000728),
          ('1t2j', 1, 0.001741, 0.001138),
          ('1t2z', 1, 0.001794, 0.003003),
          ('1t99', 1, 0.000164, 0.004868),
          ('1td5', 1, 0.002122, 0.004253),
          ('1tdy', 1, 0.001414, 0.002388),
          ('1tg2', 1, 0.000544, 0.000522),
          ('1tu4', 1, 0.002502, 0.001343),
          ('1tus', 1, 0.001033, 0.003208),
          ('1tvq', 1, 0.000925, 0.005073),
          ('1wn0', 1, 0.00261, 0.004048),
          ('1wnd', 1, 0.000652, 0.002183),
          ('1wpk', 1, 0.001306, 0.000317),
          ('1wpy', 1, 0.002229, 0.001548),
          ('1y29', 1, 0.000271, 0.003413),
          ('1y37', 1, 0.001687, 0.005278),
          ('1y3v', 1, 0.001848, 0.003843),
          ('1y6x', 1, 0.00011, 0.001978),
          ('1ye1', 1, 0.002068, 0.000112),
          ('1yeg', 1, 0.001467, 0.001753),
          ('1yst', 1, 0.000491, 0.003618),
          ('1ytp', 1, 0.002449, 0.005483),
          ('1yvc', 1, 0.001086, 0.003638),
          ('1yy7', 1, 0.000872, 0.001772),
          ('1yzn', 1, 0.002664, 9.3e-05),
          ('1zp8', 1, 0.000706, 0.001958),
          ('4p06', 1, 0.001252, 0.003823),
          ('4p1h', 1, 0.002283, 0.005298),
          ('4p1w', 1, 0.000325, 0.003433),
          ('4p62', 1, 0.001633, 0.001567),
          ('4p6f', 1, 0.001902, 0.000298),
          ('4p7s', 1, 5.6e-05, 0.002163),
          ('4pkq', 1, 0.002014, 0.004028),
          ('4psc', 1, 0.001521, 0.005093),
          ('4pte', 1, 0.000437, 0.003228),
          ('4pwj', 1, 0.002395, 0.001362),
          ('4pwz', 1, 0.00114, 0.000503),
          ('4pz9', 1, 0.000818, 0.002368),
          ('4rb5', 1, 0.002717, 0.004233),
          ('4rbv', 1, 0.000759, 0.004888),
          ('4rcr', 1, 0.001199, 0.003022),
          ('6241', 1, 0.002336, 0.001157),
          ('624e', 1, 0.000378, 0.000708),
          ('625q', 1, 0.00158, 0.002573),
          ('62k0', 1, 0.001956, 0.004438),
          ('62kd', 1, 2e-06, 0.004683),
          ('62mk', 1, 0.00196, 0.002817),
          ('62my', 1, 0.001575, 0.000952),
          ('62w8', 1, 0.000383, 0.000913),
          ('62x6', 1, 0.002341, 0.002778),
          ('62xu', 1, 0.001194, 0.004644),
          ('688w', 1, 0.000764, 0.004478),
          ('68c1', 1, 0.002722, 0.002612),
          ('68cg', 1, 0.000813, 0.000747),
          ('68ft', 1, 0.001145, 0.001118),
          ('68gp', 1, 0.00239, 0.002983),
          ('695c', 1, 0.000432, 0.004849),
          ('69h7', 1, 0.001526, 0.004272),
          ('69jj', 1, 0.002009, 0.002407),
          ('69jx', 1, 5.1e-05, 0.000542),
          ('69q3', 1, 0.001907, 0.001323),
          ('69r5', 1, 0.001628, 0.003188),
          ('69rw', 1, 0.00033, 0.005054),
          ('6c82', 1, 0.002288, 0.004067),
          ('6c8f', 1, 0.001248, 0.002202),
          ('6c9s', 1, 0.00071, 0.000337),
          ('6cdq', 1, 0.002668, 0.001528),
          ('6cfb', 1, 0.000867, 0.003394),
          ('6cgd', 1, 0.001091, 0.005259),
          ('6cuh', 1, 0.002444, 0.003862),
          ('6cuy', 1, 0.000486, 0.001997),
          ('6fj9', 1, 0.001472, 0.000132),
          ('6fn5', 1, 0.002063, 0.001733),
          ('6fnv', 1, 0.000105, 0.003599),
          ('6fpr', 1, 0.001853, 0.005464),
          ('7421', 1, 0.001682, 0.003657),
          ('742e', 1, 0.000276, 0.001792),
          ('743m', 1, 0.002234, 7.3e-05),
          ('746p', 1, 0.001301, 0.001938),
          ('74d9', 1, 0.000657, 0.003804),
          ('74e7', 1, 0.002615, 0.005317),
          ('74ey', 1, 0.00092, 0.003452)) AS t(cell4, n_users, max_lat_err, max_lon_err) ORDER BY 1""")),

    // LIMIT 2 BY o_orderstatus (ClickHouse daily idiom): first 2 orders
    // per status by price. The LimitBy operator's row_number collapses to
    // WindowGroupLimit — per-partition top-n before the exchange.
    QueryDef(
      "limit_by",
      (s, dir) =>
        LimitBy.limitBy(Tables(s, dir, "orders"), 2,
            by = Seq(col("o_orderstatus")),
            order = Seq(col("o_totalprice").desc, col("o_orderkey")))
          .select(col("o_orderstatus").as("st"), col("o_orderkey"),
            col("o_totalprice").cast(D2).cast("double").as("price"))
          .orderBy(col("st"), col("o_orderkey")),
      Some("""
        SELECT o_orderstatus AS st, o_orderkey,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) t
        WHERE rn <= 2
        ORDER BY st, o_orderkey""")),

    // Dictionary lookup: nation/region as broadcast dictionaries keyed by
    // their surrogate keys — the dictGet('dict', 'attr', key) analogue.
    // Both dims broadcast (asserted for dims generally in PlanSpec), so
    // the lookup costs zero shuffles on the fact side.
    QueryDef(
      "dict_lookup",
      (s, dir) => {
        val nation = Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        val region = Tables(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))
        Tables(s, dir, "customer")
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"), dsum2(col("c_acctbal")).as("sum_acctbal"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""
        SELECT r_name, n_name, COUNT(*) AS n_customers,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name""")),

    // minMap / maxMap (Map-combinator family next to sumMap): per-user
    // map of event_type → min/max value, probed as scalar columns so the
    // harness hash-checks entries. Raw doubles — min/max need no
    // quantization.
    QueryDef(
      "map_minmax_values",
      (s, dir) => {
        val mn = graft.aggregates.MinMap()
        val mx = graft.aggregates.MaxMap()
        Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(mn(col("event_type"), col("value")).as("mnm"),
               mx(col("event_type"), col("value")).as("mxm"))
          .select(col("user_id"),
                  size(map_keys(col("mnm"))).as("n_types"),
                  element_at(col("mnm"), "click").as("min_click"),
                  element_at(col("mxm"), "click").as("max_click"),
                  element_at(col("mnm"), "purchase").as("min_purchase"),
                  element_at(col("mxm"), "purchase").as("max_purchase"))
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id,
          CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_types,
          MIN(CASE WHEN event_type = 'click' THEN value END) AS min_click,
          MAX(CASE WHEN event_type = 'click' THEN value END) AS max_click,
          MIN(CASE WHEN event_type = 'purchase' THEN value END) AS min_purchase,
          MAX(CASE WHEN event_type = 'purchase' THEN value END) AS max_purchase
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    // formatDateTime: the C-strftime specifier table translated into
    // Spark DateTimeFormatter patterns at plan time, including quoted
    // literal text ('day', 'of') and composite specifiers (%F, %T).
    QueryDef.sql(
      "format_datetime_dialect",
      Seq("events"),
      """
        SELECT event_type,
          min(formatDateTime(ts, '%F')) AS first_day,
          max(formatDateTime(ts, '%Y/%m')) AS last_ym,
          countDistinct(formatDateTime(ts, '%b %Y')) AS n_months,
          min(formatDateTime(ts, 'day %j of %Y, %T')) AS first_stamp,
          max(formatDateTime(ts, '%I %p')) AS max_ampm
        FROM events
        GROUP BY event_type
        ORDER BY event_type""",
      Some("""
        SELECT event_type,
          MIN(STRFTIME(ts, '%Y-%m-%d')) AS first_day,
          MAX(STRFTIME(ts, '%Y/%m')) AS last_ym,
          COUNT(DISTINCT STRFTIME(ts, '%b %Y')) AS n_months,
          MIN(STRFTIME(ts, 'day %j of %Y, %H:%M:%S')) AS first_stamp,
          MAX(STRFTIME(ts, '%I %p')) AS max_ampm
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // Time-rounding family + relative-epoch counters + dateName: all
    // floor onto the epoch grid, so the DuckDB oracle is integer
    // division of EPOCH_US. Codegen'd scalar math — no UDFs.
    QueryDef.sql(
      "time_rounding_dialect",
      Seq("events"),
      """
        SELECT event_type,
          countDistinct(toStartOfFiveMinutes(ts)) AS n5m,
          countDistinct(toStartOfFifteenMinutes(ts)) AS n15m,
          countDistinct(timeSlot(ts)) AS n30m,
          countDistinct(toStartOfInterval(ts, INTERVAL 6 HOUR)) AS n6h,
          countDistinct(toStartOfInterval(ts, INTERVAL 3 MONTH)) AS nq,
          min(toStartOfInterval(ts, INTERVAL 5 MONTH)) AS grid5m,
          max(toRelativeDayNum(ts)) AS max_day,
          min(toRelativeHourNum(ts)) AS min_hour,
          min(dateName('month', ts)) AS first_month_name,
          max(dateName('weekday', ts)) AS max_weekday
        FROM events
        GROUP BY event_type
        ORDER BY event_type""",
      Some("""
        SELECT event_type,
          COUNT(DISTINCT EPOCH_US(ts) // 300000000) AS n5m,
          COUNT(DISTINCT EPOCH_US(ts) // 900000000) AS n15m,
          COUNT(DISTINCT EPOCH_US(ts) // 1800000000) AS n30m,
          COUNT(DISTINCT EPOCH_US(ts) // 21600000000) AS n6h,
          COUNT(DISTINCT DATE_TRUNC('quarter', ts)) AS nq,
          MIN(CAST(MAKE_DATE(
            CAST(1970 + ((((YEAR(ts)-1970)*12 + MONTH(ts)-1)
              - (((YEAR(ts)-1970)*12 + MONTH(ts)-1) % 5)) // 12) AS INTEGER),
            CAST(((((YEAR(ts)-1970)*12 + MONTH(ts)-1)
              - (((YEAR(ts)-1970)*12 + MONTH(ts)-1) % 5)) % 12) + 1 AS INTEGER),
            1) AS TIMESTAMP)) AS grid5m,
          CAST(MAX(EPOCH_US(ts) // 86400000000) AS BIGINT) AS max_day,
          CAST(MIN(EPOCH_US(ts) // 3600000000) AS BIGINT) AS min_hour,
          MIN(MONTHNAME(ts)) AS first_month_name,
          MAX(DAYNAME(ts)) AS max_weekday
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // Scalar long-tail spellings: arithmetic/bit, trim/pad, date-part and
    // add/subtract-unit families, all through the dialect registry (full
    // codegen — no UDFs).
    QueryDef.sql(
      "scalar_longtail",
      Seq("nation"),
      """
        SELECT n_nationkey AS k,
          intDiv(n_nationkey, 4) AS idiv,
          moduloOrZero(n_nationkey, 7) AS modz,
          bitShiftLeft(1, modulo(n_nationkey, 8)) AS shl,
          bitTest(n_nationkey, 2) AS btest,
          leftPad(n_name, 20, '.') AS padded,
          trimBoth(concatWithSeparator('', '  ', n_name, ' ')) AS trimmed,
          toQuarter(addDays(DATE '2024-01-01', n_nationkey * 11)) AS q,
          toDayOfYear(addDays(DATE '2024-01-01', n_nationkey * 11)) AS doy,
          toLastDayOfMonth(addDays(DATE '2024-01-01', n_nationkey * 11)) AS lday,
          addMonths(addDays(DATE '2024-01-01', n_nationkey * 11), 3) AS addm,
          addHours(TIMESTAMP '2024-01-01 00:00:00', n_nationkey) AS addh,
          subtractMinutes(TIMESTAMP '2024-01-01 00:00:00', multiply(n_nationkey, 5)) AS subm,
          isFinite(divide(1, n_nationkey)) AS fin,
          ifNotFinite(divide(1, n_nationkey), -1.0) AS finval
        FROM nation
        ORDER BY k""",
      Some("""
        SELECT n_nationkey AS k,
          n_nationkey // 4 AS idiv,
          CASE WHEN n_nationkey % 7 = 0 THEN 0 ELSE n_nationkey % 7 END AS modz,
          (1::BIGINT << (n_nationkey % 8)) AS shl,
          ((n_nationkey >> 2) & 1) AS btest,
          lpad(n_name, 20, '.') AS padded,
          trim('  ' || n_name || ' ') AS trimmed,
          quarter(DATE '2024-01-01' + to_days(n_nationkey * 11)) AS q,
          dayofyear(DATE '2024-01-01' + to_days(n_nationkey * 11)) AS doy,
          last_day(DATE '2024-01-01' + to_days(n_nationkey * 11)) AS lday,
          CAST((DATE '2024-01-01' + to_days(n_nationkey * 11)) + INTERVAL 3 MONTH AS DATE) AS addm,
          TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (n_nationkey) HOUR AS addh,
          TIMESTAMP '2024-01-01 00:00:00' - INTERVAL (n_nationkey * 5) MINUTE AS subm,
          (n_nationkey <> 0) AS fin,
          CASE WHEN n_nationkey = 0 THEN -1.0 ELSE 1.0 / n_nationkey END AS finval
        FROM nation
        ORDER BY k""")),

    // Decimal-typed conversion family (reference FunctionsConversion.h:
    // 2008): exact-decimal arithmetic parity — the discounted-revenue
    // product runs entirely in DecimalType on both engines, so the
    // values (not just their roundings) are identical. Only the FINAL
    // projection casts back to DOUBLE (raw decimal output columns are
    // not representation-hash-stable across engines — graft.Num.dq).
    QueryDef.sql(
      "scalar_decimal_casts",
      Seq("lineitem"),
      """
        SELECT l_returnflag,
          CAST(CAST(SUM(toDecimal64(l_extendedprice, 2)
            * (toDecimal32('1.00', 2) - toDecimal32(l_discount, 2))) AS DECIMAL(18,4)) AS DOUBLE) AS disc_revenue,
          CAST(CAST(SUM(toDecimal64OrZero(CAST(l_quantity AS STRING), 2)) AS DECIMAL(18,2)) AS DOUBLE) AS qty_sum,
          CAST(CAST(SUM(toDecimal64OrNull(CAST(l_tax AS STRING), 2)) AS DECIMAL(18,2)) AS DOUBLE) AS tax_sum,
          CAST(CAST(MAX(toDecimal128(l_extendedprice, 4)) AS DECIMAL(18,4)) AS DOUBLE) AS max_price
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""",
      Some("""
        SELECT l_returnflag,
          CAST(CAST(SUM(CAST(trunc(l_extendedprice * 100) / 100 AS DECIMAL(18,2))
            * (CAST('1.00' AS DECIMAL(9,2)) - CAST(trunc(l_discount * 100) / 100 AS DECIMAL(9,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS disc_revenue,
          CAST(CAST(SUM(COALESCE(TRY_CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,2)), 0)) AS DECIMAL(18,2)) AS DOUBLE) AS qty_sum,
          CAST(CAST(SUM(TRY_CAST(CAST(l_tax AS VARCHAR) AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS tax_sum,
          CAST(CAST(MAX(CAST(trunc(l_extendedprice * 10000) / 10000 AS DECIMAL(38,4))) AS DECIMAL(18,4)) AS DOUBLE) AS max_price
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // firstSignificantSubdomain over synthesized URLs covering the
    // generic-second-level (com.tr), www, scheme-less, and single-label
    // shapes — every variant must recover the embedded nation label.
    QueryDef.sql(
      "url_first_significant_subdomain",
      Seq("nation"),
      """
        SELECT n_nationkey AS k,
          firstSignificantSubdomain(
            CASE CAST(n_nationkey % 4 AS INT)
              WHEN 0 THEN 'https://news.' || replace(lower(n_name), ' ', '-') || '.com.tr/story?id=1'
              WHEN 1 THEN 'http://www.' || replace(lower(n_name), ' ', '-') || '.org/x'
              WHEN 2 THEN replace(lower(n_name), ' ', '-') || '.io'
              ELSE 'https://' || replace(lower(n_name), ' ', '-')
            END) AS fsd,
          firstSignificantSubdomain('https://a.b.co.uk/p') AS fixed_couk
        FROM nation ORDER BY k""",
      Some("""
        SELECT n_nationkey AS k,
          replace(lower(n_name), ' ', '-') AS fsd,
          'b' AS fixed_couk
        FROM nation ORDER BY k""")),

    // formatReadableTimeDelta across the unit ladder (seconds through
    // years); the oracle re-derives the reference's format (365-day
    // years, 30.5-day months, ", " separators with a final " and ").
    QueryDef.sql(
      "scalar_readable_timedelta",
      Seq("nation"),
      """
        SELECT n_nationkey AS k,
          formatReadableTimeDelta(n_nationkey * 3671) AS delta_small,
          formatReadableTimeDelta(n_nationkey * 2000003) AS delta_big
        FROM nation ORDER BY k""",
      Some("""
        WITH base AS (
          SELECT n_nationkey AS k, 1 AS which, n_nationkey * 3671 AS v FROM nation
          UNION ALL
          SELECT n_nationkey, 2, n_nationkey * 2000003 FROM nation),
        parts AS (
          SELECT k, which,
            list_filter([
              CASE WHEN v//31536000 > 0 THEN CAST(v//31536000 AS VARCHAR) || ' year' || (CASE WHEN v//31536000 = 1 THEN '' ELSE 's' END) END,
              CASE WHEN (v%31536000)//2635200 > 0 THEN CAST((v%31536000)//2635200 AS VARCHAR) || ' month' || (CASE WHEN (v%31536000)//2635200 = 1 THEN '' ELSE 's' END) END,
              CASE WHEN ((v%31536000)%2635200)//86400 > 0 THEN CAST(((v%31536000)%2635200)//86400 AS VARCHAR) || ' day' || (CASE WHEN ((v%31536000)%2635200)//86400 = 1 THEN '' ELSE 's' END) END,
              CASE WHEN (((v%31536000)%2635200)%86400)//3600 > 0 THEN CAST((((v%31536000)%2635200)%86400)//3600 AS VARCHAR) || ' hour' || (CASE WHEN (((v%31536000)%2635200)%86400)//3600 = 1 THEN '' ELSE 's' END) END,
              CASE WHEN ((((v%31536000)%2635200)%86400)%3600)//60 > 0 THEN CAST(((((v%31536000)%2635200)%86400)%3600)//60 AS VARCHAR) || ' minute' || (CASE WHEN ((((v%31536000)%2635200)%86400)%3600)//60 = 1 THEN '' ELSE 's' END) END,
              CASE WHEN v%60 > 0 THEN CAST(v%60 AS VARCHAR) || ' second' || (CASE WHEN v%60 = 1 THEN '' ELSE 's' END) END
            ], x -> x IS NOT NULL) AS nz
          FROM base),
        fmt AS (
          SELECT k, which,
            CASE WHEN len(nz) = 0 THEN '0 seconds'
                 WHEN len(nz) = 1 THEN nz[1]
                 ELSE array_to_string(nz[1:len(nz)-1], ', ') || ' and ' || nz[len(nz)] END AS fmtd
          FROM parts)
        SELECT k,
          MAX(CASE WHEN which = 1 THEN fmtd END) AS delta_small,
          MAX(CASE WHEN which = 2 THEN fmtd END) AS delta_big
        FROM fmt GROUP BY k ORDER BY k""")),

    // mapAdd / mapSubtract (reference array/mapOp.cpp): key-union merge
    // with absent keys as 0, consumed through element_at so the gate
    // compares scalars.
    QueryDef.sql(
      "map_arithmetic",
      Seq("events"),
      """
        SELECT event_type,
          CAST(SUM(element_at(
            mapAdd(map('a', user_id % 10, 'b', CAST(1 AS BIGINT)),
                   map('b', event_id % 5, 'c', CAST(2 AS BIGINT))), 'b')) AS BIGINT) AS b_sum,
          CAST(SUM(element_at(
            mapSubtract(map('x', user_id % 7), map('x', event_id % 3)), 'x')) AS BIGINT) AS x_sum,
          CAST(SUM(element_at(
            mapAdd(map('a', user_id % 10, 'b', CAST(1 AS BIGINT)),
                   map('b', event_id % 5, 'c', CAST(2 AS BIGINT))), 'c')) AS BIGINT) AS c_sum
        FROM events GROUP BY event_type ORDER BY event_type""",
      Some("""
        SELECT event_type,
          CAST(SUM(1 + event_id % 5) AS BIGINT) AS b_sum,
          CAST(SUM(user_id % 7 - event_id % 3) AS BIGINT) AS x_sum,
          CAST(SUM(2) AS BIGINT) AS c_sum
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // URL-family completion (reference src/Functions/URL/ — every
    // function in the directory now has a spelling): authority parts,
    // path/query composition, parameter surgery and the hierarchy
    // prefixes, all over synthesized URLs the oracle reconstructs from
    // the same nation-derived parts.
    QueryDef.sql(
      "url_functions_extended",
      Seq("nation"),
      """
        WITH b AS (
          SELECT n_nationkey AS k,
            concat('https://u', n_nationkey, '@www.',
              regexp_replace(lower(n_name), '[^a-z0-9]', '-'), '.com:', 8000 + n_nationkey,
              '/a', n_nationkey, '/b?x=', n_nationkey, '&y=2#f', n_nationkey) AS url,
            regexp_replace(lower(n_name), '[^a-z0-9]', '-') AS hn
          FROM nation)
        SELECT k,
          domainWithoutWWW(url) AS dww,
          netloc(url) AS netloc_v,
          port(url) AS port_v,
          pathFull(url) AS path_full,
          queryStringAndFragment(url) AS qsf,
          basename(url) AS base,
          cutURLParameter(url, 'x') AS cut_x,
          array_join(extractURLParameterNames(url), ':') AS names_joined,
          element_at(URLPathHierarchy(url), 2) AS hier2,
          size(URLHierarchy(url)) AS hier_n
        FROM b ORDER BY k""",
      Some("""
        WITH b AS (SELECT n_nationkey AS k,
          regexp_replace(lower(n_name), '[^a-z0-9]', '-', 'g') AS hn FROM nation)
        SELECT k,
          hn || '.com' AS dww,
          'u' || k || '@www.' || hn || '.com:' || (8000 + k) AS netloc_v,
          CAST(8000 + k AS INT) AS port_v,
          '/a' || k || '/b?x=' || k || '&y=2#f' || k AS path_full,
          'x=' || k || '&y=2#f' || k AS qsf,
          'b?x=' || k || '&y=2#f' || k AS base,
          'https://u' || k || '@www.' || hn || '.com:' || (8000 + k) ||
            '/a' || k || '/b?y=2#f' || k AS cut_x,
          'x:y' AS names_joined,
          '/a' || k || '/b?' AS hier2,
          CAST(4 AS INT) AS hier_n
        FROM b ORDER BY k""")),

    // Extremes (the reference's extremes=1 two-row min/max decoration,
    // ExtremesTransform.cpp) — previously the one deliberate coverage
    // "no"; carried as a result-frame decorator with a __row_kind
    // column standing in for the wire protocol's extremes block.
    QueryDef(
      "extremes_decoration",
      (s, dir) => {
        val agg = Tables(s, dir, "nation")
          .groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_nationkey")).as("skey"))
        graft.tools.Extremes.withExtremes(agg)
          .orderBy(col("__row_kind"), col("n_regionkey"))
      },
      Some("""
        WITH a AS (
          SELECT n_regionkey, COUNT(*) AS cnt,
            CAST(SUM(n_nationkey) AS BIGINT) AS skey
          FROM nation GROUP BY 1)
        SELECT n_regionkey, cnt, skey, 'result' AS __row_kind FROM a
        UNION ALL SELECT MIN(n_regionkey), MIN(cnt), MIN(skey), 'min' FROM a
        UNION ALL SELECT MAX(n_regionkey), MAX(cnt), MAX(skey), 'max' FROM a
        ORDER BY __row_kind, n_regionkey""")),

    // Round-6 wave-7 spellings: tuple access, Monday/time-of-day date
    // shorthands, token/split families, map series fill, and an AES
    // encrypt→decrypt round-trip (the oracle sees the identity).
    QueryDef.sql(
      "scalar_wave7_misc",
      Seq("nation"),
      """
        SELECT n_nationkey AS k,
          tupleElement(tuple(n_name, n_regionkey), 1) AS t_name,
          tupleElement(tuple(n_name, n_regionkey), 2) AS t_region,
          toMonday(addDays(DATE '2024-01-01', n_nationkey * 3)) AS mon,
          toTime(addHours(TIMESTAMP '2024-01-01 00:00:00', n_nationkey * 7)) AS tod,
          array_join(alphaTokens(concat(n_name, '1', n_name)), '|') AS alpha,
          array_join(ngrams(substr(n_name, 1, 4), 2), '|') AS grams,
          array_join(splitByRegexp('[0-9]+', concat('x', CAST(n_nationkey AS STRING), 'y')), '|') AS splitre,
          positionCaseInsensitiveUTF8(n_name, 'an') AS pos_an,
          element_at(mapPopulateSeries(
            map(1, CAST(n_nationkey AS INT), CAST(n_nationkey % 3 + 2 AS INT), 9)), 2) AS mps2,
          decrypt('aes-128-ecb',
            encrypt('aes-128-ecb', n_name, '1234567890123456'),
            '1234567890123456') AS aes_roundtrip
        FROM nation ORDER BY k""",
      Some("""
        SELECT n_nationkey AS k,
          n_name AS t_name,
          n_regionkey AS t_region,
          date_trunc('week', DATE '2024-01-01' + to_days(n_nationkey * 3)) AS mon,
          TIMESTAMP '1970-01-02 00:00:00'
            + (TIMESTAMP '2024-01-01 00:00:00' + to_hours(n_nationkey * 7)
               - date_trunc('day', TIMESTAMP '2024-01-01 00:00:00' + to_hours(n_nationkey * 7))) AS tod,
          array_to_string(regexp_extract_all(concat(n_name, '1', n_name), '[a-zA-Z]+'), '|') AS alpha,
          CASE WHEN length(substr(n_name, 1, 4)) < 2 THEN ''
               ELSE array_to_string([substr(substr(n_name, 1, 4), i, 2)
                 FOR i IN range(1, length(substr(n_name, 1, 4)))], '|') END AS grams,
          array_to_string(string_split_regex(concat('x', CAST(n_nationkey AS VARCHAR), 'y'), '[0-9]+'), '|') AS splitre,
          instr(lower(n_name), 'an') AS pos_an,
          CASE WHEN n_nationkey % 3 + 2 = 2 THEN 9 ELSE 0 END AS mps2,
          n_name AS aes_roundtrip
        FROM nation ORDER BY k""")),

    // wave-11 scalar spellings: ngramDistance/ngramSearch (the oracle
    // rebuilds the 4-gram multiset metric via the closed form
    // hits = Σ min(hay(g), needle(g)); results rounded to 5 decimals to
    // absorb the reference's Float32 vs the oracle's float64 division),
    // versionCompare/appVersionCompare, bitmaskToList, addQuarters.
    // base58 has no DuckDB counterpart — round-trip + known vectors are
    // in Wave11ScalarSpec.
    QueryDef.sql(
      "scalar_similarity_versions",
      Seq("nation"),
      """
        SELECT n_name,
          CAST(CAST(CAST(ngramDistance(n_name, 'UNITED STATES') AS DOUBLE) AS DECIMAL(18,5)) AS DOUBLE) AS dist,
          CAST(CAST(CAST(ngramSearchCaseInsensitive(n_name, 'united') AS DOUBLE) AS DECIMAL(18,5)) AS DOUBLE) AS sim,
          versionCompare(concat(CAST(n_nationkey AS STRING), '.2.1'), '10.2', '>') AS vc,
          appVersionCompare('6.4', '6.4.0', '=') AS avc,
          bitmaskToList(n_nationkey) AS bml,
          addQuarters(DATE '2024-01-31', 2) AS aq,
          subtractQuarters(DATE '2024-01-31', 1) AS sq
        FROM nation ORDER BY n_name""",
      Some("""
        WITH n AS (SELECT n_nationkey, n_name FROM nation),
        hg AS (SELECT n_name, substr(n_name, CAST(i AS INT), 4) AS g, COUNT(*) AS c
               FROM n, generate_series(1, 30) AS t(i)
               WHERE i <= length(n_name) - 3 GROUP BY 1, 2),
        ng AS (SELECT substr('UNITED STATES', CAST(i AS INT), 4) AS g, COUNT(*) AS c
               FROM generate_series(1, length('UNITED STATES') - 3) AS t(i) GROUP BY 1),
        hits AS (SELECT hg.n_name, SUM(LEAST(hg.c, ng.c)) AS hits
                 FROM hg JOIN ng ON ng.g = hg.g GROUP BY 1),
        hgl AS (SELECT n_name, substr(lower(n_name), CAST(i AS INT), 4) AS g, COUNT(*) AS c
                FROM n, generate_series(1, 30) AS t(i)
                WHERE i <= length(n_name) - 3 GROUP BY 1, 2),
        ngl AS (SELECT substr('united', CAST(i AS INT), 4) AS g, COUNT(*) AS c
                FROM generate_series(1, 3) AS t(i) GROUP BY 1),
        hitsl AS (SELECT hgl.n_name, SUM(LEAST(hgl.c, ngl.c)) AS hits
                  FROM hgl JOIN ngl ON ngl.g = hgl.g GROUP BY 1),
        tot AS (SELECT nn.n_nationkey, nn.n_name,
                  COALESCE((SELECT SUM(c) FROM hg WHERE hg.n_name = nn.n_name), 0) AS h,
                  (SELECT SUM(c) FROM ng) AS s,
                  COALESCE(hits.hits, 0) AS hits,
                  (SELECT SUM(c) FROM ngl) AS sl,
                  COALESCE(hitsl.hits, 0) AS hitsl
                FROM n nn
                LEFT JOIN hits ON hits.n_name = nn.n_name
                LEFT JOIN hitsl ON hitsl.n_name = nn.n_name)
        SELECT n_name,
          CAST(CAST(CAST(s + h - 2 * hits AS DOUBLE) / GREATEST(h + s, 1) AS DECIMAL(18,5)) AS DOUBLE) AS dist,
          CAST(CAST(1.0 - CAST(sl - hitsl AS DOUBLE) / GREATEST(sl, 1) AS DECIMAL(18,5)) AS DOUBLE) AS sim,
          CASE WHEN n_nationkey > 10 THEN TRUE
               WHEN n_nationkey = 10 THEN TRUE
               ELSE FALSE END AS vc,
          FALSE AS avc,
          COALESCE((SELECT string_agg(CAST(p AS VARCHAR), ',' ORDER BY p)
                    FROM (SELECT (1 << CAST(b AS INT)) AS p
                          FROM generate_series(0, 5) t(b)
                          WHERE (n_nationkey & (1 << CAST(b AS INT))) != 0)), '') AS bml,
          DATE '2024-07-31' AS aq,
          DATE '2023-10-31' AS sq
        FROM tot ORDER BY n_name""")),

    // SQL/JSON trio (reference FunctionSQLJSON.h:772-782) over the
    // events props column: JSON_VALUE scalar extraction, JSON_EXISTS
    // 1/0, JSON_QUERY's [..]-wrapped match (extracted through the
    // variant type so JSON quoting survives).
    QueryDef.sql(
      "json_sqlpath_trio",
      Seq("events"),
      """
        SELECT JSON_VALUE(props, '$.k') AS v,
               JSON_EXISTS(props, '$.k') AS e1,
               JSON_EXISTS(props, '$.missing') AS e0,
               JSON_QUERY(props, '$.k') AS q,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2, 3, 4
        ORDER BY v, q""",
      Some("""
        SELECT CAST(json_extract(props, '$.k') AS VARCHAR) AS v,
               CASE WHEN json_extract(props, '$.k') IS NOT NULL THEN 1 ELSE 0 END AS e1,
               CASE WHEN json_extract(props, '$.missing') IS NOT NULL THEN 1 ELSE 0 END AS e0,
               '[' || CAST(json_extract(props, '$.k') AS VARCHAR) || ']' AS q,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1, 2, 3, 4
        ORDER BY v, q""")),

    // Array long-tail wave (reference src/Functions/array/): per-order
    // linenumber-sorted quantity arrays from lineitem, then arrayCount,
    // arrayFirstIndex, arrayCumSumNonNegative, arrayEnumerateDense,
    // hasSubstr, arrayUnion, arrayAUC — each rebuilt EXACTLY by the
    // oracle in plain SQL over the exploded rows:
    //   - first_big       = min row_number where q > 40 (0 when none);
    //   - clamped_last    = final value of the max(0, ·)-clamped running
    //     sum, via the suffix-sum identity s_n = max(0, max_k Σ_{i≥k} x_i)
    //     (non-associative scan made associative; integer arithmetic);
    //   - auc_u           = Mann-Whitney U / (pos·neg) on DISTINCT scores
    //     (q + position/100, position = rank in the (ln,q,p)-sorted array
    //     — the synthetic lineitem REUSES linenumbers within an order, so
    //     ln alone would tie; distinct positions make ties impossible and
    //     the unstable-sort tie divergence documented in SimilarityOps
    //     can't bite), quantized with the same double-division both sides.
    // One shuffle (groupBy l_orderkey); arrays bounded at 7 elements by
    // TPC-H, so the O(n²)-per-row scan lowerings are constant work.
    QueryDef.sql(
      "array_scan_family",
      Seq("lineitem"),
      """
        WITH g AS (
          SELECT l_orderkey,
            array_sort(collect_list(named_struct(
              'ln', l_linenumber,
              'q', CAST(l_quantity AS DOUBLE),
              'p', CAST(l_extendedprice AS DOUBLE)))) AS arr
          FROM lineitem
          GROUP BY l_orderkey
          HAVING COUNT(*) >= 5
            AND SUM(CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END) > 0
            AND SUM(CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END) < COUNT(*)),
        b AS (
          SELECT l_orderkey,
            transform(arr, s -> s.q) AS qtys,
            transform(arr, (s, i) -> s.q + (i + 1) / 100D) AS scores,
            transform(arr, s -> IF(s.p > 30000D, 1D, 0D)) AS labels
          FROM g)
        SELECT l_orderkey,
          arrayCount(x -> (x % 2D) = 0D, qtys) AS even_q,
          arrayFirstIndex(x -> x > 40D, qtys) AS first_big,
          CAST(element_at(arrayCumSumNonNegative(transform(qtys, x -> x - 25D)), -1)
            AS BIGINT) AS clamped_last,
          CAST(array_max(arrayEnumerateDense(qtys)) AS BIGINT) AS n_distinct,
          CAST(hasSubstr(qtys, array(50D)) AS INT) AS has50,
          CAST(size(arrayUnion(qtys, array(1D, 2D, 3D))) AS INT) AS union_n,
          CAST(FLOOR(arrayAUC(scores, labels) * 1000000D) AS BIGINT) AS auc_u,
          CAST(size(arraySplit(x -> x > 40D, qtys)) AS INT) AS n_seg
        FROM b
        ORDER BY l_orderkey""",
      Some("""
        WITH li AS (
          SELECT l_orderkey, l_linenumber AS ln,
            CAST(l_quantity AS DOUBLE) AS q,
            CAST(l_extendedprice AS DOUBLE) AS p,
            ROW_NUMBER() OVER (PARTITION BY l_orderkey
              ORDER BY l_linenumber, l_quantity, l_extendedprice) AS rn
          FROM lineitem),
        g AS (
          SELECT l_orderkey FROM li GROUP BY l_orderkey
          HAVING COUNT(*) >= 5
            AND SUM(CASE WHEN p > 30000 THEN 1 ELSE 0 END) > 0
            AND SUM(CASE WHEN p > 30000 THEN 1 ELSE 0 END) < COUNT(*)),
        s AS (
          SELECT li.*, q + rn / 100.0 AS score,
            CASE WHEN p > 30000 THEN 1 ELSE 0 END AS lab
          FROM li JOIN g USING (l_orderkey)),
        r AS (
          SELECT *,
            RANK() OVER (PARTITION BY l_orderkey ORDER BY score) AS r_asc,
            SUM(CAST(q AS BIGINT) - 25) OVER (PARTITION BY l_orderkey ORDER BY rn DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ssum
          FROM s)
        SELECT l_orderkey,
          CAST(SUM(CASE WHEN CAST(q AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS INT) AS even_q,
          CAST(COALESCE(MIN(CASE WHEN q > 40 THEN rn END), 0) AS INT) AS first_big,
          CAST(GREATEST(0, MAX(ssum)) AS BIGINT) AS clamped_last,
          CAST(COUNT(DISTINCT q) AS BIGINT) AS n_distinct,
          CAST(MAX(CASE WHEN q = 50 THEN 1 ELSE 0 END) AS INT) AS has50,
          CAST(COUNT(DISTINCT q) + 3
            - COUNT(DISTINCT CASE WHEN q IN (1, 2, 3) THEN q END) AS INT) AS union_n,
          CAST(FLOOR(CAST(SUM(CASE WHEN lab = 1 THEN r_asc ELSE 0 END)
                 - SUM(lab) * (SUM(lab) + 1) / 2 AS DOUBLE)
               / CAST(SUM(lab) * (COUNT(*) - SUM(lab)) AS DOUBLE)
               * 1000000) AS BIGINT) AS auc_u,
          CAST(1 + SUM(CASE WHEN q > 40 AND rn > 1 THEN 1 ELSE 0 END) AS INT) AS n_seg
        FROM r
        GROUP BY l_orderkey
        ORDER BY l_orderkey""")),

    // Typed conversion matrix + best-effort datetime parsing (reference
    // FunctionsConversion.h, parseDateTimeBestEffort): round-trip
    // strings derived from orders through toInt32OrZero/toInt64OrDefault/
    // toFloat64OrNull and two parseDateTimeBestEffort layouts (day-first
    // slash, compact), all rebuilt in DuckDB with TRY_CAST/strptime.
    // Pure projection — no shuffle beyond the ORDER BY.
    QueryDef.sql(
      "scalar_conversions",
      Seq("orders"),
      """
        SELECT o_orderkey,
          toInt32OrZero(split(o_orderpriority, '-')[0]) AS prio_n,
          toInt32OrZero(o_orderstatus) AS status_zero,
          toInt64OrDefault(o_orderstatus, -1) AS status_def,
          toFloat64OrNull(CAST(o_totalprice AS STRING)) AS price_rt,
          CAST(parseDateTimeBestEffort(
            date_format(o_orderdate, 'dd/MM/yyyy')) AS DATE) AS d_slash,
          CAST(parseDateTimeBestEffort(
            date_format(o_orderdate, 'yyyyMMdd')) AS DATE) AS d_compact
        FROM orders
        ORDER BY o_orderkey
        LIMIT 500""",
      Some("""
        SELECT o_orderkey,
          CAST(COALESCE(TRY_CAST(string_split(o_orderpriority, '-')[1] AS INTEGER), 0)
            AS INTEGER) AS prio_n,
          CAST(COALESCE(TRY_CAST(o_orderstatus AS INTEGER), 0) AS INTEGER) AS status_zero,
          CAST(COALESCE(TRY_CAST(o_orderstatus AS BIGINT), -1) AS BIGINT) AS status_def,
          TRY_CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS price_rt,
          CAST(strptime(strftime(o_orderdate, '%d/%m/%Y'), '%d/%m/%Y') AS DATE) AS d_slash,
          CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS d_compact
        FROM orders
        ORDER BY o_orderkey
        LIMIT 500""")),

    // Wave-12 long tail over orders: token-boundary search, non-alpha
    // split, day-of-year date constructor, snowflake id round-trip,
    // digit count, positive modulo, IPv4 validation — every column
    // rebuilt in DuckDB from first principles (regex boundaries, date
    // arithmetic, epoch_ms bit shifts). Pure projection.
    QueryDef.sql(
      "scalar_tokens_misc",
      Seq("orders"),
      """
        SELECT o_orderkey,
          CAST(hasToken(o_orderpriority, 'URGENT') AS INT) AS has_urgent,
          CAST(size(splitByNonAlpha(o_orderpriority)) AS INT) AS n_parts,
          makeDate(1995, CAST(o_orderkey % 365 AS INT) + 1) AS d_doy,
          snowflakeToDateTime(o_orderkey * 4194304) AS snow_ts,
          CAST(countDigits(o_orderkey) AS INT) AS n_digits,
          CAST(positiveModulo(-o_orderkey, 7) AS BIGINT) AS pm7,
          CAST(isIPv4String(concat('10.0.0.', CAST(o_orderkey % 300 AS STRING))) AS INT) AS is_ip
        FROM orders
        ORDER BY o_orderkey
        LIMIT 500""",
      Some("""
        SELECT o_orderkey,
          CAST(CASE WHEN regexp_matches(o_orderpriority,
            '(^|[^0-9A-Za-z_])URGENT([^0-9A-Za-z_]|$)') THEN 1 ELSE 0 END AS INT)
            AS has_urgent,
          CAST(len(list_filter(regexp_split_to_array(o_orderpriority,
            '[^a-zA-Z0-9]+'), x -> len(x) > 0)) AS INT) AS n_parts,
          CAST(DATE '1995-01-01' + to_days(CAST(o_orderkey % 365 AS INTEGER)) AS DATE)
            AS d_doy,
          epoch_ms(((o_orderkey * 4194304) >> 22) + 1288834974657) AS snow_ts,
          CAST(length(CAST(o_orderkey AS VARCHAR)) AS INT) AS n_digits,
          CAST((((-o_orderkey) % 7) + 7) % 7 AS BIGINT) AS pm7,
          CAST(CASE WHEN (o_orderkey % 300) <= 255 THEN 1 ELSE 0 END AS INT) AS is_ip
        FROM orders
        ORDER BY o_orderkey
        LIMIT 500""")),

    // SQL dictionary surface (reference FunctionsExternalDictionaries.h)
    // over the in-RAM registry: typed gets, nested gets, membership,
    // default fallback, and a hierarchy walk (nation→region links) —
    // DuckDB rebuilds every lookup with plain dimension joins. The fact
    // side stays join-free in Spark (scalar map lookups inside codegen).
    QueryDef(
      "dict_functions",
      (s, dir) => {
        graft.sql.Dictionaries.register("nation_d",
          Tables(s, dir, "nation"), "n_nationkey")
        graft.sql.Dictionaries.register("region_d",
          Tables(s, dir, "region"), "r_regionkey")
        // hierarchy: nation k → region k+100 (regions parent themselves,
        // which stops the walk)
        val nat = Tables(s, dir, "nation").selectExpr(
          "n_nationkey AS k", "n_regionkey + 100 AS parent")
        val reg = Tables(s, dir, "region").selectExpr(
          "r_regionkey + 100 AS k", "r_regionkey + 100 AS parent")
        graft.sql.Dictionaries.register("geo_h", nat.unionByName(reg), "k",
          parentAttr = Some("parent"))
        Tables(s, dir, "customer").createOrReplaceTempView("customer")
        s.sql("""
          SELECT c_custkey,
            dictGetString('nation_d', 'n_name', c_nationkey) AS nat_name,
            dictGetString('region_d', 'r_name',
              dictGet('nation_d', 'n_regionkey', c_nationkey)) AS reg_name,
            CAST(dictHas('nation_d', c_custkey % 50) AS INT) AS has_k,
            dictGetStringOrDefault('nation_d', 'n_name', c_custkey + 1000,
              'none') AS dflt,
            CAST(size(dictGetHierarchy('geo_h', c_nationkey)) AS INT) AS hier_len,
            CAST(dictIsIn('geo_h', c_nationkey, 100 + c_custkey % 5) AS INT) AS is_in
          FROM customer
          ORDER BY c_custkey
          LIMIT 500""")
      },
      Some("""
        SELECT c_custkey,
          n_name AS nat_name,
          r_name AS reg_name,
          CAST(CASE WHEN c_custkey % 50 <= 24 THEN 1 ELSE 0 END AS INT) AS has_k,
          'none' AS dflt,
          CAST(2 AS INT) AS hier_len,
          CAST(CASE WHEN n_regionkey = c_custkey % 5 THEN 1 ELSE 0 END AS INT)
            AS is_in
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        ORDER BY c_custkey
        LIMIT 500""")))
}
