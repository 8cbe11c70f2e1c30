package graft

import org.apache.spark.sql.Row

/** ClickHouse-dialect function aliases resolve through the session's
  * FunctionRegistry and compute the reference semantics.
  */
class DialectSpec extends SparkSpec {
  import spark.implicits._

  private def one(sql: String): Row = spark.sql(sql).collect()(0)

  test("conditional aggregate combinators (-If family)") {
    Seq((1, 10.0, true), (2, 20.0, false), (3, 30.0, true))
      .toDF("id", "v", "flag").createOrReplaceTempView("t")
    val r = one("""SELECT countIf(flag), sumIf(v, flag), avgIf(v, flag),
                   minIf(v, flag), maxIf(v, flag) FROM t""")
    assert(r.getLong(0) === 2L)
    assert(r.getDouble(1) === 40.0)
    assert(r.getDouble(2) === 20.0)
    assert(r.getDouble(3) === 10.0)
    assert(r.getDouble(4) === 30.0)
  }

  test("date helpers and conversions") {
    val r = one("""SELECT toYYYYMM(TIMESTAMP '2024-03-15 10:30:00'),
                   toStartOfDay(TIMESTAMP '2024-03-15 10:30:00'),
                   toYear(TIMESTAMP '2024-03-15 10:30:00'),
                   toInt64('42'), toFloat64('2.5')""")
    assert(r.getInt(0) === 202403)
    assert(r.getTimestamp(1).toString === "2024-03-15 00:00:00.0")
    assert(r.getInt(2) === 2024)
    assert(r.getLong(3) === 42L)
    assert(r.getDouble(4) === 2.5)
  }

  test("string and array families") {
    val r = one("""SELECT splitByChar(',', 'a,b,c'),
                   length('hello w') + 4,
                   countSubstrings('abcabcabc', 'abc'),
                   has(array(1, 2, 3), 2),
                   arraySort(array(3, 1, 2)),
                   multiIf(1 > 2, 'x', 3 > 2, 'y', 'z'),
                   empty(''), notEmpty('q')""")
    assert(r.getSeq[String](0) === Seq("a", "b", "c"))
    assert(r.getInt(1) === 11)
    assert(r.getInt(2) === 3)
    assert(r.getBoolean(3))
    assert(r.getSeq[Int](4) === Seq(1, 2, 3))
    assert(r.getString(5) === "y")
    assert(r.getBoolean(6))
    assert(r.getBoolean(7))
  }

  test("wave-2 aliases: URL family, date parts, strings, arrays, math") {
    val r = one("""SELECT domain('https://docs.example.co.uk/a/b?q=1#frag'),
                   protocol('https://docs.example.co.uk/a/b?q=1'),
                   path('https://e.com/a/b?q=1'),
                   queryString('https://e.com/a?q=1&r=2'),
                   topLevelDomain('https://docs.example.co.uk/a'),
                   extractURLParameter('https://e.com/a?q=1&r=2', 'r')""")
    assert(r.getString(0) === "docs.example.co.uk")
    assert(r.getString(1) === "https")
    assert(r.getString(2) === "/a/b")
    assert(r.getString(3) === "q=1&r=2")
    assert(r.getString(4) === "uk")
    assert(r.getString(5) === "2")

    val d = one("""SELECT toQuarter(DATE '2024-05-15'), toDayOfYear(DATE '2024-02-01'),
                   addMonths(DATE '2024-01-31', 1), subtractMonths(DATE '2024-03-31', 1),
                   addYears(DATE '2020-02-29', 1), toStartOfWeek(DATE '2024-03-15'),
                   toStartOfWeek(DATE '2024-03-15', 1),
                   toStartOfWeek(DATE '2024-03-10'),
                   extractAll('a1b22c333', '\\d+'),
                   extractAll('x=1;y=22', '([a-z])=\\d+')""")
    assert(d.getInt(0) === 2)
    assert(d.getInt(1) === 32)
    assert(d.getDate(2).toString === "2024-02-29")
    assert(d.getDate(3).toString === "2024-02-29")
    assert(d.getDate(4).toString === "2021-02-28")
    assert(d.getDate(5).toString === "2024-03-10") // mode 0: Sunday-start
    assert(d.getDate(6).toString === "2024-03-11") // mode 1: Monday-start
    assert(d.getDate(7).toString === "2024-03-10") // Sunday maps to itself
    assert(d.getSeq[String](8) === Seq("1", "22", "333")) // group-less: whole match
    assert(d.getSeq[String](9) === Seq("x", "y")) // subpattern: group 1

    val s = one("""SELECT leftPad('7', 3, '0'), rightPad('ab', 4, '.'),
                   trimBoth('  x  '), arrayStringConcat(array('a','b','c'), '-'),
                   concatWithSeparator('/', 'x', 'y'),
                   arrayUniq(array(1,1,2,3,3)), arrayPushBack(array(1,2), 3),
                   arrayPopBack(array(1,2,3)), arrayElement(array(10,20), 2),
                   exp2(10), intExp2(10), roundBankers(CAST(2.5 AS DOUBLE)),
                   roundBankers(CAST(3.5 AS DOUBLE)),
                   bitCount(255), assumeNotNull(5)""")
    assert(s.getString(0) === "007")
    assert(s.getString(1) === "ab..")
    assert(s.getString(2) === "x")
    assert(s.getString(3) === "a-b-c")
    assert(s.getString(4) === "x/y")
    assert(s.getInt(5) === 3)
    assert(s.getSeq[Int](6) === Seq(1, 2, 3))
    assert(s.getSeq[Int](7) === Seq(1, 2))
    assert(s.getInt(8) === 20)
    assert(s.getDouble(9) === 1024.0)
    assert(s.getLong(10) === 1024L)
    assert(s.getDouble(11) === 2.0) // bankers: to even
    assert(s.getDouble(12) === 4.0)
    assert(s.getInt(13) === 8)
    assert(s.getInt(14) === 5)

    Seq((1.0, 2.0), (2.0, 4.0), (3.0, 7.0)).toDF("x", "y")
      .createOrReplaceTempView("w2")
    val a = one("""SELECT covarPop(x, y), covarSamp(x, y), skewPop(x),
                   quantileApprox(0.5, x), sumCount(x) FROM w2""")
    assert(math.abs(a.getDouble(0) - 5.0 / 3.0) < 1e-9)
    assert(math.abs(a.getDouble(1) - 2.5) < 1e-9)
    assert(math.abs(a.getDouble(2)) < 1e-9)
    assert(a.getDouble(3) === 2.0)
    assert(a.getStruct(4).getDouble(0) === 6.0)
    assert(a.getStruct(4).getLong(1) === 3L)
  }

  test("array-family lambdas: sum/avg/diff/compact/zip/resize") {
    val r = one("""SELECT arraySum(array(1, 2, 3)), arrayAvg(array(2.0, 4.0)),
                   arrayMin(array(3, 1, 2)), arrayMax(array(3, 1, 2)),
                   arrayDifference(array(1, 3, 6)),
                   arrayCompact(array(1, 1, 2, 2, 1)),
                   arrayZip(array(1, 2), array('a', 'b')),
                   arrayResize(array(1, 2, 3), 2),
                   arrayResize(array(1, 2), 4, 0),
                   sipHash64('abc') = sipHash64('abc')""")
    assert(r.getDouble(0) === 6.0)
    assert(r.getDouble(1) === 3.0)
    assert(r.getInt(2) === 1)
    assert(r.getInt(3) === 3)
    assert(r.getSeq[Int](4) === Seq(0, 2, 3))
    assert(r.getSeq[Int](5) === Seq(1, 2, 1))
    assert(r.getSeq[Row](6).map(x => (x.getInt(0), x.getString(1))) === Seq((1, "a"), (2, "b")))
    assert(r.getSeq[Int](7) === Seq(1, 2))
    assert(r.getSeq[Int](8) === Seq(1, 2, 0, 0))
    assert(r.getBoolean(9))
  }

  test("-Array combinators: sum/min/max/count/avg over rows of arrays") {
    Seq(
      (1, Seq(1, 2, 3)),
      (2, Seq(10, 20)),
      (3, Seq.empty[Int]),
    ).toDF("id", "arr").createOrReplaceTempView("arr_t")
    val r = one("""SELECT sumArray(arr), minArray(arr), maxArray(arr),
                   countArray(arr), avgArray(arr) FROM arr_t""")
    assert(r.getDouble(0) === 36.0)
    assert(r.getInt(1) === 1)
    assert(r.getInt(2) === 20)
    assert(r.getLong(3) === 5L)
    assert(r.getDouble(4) === 36.0 / 5)
    // NULL arrays are skipped, like the reference's null-skip aggregates
    Seq((1, Option(Seq(5, 7))), (2, Option.empty[Seq[Int]]))
      .toDF("id", "arr").createOrReplaceTempView("arr_n")
    val rn = one("SELECT sumArray(arr), countArray(arr), avgArray(arr) FROM arr_n")
    assert(rn.getDouble(0) === 12.0)
    assert(rn.getLong(1) === 2L)
    assert(rn.getDouble(2) === 6.0)
  }

  test("bit helpers, lengthUTF8, positionCaseInsensitive, monthName") {
    val r = one("""SELECT bitShiftLeft(3, 2), bitShiftRight(12, 2),
                   bitTest(5, 0), bitTest(5, 1),
                   lengthUTF8('héllo'), positionCaseInsensitive('Hello World', 'WORLD'),
                   monthName(DATE '2024-03-15')""")
    assert(r.getInt(0) === 12)
    assert(r.getInt(1) === 3)
    assert(r.getInt(2) === 1)
    assert(r.getInt(3) === 0)
    assert(r.getInt(4) === 5)
    assert(r.getInt(5) === 7)
    assert(r.getString(6) === "March")
  }

  test("arrayCumSum prefix sums and groupArraySorted") {
    val r = one("SELECT arrayCumSum(array(1.0, 2.5, -1.0)), arrayCumSum(array())")
    assert(r.getSeq[Double](0) === Seq(1.0, 3.5, 2.5))
    assert(r.getSeq[Double](1) === Seq())
    Seq(5.0, 1.0, 3.0, 2.0, 4.0, 0.5).toDF("v").createOrReplaceTempView("gas_t")
    val g = one("SELECT groupArraySorted(3, v) FROM gas_t")
    assert(g.getSeq[Double](0) === Seq(0.5, 1.0, 2.0))
  }

  test("arrayEnumerate / arrayEnumerateUniq occurrence numbering") {
    val r = one("""SELECT arrayEnumerate(array('a', 'b', 'c')),
                   arrayEnumerate(array()),
                   arrayEnumerateUniq(array(10, 20, 10, 10, 20))""")
    assert(r.getSeq[Int](0) === Seq(1, 2, 3))
    assert(r.getSeq[Int](1) === Seq())
    assert(r.getSeq[Int](2) === Seq(1, 1, 2, 3, 2))
  }

  test("numbers() table function, arrayReduce, substringIndex, JSONArrayLength") {
    val n = spark.sql("SELECT CAST(SUM(number) AS BIGINT) AS s FROM numbers(10)")
      .collect()(0).getLong(0)
    assert(n === 45L)
    // numbers(offset, length): 8 rows starting at 5
    val n2 = spark.sql("SELECT COUNT(*) FROM numbers(5, 8)").collect()(0).getLong(0)
    assert(n2 === 8L)
    val r = one("""SELECT arrayReduce('sum', array(1, 2, 3)),
                   arrayReduce('max', array(1, 5, 3)),
                   arrayReduce('count', array(1, 2)),
                   substringIndex('a.b.c', '.', 2),
                   JSONArrayLength('[1,2,3]')""")
    assert(r.getDouble(0) === 6.0)
    assert(r.getInt(1) === 5)
    assert(r.getInt(2) === 2)
    assert(r.getString(3) === "a.b")
    assert(r.getInt(4) === 3)
  }

  test("uniq / any / argMax aggregates and arrayJoin generator") {
    Seq((1, "a"), (1, "b"), (2, "c"), (2, "c")).toDF("k", "s")
      .createOrReplaceTempView("u")
    val r = one("SELECT uniq(s), groupUniqArray(s) FROM u")
    assert(r.getLong(0) === 3L)
    assert(r.getSeq[String](1).sorted === Seq("a", "b", "c"))
    val aj = spark.sql("SELECT arrayJoin(array(1, 2, 3)) AS x").collect().map(_.getInt(0))
    assert(aj.toSeq === Seq(1, 2, 3))
    Seq((1, 5.0, "p"), (2, 9.0, "q"), (3, 7.0, "r")).toDF("id", "score", "nm")
      .createOrReplaceTempView("am")
    assert(one("SELECT argMax(nm, score) FROM am").getString(0) === "q")
  }

  test("JSON extraction aliases") {
    Seq(Tuple1("""{"k": 7, "s": "hi"}""")).toDF("j").createOrReplaceTempView("js")
    val r = one("""SELECT JSONExtractInt(j, 'k'), JSONExtractString(j, 's'),
                   JSONHas(j, 'k'), JSONHas(j, 'missing') FROM js""")
    assert(r.getLong(0) === 7L)
    assert(r.getString(1) === "hi")
    assert(r.getBoolean(2))
    assert(!r.getBoolean(3))
  }

  test("splitByChar treats regex metacharacters as literals") {
    val r = one("""SELECT splitByChar('.', '10.1.2.3'), splitByChar('|', 'a|b')""")
    assert(r.getSeq[String](0) === Seq("10", "1", "2", "3"))
    assert(r.getSeq[String](1) === Seq("a", "b"))
  }

  test("toDayOfWeek is Monday=1 (ClickHouse convention)") {
    // 2024-03-15 is a Friday; 2024-03-17 a Sunday
    val r = one("""SELECT toDayOfWeek(TIMESTAMP '2024-03-15 00:00:00'),
                   toDayOfWeek(TIMESTAMP '2024-03-17 00:00:00')""")
    assert(r.getInt(0) === 5)
    assert(r.getInt(1) === 7)
  }

  test("range is empty for n <= 0 and end-exclusive") {
    val r = one("SELECT range(0), range(3), range(2, 5), range(5, 5)")
    assert(r.getSeq[Long](0) === Seq.empty)
    assert(r.getSeq[Long](1) === Seq(0L, 1L, 2L))
    assert(r.getSeq[Long](2) === Seq(2L, 3L, 4L))
    assert(r.getSeq[Long](3) === Seq.empty)
  }

  test("math and misc") {
    val r = one("""SELECT intDiv(17, 5), modulo(17, 5), divide(1, 4),
                   mid('abcdef', 2, 3), range(3)""")
    assert(r.getLong(0) === 3L)
    assert(r.getInt(1) === 2)
    assert(r.getDouble(2) === 0.25)
    assert(r.getString(3) === "bcd")
    assert(r.getSeq[Int](4) === Seq(0, 1, 2))
  }

  test("-OrNull / -OrDefault combinators: NULL vs default on empty input") {
    Seq((1, 10), (2, 20)).toDF("k", "v").createOrReplaceTempView("oc")
    // the CASE matches nothing → every aggregate sees zero input rows
    val r = one("""SELECT
        countOrNull(CASE WHEN v > 99 THEN 1 END),
        sumOrNull(CASE WHEN v > 99 THEN v END),
        minOrNull(CASE WHEN v > 99 THEN v END),
        sumOrDefault(CASE WHEN v > 99 THEN v END),
        avgOrDefault(CASE WHEN v > 99 THEN CAST(v AS DOUBLE) END),
        countOrDefault(CASE WHEN v > 99 THEN 1 END)
      FROM oc""")
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getLong(3) === 0L)
    assert(r.getDouble(4) === 0.0)
    assert(r.getLong(5) === 0L)
    // and with matching input they equal the plain aggregates
    val r2 = one("SELECT countOrNull(v), sumOrNull(v), sumOrDefault(v) FROM oc")
    assert(r2.getLong(0) === 2L && r2.getLong(1) === 30L && r2.getLong(2) === 30L)
  }

  test("-Distinct combinators deduplicate before aggregating") {
    Seq(1, 1, 2, 2, 3).toDF("v").createOrReplaceTempView("dc")
    val r = one("""SELECT countDistinct(v), sumDistinct(v),
                   avgDistinct(CAST(v AS DOUBLE)) FROM dc""")
    assert(r.getLong(0) === 3L)
    assert(r.getLong(1) === 6L)
    assert(r.getDouble(2) === 2.0)
  }

  test("-Resample buckets the key range, empty buckets default to 0") {
    Seq((1L, 100L), (5L, 10L), (15L, 1L)).toDF("k", "x")
      .createOrReplaceTempView("rs")
    // [0,30) step 10 → buckets [0,10) [10,20) [20,30)
    val r = one("""SELECT sumResample(0, 30, 10, x, k),
                   countResample(0, 30, 10, x, k) FROM rs""")
    assert(r.getSeq[Long](0) === Seq(110L, 1L, 0L))
    assert(r.getSeq[Long](1) === Seq(2L, 1L, 0L))
    // last bucket narrower than step: [0,15) step 10 → [0,10) [10,15)
    val r2 = one("SELECT countResample(0, 15, 10, x, k) FROM rs")
    assert(r2.getSeq[Long](0) === Seq(2L, 0L))
  }

  test("anyHeavy returns the majority element") {
    Seq("a", "a", "a", "b", "c").toDF("v").createOrReplaceTempView("ah")
    assert(one("SELECT anyHeavy(v) FROM ah").getString(0) === "a")
  }

  test("formatDateTime translates strftime specifiers, quotes literals") {
    val r = one("""SELECT
        formatDateTime(TIMESTAMP '2024-03-05 09:07:02', '%F'),
        formatDateTime(TIMESTAMP '2024-03-05 09:07:02', '%T'),
        formatDateTime(TIMESTAMP '2024-03-05 09:07:02', 'day %j of %Y'),
        formatDateTime(TIMESTAMP '2024-03-05 14:07:02', '%I %p'),
        formatDateTime(TIMESTAMP '2024-03-05 09:07:02', '%d/%m/%y %H:%M'),
        formatDateTime(TIMESTAMP '2024-03-05 09:07:02', '100%%')""")
    assert(r.getString(0) === "2024-03-05")
    assert(r.getString(1) === "09:07:02")
    assert(r.getString(2) === "day 065 of 2024")
    assert(r.getString(3) === "02 PM")
    assert(r.getString(4) === "05/03/24 09:07")
    assert(r.getString(5) === "100%")
    // the r8 ChDateFormat engine covers the full reference table
    // (%V ISO week, %C century, %e space-padded day, %r 12h clock)
    val r2 = one("""SELECT
        formatDateTime(TIMESTAMP '2024-03-05 09:07:02', '%V %C %e'),
        formatDateTime(TIMESTAMP '2024-03-05 14:07:02', '%r')""")
    assert(r2.getString(0) === "10 20  5")
    assert(r2.getString(1) === "02:07 PM")
    // unsupported specifiers fail loudly, not silently
    intercept[Exception] {
      spark.sql("SELECT formatDateTime(TIMESTAMP '2024-03-05 09:07:02', '%z')").collect()
    }
  }

  test("time rounding family floors onto the epoch grid") {
    val r = one("""SELECT
        toStartOfFiveMinutes(TIMESTAMP '2024-03-05 09:07:42'),
        toStartOfFifteenMinutes(TIMESTAMP '2024-03-05 09:17:42'),
        timeSlot(TIMESTAMP '2024-03-05 09:44:59'),
        toStartOfInterval(TIMESTAMP '2024-03-05 09:07:42', INTERVAL 2 HOUR),
        toStartOfInterval(TIMESTAMP '2024-05-15 09:07:42', INTERVAL 3 MONTH),
        dateName('month', TIMESTAMP '2024-03-05 09:07:42'),
        dateName('weekday', TIMESTAMP '2024-03-05 09:07:42'),
        dateName('day', TIMESTAMP '2024-03-05 09:07:42')""")
    assert(r.getTimestamp(0).toString === "2024-03-05 09:05:00.0")
    assert(r.getTimestamp(1).toString === "2024-03-05 09:15:00.0")
    assert(r.getTimestamp(2).toString === "2024-03-05 09:30:00.0")
    assert(r.getTimestamp(3).toString === "2024-03-05 08:00:00.0")
    assert(r.getTimestamp(4).toString === "2024-04-01 00:00:00.0")
    assert(r.getString(5) === "March")
    assert(r.getString(6) === "Tuesday")
    assert(r.getString(7) === "5")
  }

  test("toStartOfInterval snaps arbitrary month counts to the epoch-month grid") {
    val r = one("""SELECT
        toStartOfInterval(TIMESTAMP '2024-05-15 09:07:42', INTERVAL 2 MONTH),
        toStartOfInterval(TIMESTAMP '2024-05-15 09:07:42', INTERVAL 5 MONTH),
        toStartOfInterval(TIMESTAMP '2024-05-15 09:07:42', INTERVAL 7 MONTH),
        toStartOfInterval(TIMESTAMP '1970-01-31 00:00:01', INTERVAL 5 MONTH),
        toStartOfInterval(TIMESTAMP '2024-01-01 00:00:00', INTERVAL 6 MONTH)""")
    // Months since epoch for 2024-05 = 652; 652-652%2=652 → 2024-05-01;
    // %5 → 650 → 2024-03-01; %7 → 651 → 2024-04-01.
    assert(r.getTimestamp(0).toString === "2024-05-01 00:00:00.0")
    assert(r.getTimestamp(1).toString === "2024-03-01 00:00:00.0")
    assert(r.getTimestamp(2).toString === "2024-04-01 00:00:00.0")
    assert(r.getTimestamp(3).toString === "1970-01-01 00:00:00.0")
    assert(r.getTimestamp(4).toString === "2024-01-01 00:00:00.0")
  }

  test("-OrderBy combinator: sorted feed for order-sensitive aggregates") {
    val r = one("""
      SELECT groupArrayOrderBy(v, k) AS arr,
             anyOrderBy(v, k) AS first_v,
             anyLastOrderBy(v, k) AS last_v
      FROM VALUES (3, 'c'), (1, 'a'), (2, 'b'), (1, 'a0') AS t(k, v)""")
    // Sorted by (k, v): k=1 ties break on the value.
    assert(r.getSeq[String](0) === Seq("a", "a0", "b", "c"))
    assert(r.getString(1) === "a")
    assert(r.getString(2) === "c")
  }

  test("time-rounding floor is a true floor for pre-1970 timestamps") {
    val r = one("""SELECT
        toStartOfFiveMinutes(TIMESTAMP '1969-12-31 23:58:00'),
        timeSlot(TIMESTAMP '1969-12-31 23:44:59')""")
    assert(r.getTimestamp(0).toString === "1969-12-31 23:55:00.0")
    assert(r.getTimestamp(1).toString === "1969-12-31 23:30:00.0")
  }

  test("formatReadableSize uses binary prefixes with two decimals") {
    val r = one("""SELECT formatReadableSize(123), formatReadableSize(1368),
                   formatReadableSize(5242880), formatReadableSize(3221225472)""")
    assert(r.getString(0) === "123.00 B")
    assert(r.getString(1) === "1.34 KiB")
    assert(r.getString(2) === "5.00 MiB")
    assert(r.getString(3) === "3.00 GiB")
  }

  test("groupBit aggregates and relative epoch counters") {
    Seq(6L, 12L, 14L).toDF("v").createOrReplaceTempView("gb")
    val r = one("SELECT groupBitAnd(v), groupBitOr(v), groupBitXor(v) FROM gb")
    assert(r.getLong(0) === (6L & 12L & 14L))
    assert(r.getLong(1) === (6L | 12L | 14L))
    assert(r.getLong(2) === (6L ^ 12L ^ 14L))
    val t = one("""SELECT toRelativeDayNum(TIMESTAMP '1970-01-03 01:00:00'),
                   toRelativeHourNum(TIMESTAMP '1970-01-01 05:30:00')""")
    assert(t.getLong(0) === 2L)
    assert(t.getLong(1) === 5L)
  }

  test("wave4 misc aggregates: avgWeighted, sumCount, singleValueOrNull, groupConcat") {
    Seq((1, 10.0, "a"), (1, 20.0, "b"), (2, 30.0, "c")).toDF("k", "v", "s")
      .createOrReplaceTempView("w4")
    val r = one("""SELECT avgWeighted(v, k) AS aw, sumCount(v) AS sc,
                   singleValueOrNull(k < 0) AS sv1, singleValueOrNull(k) AS svn,
                   groupConcat(s) AS gc1, groupConcat('-', s) AS gc2
                   FROM w4""")
    // (10·1 + 20·1 + 30·2) / (1+1+2) = 90/4
    assert(r.getDouble(0) === 22.5)
    assert(r.getStruct(1).getDouble(0) === 60.0)
    assert(r.getStruct(1).getLong(1) === 3L)
    assert(r.getBoolean(2) === false) // single distinct value → that value
    assert(r.isNullAt(3)) // three distinct values → NULL
    assert(r.getString(4).split(",").sorted.mkString(",") === "a,b,c")
    assert(r.getString(5).split("-").sorted.mkString("-") === "a-b-c")
  }

  test("wave4 exponentialMovingAverage closed form") {
    // Two points one halflife apart: EMA = (v0·0.5 + v1)/(0.5 + 1).
    Seq((0.0, 0.0), (30.0, 1.0)).toDF("v", "t").createOrReplaceTempView("ema")
    val r = one("SELECT exponentialMovingAverage(1.0, v, t) FROM ema")
    assert(math.abs(r.getDouble(0) - 30.0 / 1.5) < 1e-12)
  }

  test("wave4 simpleState spellings lower to the plain aggregate") {
    Seq(3, 1, 2).toDF("v").createOrReplaceTempView("ss")
    val r = one("""SELECT sumSimpleState(v), minSimpleState(v), maxSimpleState(v),
                   anySimpleState(v), anyLastSimpleState(v) FROM ss""")
    assert(r.getLong(0) === 6L)
    assert(r.getInt(1) === 1)
    assert(r.getInt(2) === 3)
    assert(Set(1, 2, 3).contains(r.getInt(3)))
    assert(Set(1, 2, 3).contains(r.getInt(4)))
  }

  test("no alias shadows a Spark builtin (collision guard)") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    // Shadowing a builtin rewires EVERY query in the session (the
    // registry is case-insensitive). The round-5 `transform` incident:
    // the ClickHouse literal-table transform silently replaced Spark's
    // higher-order array transform and broke 8 unrelated queries.
    // Allowlist = deliberate, documented overrides only. monthName:
    // Spark 4.1's builtin monthname() abbreviates ("Jan"); the dialect
    // deliberately keeps ClickHouse's full name ("January") — asserted
    // by the monthName test above.
    // hex: pads integer output to whole bytes ("0A" not "A") — CH/MySQL
    // byte semantics, unchanged for string/binary input. unhex: returns
    // STRING (CH) instead of binary — every Spark use round-trips
    // through an implicit cast anyway. substr/substring: identical for
    // size >= 0; a NEGATIVE size gains CH's "to the end minus |size|"
    // meaning where Spark returned ''. All three verified superset-safe
    // in ChTranspilerSpec.
    // date_format: 2-arg identical to the builtin; 3-arg (timezone) is
    // new. now: 0-arg identical; 1-arg (timezone) new. FROM_UNIXTIME:
    // deliberately takes CH's %-specifier table instead of Spark's Java
    // patterns (no internal query uses the builtin — grep-checked).
    // if: accepts CH's numeric conditions (0 = false) on top of the
    // builtin's boolean-only signature — boolean behavior unchanged.
    // NOTE: Spark 4's functions.* route through the registry by name
    // (Column.fn), so an override reaches DataFrame-API callers too —
    // every allowlisted name below is either a strict superset of the
    // builtin or (FROM_UNIXTIME) grep-checked unused internally.
    // xxHash64 is deliberately NOT aliased: the engine's MinHash/LSH
    // pipelines depend on Spark's seed-42 xxhash64.
    val allowed = Set[String]("monthName", "hex", "unhex", "substr",
      "substring", "date_format", "now", "FROM_UNIXTIME", "if")
    val collisions = GraftExtensions.functions.map(_._1.funcName)
      .filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n.toLowerCase)))
      .filterNot(allowed)
    assert(collisions.isEmpty,
      s"injected functions shadow Spark builtins: $collisions")
  }

  test("wave5: rounding buckets, transform, trailing char, unicode bar") {
    // NOTE: ClickHouse transform(x, from, to, default) is NOT aliased —
    // the name collides with Spark's builtin higher-order transform
    // (per the header's collision rule); CASE WHEN covers the semantics.
    val r = one("""SELECT roundAge(16), roundAge(30), roundAge(60), roundAge(0),
                   roundDuration(250), roundDuration(40000), roundDuration(0),
                   roundToExp2(100), roundToExp2(1), roundToExp2(0.5),
                   appendTrailingCharIfAbsent('foo', '/'),
                   appendTrailingCharIfAbsent('foo/', '/')""")
    assert(Seq(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) === Seq(17, 25, 55, 0))
    assert(Seq(r.getInt(4), r.getInt(5), r.getInt(6)) === Seq(240, 36000, 0))
    assert(Seq(r.getLong(7), r.getLong(8), r.getLong(9)) === Seq(64L, 1L, 0L))
    assert(r.getString(10) === "foo/" && r.getString(11) === "foo/")
    val b = one("""SELECT bar(5, 0, 10, 10), bar(1, 0, 16, 8), bar(0, 0, 10, 10),
                   bar(99, 0, 10, 10)""")
    assert(b.getString(0) === "█████")
    assert(b.getString(1) === "▌")
    assert(b.getString(2) === "")
    assert(b.getString(3) === "██████████")
  }

  test("URL cut/decode family and JSON bool/raw extraction") {
    val r = one("""SELECT
        decodeURLComponent('a%20b%2Fc'),
        encodeURLComponent('a b/c'),
        cutQueryString('https://x.io/p?a=1&b=2#f'),
        cutFragment('https://x.io/p?a=1#frag'),
        cutQueryStringAndFragment('https://x.io/p?a=1#frag'),
        cutWWW('https://www.example.com/p'),
        cutWWW('www.example.com/p'),
        JSONExtractBool('{"on": true}', 'on'),
        JSONExtractRaw('{"a": {"b": [1, 2]}}', 'a')""")
    assert(r.getString(0) === "a b/c")
    // plus_as_space=false in the reference: space → %20, never '+'
    assert(r.getString(1).toLowerCase === "a%20b%2fc")
    assert(r.getString(2) === "https://x.io/p")
    assert(r.getString(3) === "https://x.io/p?a=1")
    assert(r.getString(4) === "https://x.io/p")
    assert(r.getString(5) === "https://example.com/p")
    assert(r.getString(6) === "example.com/p")
    assert(r.getBoolean(7) === true)
    assert(r.getString(8) === """{"b":[1,2]}""")
    // '+' round-trip: the plain spellings preserve '+' (RFC 3986), the
    // Form spellings do the application/x-www-form-urlencoded '+'↔space
    val p = one("""SELECT
        decodeURLComponent('a+b%20c'),
        decodeURLFormComponent('a+b%20c'),
        encodeURLComponent('a+b c*~'),
        encodeURLFormComponent('a b')""")
    assert(p.getString(0) === "a+b c")
    assert(p.getString(1) === "a b c")
    assert(p.getString(2).toLowerCase === "a%2bb%20c%2a~")
    assert(p.getString(3) === "a+b")
  }

  test("lambda-first higher-order spellings and has-family") {
    val r = one("""SELECT
        arrayMap(x -> x * 2, array(1, 2, 3)),
        arrayFilter(x -> x % 2 = 0, array(1, 2, 3, 4)),
        arrayExists(x -> x > 3, array(1, 2)),
        arrayAll(x -> x > 0, array(1, 2)),
        hasAll(array(1, 2, 3), array(1, 3)),
        hasAll(array(1, 2), array(1, 9)),
        hasAny(array(1, 2), array(2, 9)),
        arrayPushFront(array(2, 3), 1),
        arrayPopFront(array(1, 2, 3)),
        arrayPopFront(array(1))""")
    assert(r.getSeq[Int](0) === Seq(2, 4, 6))
    assert(r.getSeq[Int](1) === Seq(2, 4))
    assert(!r.getBoolean(2) && r.getBoolean(3))
    assert(r.getBoolean(4) && !r.getBoolean(5) && r.getBoolean(6))
    assert(r.getSeq[Int](7) === Seq(1, 2, 3))
    assert(r.getSeq[Int](8) === Seq(2, 3))
    assert(r.getSeq[Int](9) === Seq())
  }

  test("vector distance family and misc long tail") {
    val r = one("""SELECT
        dotProduct(array(1.0, 2.0, 3.0), array(4.0, 5.0, 6.0)),
        L1Distance(array(1, 2), array(4, 6)),
        L2Distance(array(1, 2), array(4, 6)),
        L2SquaredDistance(array(1, 2), array(4, 6)),
        LinfDistance(array(1, 2), array(4, 6)),
        L2Norm(array(3, 4)),
        cosineDistance(array(1.0, 0.0), array(0.0, 1.0)),
        cosineDistance(array(1.0, 2.0), array(2.0, 4.0))""")
    assert(r.getDouble(0) === 32.0)
    assert(r.getDouble(1) === 7.0)
    assert(r.getDouble(2) === 5.0)
    assert(r.getDouble(3) === 25.0)
    assert(r.getDouble(4) === 4.0)
    assert(r.getDouble(5) === 5.0)
    assert(r.getDouble(6) === 1.0)
    assert(math.abs(r.getDouble(7)) < 1e-12)
    val m = one("""SELECT arrayProduct(array(2, 3, 4)),
        arrayWithConstant(3, 'ab'), countEqual(array(1, 2, 1, 3), 1),
        bitHammingDistance(10, 12), bitRotateLeft(1, 63), bitRotateRight(1, 1),
        exp10(3), ROUND(cot(pi() / 4), 10),
        base64Encode('ping'), base64Decode('cGluZw=='),
        countMatches('a1b22c333', '[0-9]+'),
        fromModifiedJulianDay(60000), toModifiedJulianDay(DATE '2023-02-25'),
        formatReadableQuantity(1234567.0)""")
    assert(m.getDouble(0) === 24.0)
    assert(m.getSeq[String](1) === Seq("ab", "ab", "ab"))
    assert(m.getInt(2) === 2)
    assert(m.getInt(3) === 2) // 1010 xor 1100 = 0110
    assert(m.getLong(4) === Long.MinValue)
    assert(m.getLong(5) === Long.MinValue)
    assert(m.getDouble(6) === 1000.0)
    assert(m.getDouble(7) === 1.0)
    assert(m.getString(8) === "cGluZw==")
    assert(m.getString(9) === "ping")
    assert(m.getInt(10) === 3)
    assert(m.getDate(11).toString === "2023-02-25")
    assert(m.getInt(12) === 60000)
    assert(m.getString(13) === "1.23 million")
  }

  test("greatCircleDistance, toYYYYMMDDhhmmss, UTF8 spellings, timeSlots") {
    val r = one("""SELECT
        greatCircleDistance(0.0, 0.0, 0.0, 1.0),
        greatCircleDistance(37.62, 55.75, -122.42, 37.77),
        toYYYYMMDDhhmmss(TIMESTAMP '2024-03-05 06:07:08'),
        substringUTF8('приве́т', 2, 3),
        positionUTF8('приве́т', 'и'),
        timeSlots(TIMESTAMP '2024-01-01 00:10:00', 3600, 1800)""")
    // one degree of latitude on the reference sphere ≈ 111.195 km;
    // Float32 result like the reference's implementation
    assert(math.abs(r.getFloat(0) - 6371007.180918475 * math.Pi / 180) < 1e-1)
    // Moscow → San Francisco ≈ 9 450 km on the reference sphere
    assert(math.abs(r.getFloat(1) - 9.45e6) < 5e4)
    assert(r.getLong(2) === 20240305060708L)
    assert(r.getString(3) === "рив")
    assert(r.getInt(4) === 3)
    val slots = r.getSeq[java.sql.Timestamp](5).map(_.toString)
    assert(slots === Seq("2024-01-01 00:00:00.0", "2024-01-01 00:30:00.0",
      "2024-01-01 01:00:00.0"))
  }

  test("uniqTheta and quantileInterpolatedWeighted spellings") {
    (1 to 1000).map(i => (i % 37, i % 5 + 1)).toDF("v", "w")
      .createOrReplaceTempView("qt")
    val r = one("""SELECT uniqTheta(v), quantileInterpolatedWeighted(0.5, v, w) FROM qt""")
    assert(r.getDouble(0) === 37.0) // exact below lgK capacity
    // weighted median of 0..36 with weights (i%5+1): sanity bounds
    val med = r.getDouble(1)
    assert(med > 10 && med < 30)
    // hand-computed weighted-percentile check (the reference's
    // (cum − 0.5·w)/Σw method, QuantileInterpolatedWeighted.h): values
    // {1,2} weights {3,1} → positions {0.375, 0.875}; p=0.5 interpolates
    // to 1 + (0.5−0.375)/(0.875−0.375) = 1.25 (repeat-expansion
    // Percentile would give 1.0 — the methods genuinely differ).
    Seq((1.0, 3L), (1.0, 0L), (2.0, 1L)).toDF("x", "w")
      .createOrReplaceTempView("qiw")
    val h = one("""SELECT
        quantileInterpolatedWeighted(0.5, x, w),
        quantileInterpolatedWeighted(0.0, x, w),
        quantileInterpolatedWeighted(1.0, x, w) FROM qiw""")
    assert(h.getDouble(0) === 1.25)
    assert(h.getDouble(1) === 1.0) // below x_0 clamps to smallest value
    assert(h.getDouble(2) === 2.0) // above x_last clamps to largest
    // quantileBFloat16: discrete ceil-threshold over the truncated
    // histogram — median of {1,2,3,4} at weight 1 each is 2 (cum 2 ≥
    // ⌈0.5·4⌉); the truncation drops float32 mantissa bits below 8
    // (3.14159 → 3.140625).
    Seq(1.0, 2.0, 3.0, 4.0).toDF("x").createOrReplaceTempView("qbf")
    val bf = one("""SELECT quantileBFloat16(0.5, x),
                    quantileBFloat16Weighted(0.5, x, 1),
                    quantileBFloat16(0.5, x + 2.14159) FROM qbf""")
    assert(bf.getDouble(0) === 2.0)
    assert(bf.getDouble(1) === 2.0)
    assert(bf.getDouble(2) === 4.125) // bfloat16(4.14159) = 4.125
  }

  test("windowFunnel SQL spelling: levels, window cut-off, strict_order") {
    Seq(
      (1L, "2024-01-01 00:00:01", "a"), (1L, "2024-01-01 00:00:02", "b"),
      (1L, "2024-01-01 00:00:03", "c"),
      // user 2: a→b inside the window, c outside it
      (2L, "2024-01-01 00:00:01", "a"), (2L, "2024-01-01 00:00:05", "b"),
      (2L, "2024-01-01 00:01:00", "c"),
      // user 3: an interloping 'x' between a and b kills strict_order
      (3L, "2024-01-01 00:00:01", "a"), (3L, "2024-01-01 00:00:02", "x"),
      (3L, "2024-01-01 00:00:03", "b"))
      .toDF("u", "ts", "e")
      .selectExpr("u", "CAST(ts AS TIMESTAMP) AS ts", "e")
      .createOrReplaceTempView("wf")
    val rows = spark.sql("""
      SELECT u,
        windowFunnel(10, ts, e = 'a', e = 'b', e = 'c') AS lvl,
        windowFunnel(10, ts, e = 'a', e = 'b', e = 'c', 'strict_order') AS lvl_strict
      FROM wf GROUP BY u ORDER BY u""").collect()
    assert(rows.map(_.getInt(1)).toSeq === Seq(3, 2, 2))
    assert(rows.map(_.getInt(2)).toSeq === Seq(3, 2, 1))
  }

  test("wave4 scalar long tail: arithmetic, bits, pads, date units") {
    val r = one("""SELECT intDiv(17, 5), intDivOrZero(17, 0), moduloOrZero(17, 0),
                   intExp2(10), intExp10(6), roundBankers(2.5), roundBankers(3.5),
                   bitAnd(12, 10), bitOr(12, 10), bitXor(12, 10), bitNot(0),
                   bitShiftLeft(3, 2), bitShiftRight(12, 2), bitTest(5, 0), bitTest(5, 1)""")
    assert(r.getLong(0) === 3L)
    assert(r.getLong(1) === 0L)
    assert(r.getInt(2) === 0)
    assert(r.getLong(3) === 1024L)
    assert(r.getLong(4) === 1000000L)
    // banker's rounding: ties to even
    assert(r.getDecimal(5).doubleValue === 2.0)
    assert(r.getDecimal(6).doubleValue === 4.0)
    assert(r.getInt(7) === 8 && r.getInt(8) === 14 && r.getInt(9) === 6)
    assert(r.getInt(10) === -1)
    assert(r.getInt(11) === 12 && r.getInt(12) === 3)
    assert(r.getInt(13) === 1 && r.getInt(14) === 0)
    val s = one("""SELECT rightPad('ab', 5, '.'), trimLeft('  x '), trimRight('  x '),
                   divide(1, 0), divide(-1, 0), divide(0, 0), isInfinite(divide(1, 0)),
                   toISOWeek(DATE '2024-01-04'),
                   addYears(DATE '2020-02-29', 1), addWeeks(TIMESTAMP '2024-01-01 00:00:00', 2),
                   subtractSeconds(TIMESTAMP '2024-01-01 00:00:30', 90)""")
    assert(s.getString(0) === "ab...")
    assert(s.getString(1) === "x ")
    assert(s.getString(2) === "  x")
    assert(s.getDouble(3).isPosInfinity && s.getDouble(4).isNegInfinity)
    assert(s.getDouble(5).isNaN)
    assert(s.getBoolean(6))
    assert(s.getInt(7) === 1)
    assert(s.getDate(8).toString === "2021-02-28")
    assert(s.getTimestamp(9).toString === "2024-01-15 00:00:00.0")
    assert(s.getTimestamp(10).toString === "2023-12-31 23:59:00.0")
    // moduloOrZero keeps fractional types (CH fmod) and only a true-zero
    // divisor takes the 0 fallback; divide(NULL, 0) propagates NULL
    val t = one("""SELECT moduloOrZero(7.5, 2), moduloOrZero(7.5, 0.5),
                   moduloOrZero(17, 5), divide(CAST(NULL AS DOUBLE), 0)""")
    assert(t.getAs[java.math.BigDecimal](0).doubleValue === 1.5)
    assert(t.getAs[java.math.BigDecimal](1).doubleValue === 0.0)
    assert(t.getInt(2) === 2)
    assert(t.isNullAt(3))
  }

  test("toDecimal32/64/128 family: typed casts, OrNull/OrZero on bad input") {
    val r = one("""SELECT toDecimal32('3.149', 2), toDecimal64('1.10', 2) + toDecimal64('2.20', 2),
                   toDecimal64OrNull('abc', 2), toDecimal64OrZero('abc', 2),
                   toDecimal128('12345678901.5', 4), toDecimal32(7, 0)""")
    // reference readDecimalText TRUNCATES extra fractional digits
    // (00700_decimal_casts: toDecimal32('1.1', 0) = 1)
    assert(r.getDecimal(0).toPlainString === "3.14")
    assert(r.getDecimal(1).toPlainString === "3.30")
    assert(r.isNullAt(2))
    assert(r.getDecimal(3).toPlainString === "0.00")
    assert(r.getDecimal(4).toPlainString === "12345678901.5000")
    assert(r.getDecimal(5).toPlainString === "7")
    // overflow: 9 digits of precision at scale 2 can't hold 1e8
    intercept[Exception] { one("SELECT toDecimal32('100000000', 2)") }
    assert(one("SELECT toDecimal32OrNull('100000000', 2)").isNullAt(0))
  }

  test("replace family: regexp all/one with CH backrefs, literal all/one") {
    val r = one("""SELECT replaceRegexpAll('abc123def45', '[0-9]+', '#'),
                   replaceRegexpAll('ab', '(a)(b)', '\\2\\1'),
                   replaceRegexpOne('aaa', 'a', 'b'),
                   replaceAll('a.a.a', '.', '-'),
                   replaceOne('a.a.a', '.', '-'),
                   replaceRegexpAll('x', 'x', '$'),
                   replaceRegexpOne('Hello World', '(\\w+) (\\w+)', '\\2 \\1'),
                   splitByString('->', 'a->b->c')""")
    assert(r.getString(0) === "abc#def#")
    assert(r.getString(1) === "ba")
    assert(r.getString(2) === "baa")
    assert(r.getString(3) === "a-a-a") // literal dot, not regex any-char
    assert(r.getString(4) === "a-a.a")
    assert(r.getString(5) === "$")
    assert(r.getString(6) === "World Hello")
    assert(r.getSeq[String](7) === Seq("a", "b", "c"))
  }

  test("mapAdd/mapSubtract merge keys and sum values") {
    val r = one("""SELECT mapAdd(map('a', 1, 'b', 2), map('b', 3, 'c', 4)),
                   mapSubtract(map('a', 1, 'b', 2), map('b', 3, 'c', 4)),
                   mapAdd(map(1, 10), map(1, 5), map(2, 1))""")
    assert(r.getMap[String, Int](0).toMap === Map("a" -> 1, "b" -> 5, "c" -> 4))
    assert(r.getMap[String, Int](1).toMap === Map("a" -> 1, "b" -> -1, "c" -> -4))
    assert(r.getMap[Int, Int](2).toMap === Map(1 -> 15, 2 -> 1))
  }

  test("firstSignificantSubdomain: generic second-level suffixes") {
    val r = one("""SELECT firstSignificantSubdomain('https://news.yandex.com.tr/story'),
                   firstSignificantSubdomain('http://kernel.org'),
                   firstSignificantSubdomain('https://www.google.com/x?q=1'),
                   firstSignificantSubdomain('a.b.co.uk'),
                   firstSignificantSubdomain('localhost')""")
    assert(r.getString(0) === "yandex")
    assert(r.getString(1) === "kernel")
    assert(r.getString(2) === "google")
    assert(r.getString(3) === "b")
    assert(r.getString(4) === "localhost")
  }

  test("formatReadableTimeDelta: units, separators, max_unit, sign") {
    val r = one("""SELECT formatReadableTimeDelta(100000),
                   formatReadableTimeDelta(60), formatReadableTimeDelta(0),
                   formatReadableTimeDelta(100000, 'hours'),
                   formatReadableTimeDelta(-61),
                   formatReadableTimeDelta(31536000 + 2635200 + 61)""")
    assert(r.getString(0) === "1 day, 3 hours, 46 minutes and 40 seconds")
    assert(r.getString(1) === "1 minute")
    assert(r.getString(2) === "0 seconds")
    assert(r.getString(3) === "27 hours, 46 minutes and 40 seconds")
    assert(r.getString(4) === "-1 minute and 1 second")
    assert(r.getString(5) === "1 year, 1 month, 1 minute and 1 second")
  }

  test("tuple/tupleElement, fixed string, nullable, date shorthands") {
    val r = one("""SELECT
        tupleElement(tuple('a', 7), 2),
        tupleElement(tuple('a', 7), 1),
        tupleElement(named_struct('x', 3, 'y', 4), 'y'),
        toFixedString('ab', 5),
        toNullable(42),
        toMonday(DATE '2024-03-14'),
        toTime(TIMESTAMP '2024-03-14 13:45:56')""")
    assert(r.getInt(0) === 7)
    assert(r.getString(1) === "a")
    assert(r.getInt(2) === 4)
    assert(r.getString(3) === "ab\u0000\u0000\u0000") // NUL-padded like FixedString
    assert(r.getInt(4) === 42)
    assert(r.getDate(5).toString === "2024-03-11")
    assert(r.getTimestamp(6).toString === "1970-01-02 13:45:56.0")
    intercept[Exception] { one("SELECT toFixedString('toolong', 3)") }
  }

  test("mapPopulateSeries fills integer key gaps with zeros") {
    val r = one("""SELECT mapPopulateSeries(map(1, 10, 4, 40)),
                   mapPopulateSeries(map(1, 10, 3, 30), 5)""")
    assert(r.getMap[Int, Int](0).toMap === Map(1 -> 10, 2 -> 0, 3 -> 0, 4 -> 40))
    assert(r.getMap[Int, Int](1).toMap === Map(1 -> 10, 2 -> 0, 3 -> 30, 4 -> 0, 5 -> 0))
  }

  test("encrypt/decrypt round-trip through Spark AES") {
    val r = one("""SELECT
        decrypt('aes-128-ecb', encrypt('aes-128-ecb', 'secret', '1234567890123456'), '1234567890123456'),
        decrypt('aes-256-gcm', encrypt('aes-256-gcm', 'topsecret', '12345678901234567890123456789012'), '12345678901234567890123456789012')""")
    assert(r.getString(0) === "secret")
    assert(r.getString(1) === "topsecret")
  }

  test("splitByRegexp, alphaTokens, ngrams, cutToFirstSignificantSubdomain") {
    val r = one("""SELECT
        splitByRegexp('[0-9]+', 'a12b3c'),
        alphaTokens('abc1def2ghi'),
        ngrams('abcd', 2),
        ngrams('ab', 3),
        positionCaseInsensitiveUTF8('Hello World', 'world'),
        cutToFirstSignificantSubdomain('https://news.yandex.com.tr/story'),
        cutToFirstSignificantSubdomain('http://www.kernel.org/x')""")
    assert(r.getSeq[String](0) === Seq("a", "b", "c"))
    assert(r.getSeq[String](1) === Seq("abc", "def", "ghi"))
    assert(r.getSeq[String](2) === Seq("ab", "bc", "cd"))
    assert(r.getSeq[String](3) === Seq.empty)
    assert(r.getInt(4) === 7)
    assert(r.getString(5) === "yandex.com.tr")
    assert(r.getString(6) === "kernel.org")
  }

  test("relative period numbers and ISO year boundaries") {
    val r = one("""SELECT
        toRelativeWeekNum(DATE '1970-01-01'),
        toRelativeWeekNum(DATE '1970-01-05'),
        toRelativeWeekNum(DATE '2024-03-14') - toRelativeWeekNum(DATE '2024-03-07'),
        toRelativeMonthNum(DATE '2024-03-14'),
        toRelativeQuarterNum(DATE '2024-12-31'),
        toRelativeYearNum(DATE '2024-06-01'),
        toISOYear(DATE '2021-01-01'),
        toISOYear(DATE '2021-01-04'),
        toISOYear(DATE '2019-12-30'),
        toStartOfISOYear(DATE '2021-06-15'),
        toStartOfSecond(TIMESTAMP '2024-01-01 01:02:03.456')""")
    // 1970-01-01 was a Thursday: week 0; the following Monday starts week 1
    assert(r.getInt(0) === 0)
    assert(r.getInt(1) === 1)
    assert(r.getInt(2) === 1)
    assert(r.getInt(3) === 2024 * 12 + 3)
    assert(r.getInt(4) === 2024 * 4 + 3)
    assert(r.getInt(5) === 2024)
    assert(r.getInt(6) === 2020) // Jan 1 2021 (Fri) belongs to ISO 2020
    assert(r.getInt(7) === 2021)
    assert(r.getInt(8) === 2020) // Dec 30 2019 (Mon) starts ISO week 1 of 2020
    assert(r.getDate(9).toString === "2021-01-04")
    assert(r.getTimestamp(10).toString === "2024-01-01 01:02:03.0")
  }

  test("multiSearch family: any, positions, first position/index, case folds") {
    val r = one("""SELECT
        multiSearchAny('hello world', array('xyz', 'wor')),
        multiSearchAny('hello world', array('xyz', 'abc')),
        multiSearchAnyCaseInsensitive('Hello World', array('WORLD')),
        multiSearchAllPositions('hello world', array('l', 'world', 'zz')),
        multiSearchFirstPosition('hello world', array('world', 'llo')),
        multiSearchFirstPosition('hello world', array('zz')),
        multiSearchFirstIndex('hello world', array('world', 'llo')),
        multiSearchFirstIndexCaseInsensitive('Hello', array('nope', 'HELL')),
        multiSearchFirstIndex('abc', array('x', 'y'))""")
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
    assert(r.getBoolean(2) === true)
    assert(r.getSeq[Int](3) === Seq(3, 7, 0))
    assert(r.getInt(4) === 3) // 'llo' at 3 beats 'world' at 7
    assert(r.getInt(5) === 0)
    assert(r.getInt(6) === 2) // needle 2 ('llo') has the leftmost match
    assert(r.getInt(7) === 2)
    assert(r.getInt(8) === 0)
  }

  test("engine shims, UTF8 case folds, timestamp64 conversions, min2/max2") {
    val r = one("""SELECT
        materialize(7), identity('x'), toLowCardinality('v'), ignore(123),
        lowerUTF8('ÄBC'), upperUTF8('äbc'),
        countSubstringsCaseInsensitive('aBAba', 'ba'),
        mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)),
        min2(3, 5), max2(3, 5),
        toBool(1),
        toUnixTimestamp64Milli(TIMESTAMP '2024-01-01 00:00:00.123456'),
        toUnixTimestamp64Micro(TIMESTAMP '2024-01-01 00:00:00.123456'),
        fromUnixTimestamp64Milli(1704067200123),
        fromUnixTimestamp64Micro(1704067200123456),
        fromUnixTimestamp64Nano(1704067200123456789)""")
    assert(r.getInt(0) === 7)
    assert(r.getString(1) === "x")
    assert(r.getString(2) === "v")
    assert(r.getInt(3) === 0)
    assert(r.getString(4) === "äbc")
    assert(r.getString(5) === "ÄBC")
    assert(r.getInt(6) === 2)
    assert(r.getMap[String, Int](7).toMap === Map("b" -> 2))
    assert(r.getDouble(8) === 3.0)
    assert(r.getDouble(9) === 5.0)
    assert(r.getBoolean(10) === true)
    assert(r.getLong(11) === 1704067200123L)
    assert(r.getLong(12) === 1704067200123456L)
    assert(r.getTimestamp(13).toString === "2024-01-01 00:00:00.123")
    assert(r.getTimestamp(14).toString === "2024-01-01 00:00:00.123456")
    assert(r.getTimestamp(15).toString === "2024-01-01 00:00:00.123456")
    val m = one("""SELECT
        multiMatchAny('hello world', array('^x', 'wor.d$')),
        multiMatchAny('hello', array('^x', 'y$')),
        bitTestAny(5, 1, 2), bitTestAny(5, 1, 3),
        bitTestAll(5, 0, 2), bitTestAll(5, 0, 1)""")
    assert(m.getBoolean(0) === true)
    assert(m.getBoolean(1) === false)
    // bitTestAny/All return UInt8 like the reference (00216 shifts the
    // result back into arithmetic), not Bool
    assert(m.getShort(2) === 1) // bit 2 of 0b101
    assert(m.getShort(3) === 0)
    assert(m.getShort(4) === 1) // bits 0 and 2 both set
    assert(m.getShort(5) === 0)
    val rr = one("""SELECT
        arrayReduceInRanges('sum', array(tuple(1, 3), tuple(3, 2)), array(1, 2, 3, 4, 5)),
        arrayReduceInRanges('max', array(tuple(2, 3)), array(9, 1, 7, 3)),
        arrayReduceInRanges('count', array(tuple(1, 2), tuple(4, 9)), array(1, 2, 3, 4, 5))""")
    assert(rr.getSeq[Double](0) === Seq(6.0, 7.0))
    assert(rr.getSeq[Int](1) === Seq(7))
    assert(rr.getSeq[Int](2) === Seq(2, 2)) // slice clamps at array end
  }

  test("URL family completion: netloc, port, pathFull, hierarchy, parameter ops") {
    val u = "'https://user@docs.example.com:8443/a/b?x=1&y=2#frag'"
    val r = one(s"""SELECT
        domainWithoutWWW('https://www.example.com/p'),
        pathFull($u), queryStringAndFragment($u),
        netloc($u), basename($u), port($u), port('https://e.com/x'),
        port('https://e.com/x', 443),
        cutURLParameter('http://x/?a=1&b=2&c=3', 'b'),
        cutURLParameter('http://x/?a=1&b=2', 'b'),
        cutURLParameter('http://x/?a=1&b=2', 'a'),
        extractURLParameters($u), extractURLParameterNames($u)""")
    assert(r.getString(0) === "example.com")
    assert(r.getString(1) === "/a/b?x=1&y=2#frag")
    assert(r.getString(2) === "x=1&y=2#frag")
    assert(r.getString(3) === "user@docs.example.com:8443")
    assert(r.getString(4) === "b?x=1&y=2#frag")
    assert(r.getInt(5) === 8443)
    assert(r.getInt(6) === 0)
    assert(r.getInt(7) === 443)
    assert(r.getString(8) === "http://x/?a=1&c=3")
    assert(r.getString(9) === "http://x/?a=1")
    assert(r.getString(10) === "http://x/?b=2")
    // parameters start at the first ? OR #; a TRAILING bare fragment is
    // not a parameter (pinned by the reference's 00296 golden outputs)
    assert(r.getSeq[String](11) === Seq("x=1", "y=2"))
    assert(r.getSeq[String](12) === Seq("x", "y"))
    val h = one("""SELECT
        URLHierarchy('https://example.com/browse/CONV-6788'),
        URLPathHierarchy('https://example.com/browse/CONV-6788?x=1'),
        URLHierarchy('mailto:user@example.com'),
        URLHierarchy('https://example.com')""")
    assert(h.getSeq[String](0) === Seq(
      "https://example.com/browse/", "https://example.com/browse/CONV-6788"))
    assert(h.getSeq[String](1) === Seq("/browse/", "/browse/CONV-6788?", "/browse/CONV-6788?x=1"))
    assert(h.getSeq[String](2) === Seq.empty)
    assert(h.getSeq[String](3) === Seq.empty)
  }

  test("JSON family completion: length/keys/type/unquote/raw arrays, simpleJSON") {
    val j = """'{"a": 1, "b": [10, 20, {"c": 3}], "s": "hi", "f": 2.5, "t": true}'"""
    val r = one(s"""SELECT
        isValidJSON($j), isValidJSON('{bad'),
        JSONLength($j), JSONLength($j, 'b'),
        JSONExtractKeys($j), JSONKey($j, 2),
        JSONUnquote('"abc"'), JSONUnquote('123'),
        JSONExtractArrayRaw($j, 'b'),
        JSONType($j), JSONType($j, 'b'), JSONType($j, 'a'),
        JSONType($j, 'f'), JSONType($j, 't'),
        simpleJSONExtractInt('{"a":1}', 'a'),
        visitParamExtractFloat('{"f":2.5}', 'f'),
        simpleJSONHas($j, 's'), JSONExtractUInt($j, 'a')""")
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
    assert(r.getInt(2) === 5)
    assert(r.getInt(3) === 3)
    assert(r.getSeq[String](4) === Seq("a", "b", "s", "f", "t"))
    assert(r.getString(5) === "b")
    assert(r.getString(6) === "abc")
    assert(r.getString(7) === "123")
    assert(r.getSeq[String](8) === Seq("10", "20", """{"c":3}"""))
    assert(r.getString(9) === "Object")
    assert(r.getString(10) === "Array")
    assert(r.getString(11) === "Int64")
    assert(r.getString(12) === "Double")
    assert(r.getString(13) === "Bool")
    assert(r.getLong(14) === 1L)
    assert(r.getDouble(15) === 2.5)
    assert(r.getBoolean(16) === true)
    assert(r.getLong(17) === 1L)
  }

  test("javaHash/hiveHash match Java String.hashCode exactly") {
    val r = one("""SELECT javaHash('abc'), javaHash(''),
                   javaHash('Hello World'), hiveHash('abc'),
                   farmHash64('x') = farmHash64('x')""")
    assert(r.getInt(0) === "abc".hashCode) // 96354
    assert(r.getInt(1) === 0)
    assert(r.getInt(2) === "Hello World".hashCode)
    assert(r.getInt(3) === ("abc".hashCode & 0x7fffffff))
    assert(r.getBoolean(4))
  }

  test("string stragglers: decimal size, regexpQuoteMeta, multiMatch indices") {
    val r = one("""SELECT
        formatReadableDecimalSize(1500),
        formatReadableDecimalSize(1234567),
        regexpQuoteMeta('a.b*c'),
        multiSearchAllPositionsCaseInsensitive('Hello', array('hell', 'O')),
        multiMatchAnyIndex('hello world', array('^x', 'wor.d$', 'l+')),
        multiMatchAnyIndex('zzz', array('^x', 'y')),
        multiMatchAllIndices('hello world', array('^x', 'wor.d$', 'l+'))""")
    assert(r.getString(0) === "1.50 KB")
    assert(r.getString(1) === "1.23 MB")
    assert(r.getString(2) === "a\\.b\\*c")
    assert(r.getSeq[Int](3) === Seq(1, 5))
    assert(r.getInt(4) === 2)
    assert(r.getInt(5) === 0)
    assert(r.getSeq[Int](6) === Seq(2, 3))
  }

  test("ANY LEFT JOIN keeps exactly the first right-side match per key") {
    val sql = graft.sql.ChTranspiler.transpile(
      "SELECT t.k, u.v FROM (SELECT 1 AS k UNION ALL SELECT 2) t " +
        "ANY LEFT JOIN (SELECT 1 AS k, 10 AS v " +
        "UNION ALL SELECT 1 AS k, 20 AS v) u USING (k) ORDER BY k")
    val rows = spark.sql(sql).collect()
    assert(rows.length === 2)
    assert(rows(0) === Row(1, 10)) // first right row wins, not two rows
    assert(rows(1) === Row(2, null))
  }
}
