package graft

/** Unit gates for the wave-12 long-tail spellings (map helpers, token
  * search, splits, date constructors, snowflake ids, digit math, IP and
  * Unicode validation, intHash).
  */
class Wave12Spec extends SparkSpec {

  private def one(expr: String): Any = spark.sql(s"SELECT $expr").head.get(0)
  private def seqOf(expr: String): Seq[Any] =
    one(expr).asInstanceOf[scala.collection.Seq[Any]].toSeq

  test("map helpers") {
    assert(one("mapContains(map('a', 1, 'b', 2), 'a')") === true)
    assert(one("mapContains(map('a', 1), 'z')") === false)
    assert(one("mapFromArrays(array('x', 'y'), array(1, 2))['y']") === 2)
  }

  test("hasToken boundary semantics") {
    assert(one("hasToken('Hello World_42 foo', 'World_42')") === true)
    assert(one("hasToken('HelloWorld', 'World')") === false)
    assert(one("hasToken('a,World,b', 'World')") === true)
    assert(one("hasTokenCaseInsensitive('a world b', 'WORLD')") === true)
    assert(one("hasToken('a world b', 'WORLD')") === false)
    assert(one("hasTokenOrNull('abc', 'no token!')") === null)
    intercept[Exception](one("hasToken('abc', 'no token!')"))
  }

  test("hasTokens phrase match and textSearch tsquery evaluation") {
    assert(one("hasTokens('alpha beta gamma', 'beta gamma')") === true)
    assert(one("hasTokens('alphabeta gamma', 'beta gamma')") === false)
    assert(one("textSearch('the quick brown fox', 'quick & fox')") === true)
    assert(one("textSearch('the quick brown fox', 'quick & cat')") === false)
    assert(one("textSearch('the quick brown fox', 'cat | fox')") === true)
    assert(one("textSearch('the quick brown fox', '!cat & (fox | dog)')") === true)
    assert(one("textSearch('the quick brown fox', '!fox')") === false)
    // quoted phrase inside the query
    assert(one("textSearch('a quick brown fox', \"'quick brown' & fox\")") === true)
    assert(one("textSearch('a quick-brown fox', \"'quick brown'\")") === false)
    intercept[Exception](one("textSearch('x', 'a & ')"))
  }

  test("splitByNonAlpha / splitByWhitespace drop empty fragments") {
    assert(seqOf("splitByNonAlpha('a.b c--d')") === Seq("a", "b", "c", "d"))
    assert(seqOf("splitByWhitespace('  a  b\tc ')") === Seq("a", "b", "c"))
  }

  test("makeDate / makeDateTime constructors") {
    assert(one("makeDate(2023, 4, 5)").toString === "2023-04-05")
    assert(one("makeDate(2023, 95)").toString === "2023-04-05")
    assert(one("makeDate32(2024, 2, 29)").toString === "2024-02-29")
    assert(String.valueOf(one("makeDateTime(2023, 4, 5, 6, 7, 8)"))
      .startsWith("2023-04-05 06:07:08"))
  }

  test("snowflake id conversions round-trip") {
    assert(String.valueOf(one("snowflakeToDateTime(1426860702736191488)"))
      .startsWith("2021-08"))
    assert(one(
      "snowflakeToDateTime(dateTimeToSnowflake(timestamp'2023-04-05 06:07:08'))")
      .toString.startsWith("2023-04-05 06:07:08"))
  }

  test("countDigits and factorial") {
    assert(one("countDigits(12345)") === 5)
    assert(one("countDigits(-120)") === 3)
    assert(one("factorial(0)") === 1L)
    assert(one("factorial(1)") === 1L)
    assert(one("factorial(5)") === 120L)
    assert(one("factorial(20)") === 2432902008176640000L)
  }

  test("IP string validation") {
    assert(one("isIPv4String('192.168.0.1')") === true)
    assert(one("isIPv4String('256.1.1.1')") === false)
    assert(one("isIPv4String('1.2.3')") === false)
    assert(one("isIPv6String('::1')") === true)
    assert(one("isIPv6String('2001:db8::8a2e:370:7334')") === true)
    assert(one("isIPv6String('1:2:3:4:5:6:7:8')") === true)
    assert(one("isIPv6String('::ffff:192.168.1.1')") === true)
    assert(one("isIPv6String('1:2:3')") === false)
    assert(one("isIPv6String('1::2::3')") === false)
    assert(one("isIPv6String('192.168.0.1')") === false)
  }

  test("Unicode normalization and validation") {
    // e + combining acute (NFD) vs precomposed é (NFC)
    assert(one("length(normalizeUTF8NFD('é'))") === 2)
    assert(one("length(normalizeUTF8NFC(normalizeUTF8NFD('é')))") === 1)
    assert(one("normalizeUTF8NFKC('ﬁ')") === "fi")
    assert(one("isValidUTF8('plain text')") === true)
    assert(one("toValidUTF8('ok')") === "ok")
    assert(one("reverseUTF8('abc')") === "cba")
  }

  test("jumpConsistentHash is the published Lamping-Veach mapping") {
    // canonical property set: in range, deterministic, and growing the
    // bucket count only ever moves keys INTO the new bucket
    val n = 13
    (0 until 50).foreach { k =>
      val b = one(s"jumpConsistentHash($k, $n)").asInstanceOf[Int]
      assert(b >= 0 && b < n)
      val b2 = one(s"jumpConsistentHash($k, ${n + 1})").asInstanceOf[Int]
      assert(b2 == b || b2 == n, s"key $k moved $b -> $b2 on grow")
    }
    assert(one("jumpConsistentHash(10863919174838991L, 11)") ===
      one("jumpConsistentHash(10863919174838991L, 11)"))
  }

  test("kostikConsistentHash matches the reference contrib bit-exactly") {
    // Golden vectors produced by compiling the reference's own
    // contrib/consistent-hashing/consistent_hashing.cpp (Oblakov's
    // O(1) scheme) and printing ConsistentHashing(key, n). Keys above
    // Long.MaxValue written as their two's-complement signed value.
    val golden = Seq(
      (81985529216486895L, 2, 1), (81985529216486895L, 5, 3),
      (81985529216486895L, 16, 7), (81985529216486895L, 300, 107),
      (81985529216486895L, 4096, 1451), (81985529216486895L, 10000, 1451),
      (81985529216486895L, 32768, 19951),
      (-81985529216486896L, 2, 0), (-81985529216486896L, 5, 0),
      (-81985529216486896L, 16, 12), (-81985529216486896L, 300, 212),
      (-81985529216486896L, 4096, 3668), (-81985529216486896L, 10000, 9211),
      (-81985529216486896L, 32768, 13908),
      (-6510615555426900571L, 2, 1), (-6510615555426900571L, 5, 1),
      (-6510615555426900571L, 16, 5), (-6510615555426900571L, 300, 165),
      (-6510615555426900571L, 4096, 1445), (-6510615555426900571L, 10000, 9637),
      (-6510615555426900571L, 32768, 9637),
      (4886718345L, 2, 1), (4886718345L, 300, 1), (4886718345L, 32768, 1),
      (7077569096380545917L, 16, 11), (7077569096380545917L, 300, 139),
      (7077569096380545917L, 4096, 779), (7077569096380545917L, 10000, 7037),
      (-1L, 2, 1), (-1L, 3, 2), (-1L, 7, 4), (-1L, 8, 7),
      (-1L, 100, 71), (-1L, 1000, 575), (-1L, 32768, 32767),
      (0L, 1, 0), (0L, 32768, 0), (42L, 100, 0))
    golden.foreach { case (k, n, want) =>
      assert(one(s"kostikConsistentHash(${k}L, $n)") === want,
        s"kostikConsistentHash($k, $n)")
    }
    // the alias and the range guard
    assert(one("yandexConsistentHash(-1L, 100)") === 71)
    intercept[Exception](one("kostikConsistentHash(1, 40000)"))
    // consistency property: growing n can only keep a key in place or
    // move it into the newly added range
    Seq(-6510615555426900571L, 81985529216486895L, -1L).foreach { k =>
      (2 to 64).foreach { n =>
        val a = one(s"kostikConsistentHash(${k}L, $n)").asInstanceOf[Int]
        val b = one(s"kostikConsistentHash(${k}L, ${n + 1})").asInstanceOf[Int]
        assert(b == a || b == n, s"key $k moved $a -> $b on grow to ${n + 1}")
      }
    }
  }

  test("intHash64 / intHash32 are the reference mixers") {
    // (x, intHash64, intHash32 with the FunctionsHashing.h salt, intHash32
    // with salt 0): outputs of the three former copies of each mixer
    // (CodingOps, HashOps and TimingQuantile's salt-0 one), pinned before
    // they were folded into HashOps
    val pins = Seq(
      (0L, 0L, 4249604106L, 0L),
      (1L, -5451962507482445012L, 1343103100L, 3788511810L),
      (2L, 4233148493373801447L, 1996614413L, 3207942677L),
      (42L, -9148929187392628276L, 1228623923L, 3458605522L),
      (255L, 1297215527019907880L, 4243176437L, 904347725L),
      (65535L, 6444452806975366496L, 2814166736L, 1561316083L),
      (4294967295L, -3714927795841221434L, 3983947013L, 3846827201L),
      (4294967296L, -5027532216505265127L, 3518258701L, 2863260693L),
      (1234567890123L, 5768311928185057474L, 919319764L, 346014885L),
      (-1L, 7256831767414464289L, 3545659993L, 2504521962L),
      (-42L, 3002600660025181396L, 1693538026L, 80861774L),
      (Long.MaxValue, -6072754518692401686L, 2112611299L, 15731644L),
      (Long.MinValue, -8108722261328812909L, 3930999127L, 3937752746L))
    pins.foreach { case (x, h64, h32, h32Salt0) =>
      val lit = if (x == Long.MinValue) s"CAST('$x' AS BIGINT)" else s"${x}L"
      assert(one(s"intHash64($lit)") === h64, s"intHash64($x)")
      assert(one(s"intHash32($lit)") === h32, s"intHash32($x)")
      assert(graft.functions.HashOps.intHash64(x) === h64)
      assert(graft.functions.HashOps.intHash32(x) === h32)
      assert(graft.functions.HashOps.intHash32(x, salt = 0) === h32Salt0)
    }
  }

  test("retention SQL spelling: bitmask of ever-fired conditions") {
    val r = spark.sql("""
      SELECT user, retention(t = 1, t = 2, t = 9) AS r
      FROM VALUES (1, 1), (1, 2), (2, 2), (2, 9) u(user, t)
      GROUP BY user ORDER BY user""").collect()
    assert(r(0).getSeq[Int](1) === Seq(1, 1, 0)) // user 1: c1 and c2 fired
    assert(r(1).getSeq[Int](1) === Seq(0, 0, 0)) // user 2: c1 never fired
  }

  test("stat alias wave: Stable spellings, samp moments, exact/overflow sums") {
    val t = "VALUES (1.0), (2.0), (3.0), (4.0), (10.0) v(x)"
    assert(one(s"abs(varSampStable(x) - var_samp(x)) < 1e-12 FROM $t") === true)
    assert(one(s"corrStable(x, x * 2 + 1) FROM $t") === 1.0)
    // skewSamp = population m3 / varSamp^1.5 (reference
    // AggregateFunctionStatisticsSimple.h) — hand value for {1,2,3,4,10}:
    // mean 4, m3 = (Σ(x-4)³)/5 = ((-27)+(-8)+(-1)+0+216)/5 = 36,
    // varSamp = ((9+4+1+0+36))/4 = 12.5 → 36 / 12.5^1.5
    val sk = one(s"skewSamp(x) FROM $t").asInstanceOf[Double]
    assert(math.abs(sk - 36.0 / math.pow(12.5, 1.5)) < 1e-12)
    val ku = one(s"kurtSamp(x) FROM $t").asInstanceOf[Double]
    // m4 = (81+16+1+0+1296)/5 = 278.8 → / 12.5²
    assert(math.abs(ku - 278.8 / 156.25) < 1e-12)
    assert(one(s"uniqExact(CAST(x AS INT) % 3) FROM $t") === 3L)
    assert(one(s"sumKahan(x) FROM $t") === 20.0)
    assert(one(s"sumWithOverflow(CAST(x AS INT)) FROM $t") === 20)
    assert(one(s"groupArbitrary(x) FROM $t") !== null)
    assert(one("size(groupArrayLast(2, x) ) FROM VALUES (1.0),(2.0),(3.0) v(x)") === 2)
    assert(one(s"thetaSketchEstimate(CAST(x AS BIGINT)) FROM $t") === 5.0)
    assert(one(s"hllSketchEstimate(CAST(x AS BIGINT)) FROM $t") === 5L)
  }

  test("toWeek/toYearWeek match the MySQL WEEK()/YEARWEEK() documentation") {
    // MySQL doc examples
    assert(one("toWeek(DATE'2008-02-20')") === 7)
    assert(one("toWeek(DATE'2008-02-20', 0)") === 7)
    assert(one("toWeek(DATE'2008-02-20', 1)") === 8)
    assert(one("toWeek(DATE'2008-12-31', 1)") === 53)
    assert(one("toWeek(DATE'2000-01-01', 0)") === 0)
    assert(one("toWeek(DATE'2000-01-01', 2)") === 52)
    assert(one("toYearWeek(DATE'1987-01-01')") === 198652)
    assert(one("toYearWeek(DATE'2000-01-01', 0)") === 199952)
    // mode 3 is ISO — agrees with Spark's weekofyear
    assert(one("toWeek(DATE'2016-12-27', 3)") ===
      one("weekofyear(DATE'2016-12-27')"))
    assert(one("toWeek(DATE'2021-01-01', 3)") ===
      one("weekofyear(DATE'2021-01-01')"))
  }

  test("mortonEncode/Decode: reference doc vector and round-trip") {
    assert(one("mortonEncode(1, 2, 3)") === 53L)
    assert(one("mortonEncode(1, 1)") === 3L)
    val r = spark.sql("SELECT mortonDecode(3, 53) AS t").head.getStruct(0)
    assert((0 until 3).map(r.getLong) === Seq(1L, 2L, 3L))
    val rt = spark.sql(
      "SELECT mortonDecode(2, mortonEncode(123456, 654321)) AS t").head.getStruct(0)
    assert((rt.getLong(0), rt.getLong(1)) === (123456L, 654321L))
  }

  test("toDecimalString renders at the given scale") {
    assert(one("toDecimalString(64.32, 5)") === "64.32000")
    assert(one("toDecimalString(7, 0)") === "7")
  }

  test("runningDifferenceStartingWithFirstValue keeps the first value") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1, 10), (2, 14), (3, 13)).toDF("i", "v")
    val got = df.select(col("i"),
      graft.operators.RowOrder.runningDifferenceStartingWithFirstValue(
        col("v"), Seq(), Seq(col("i"))).as("d"))
      .orderBy(col("i")).collect().map(_.getInt(1)).toSeq
    assert(got === Seq(10, 4, -1))
  }

  test("roundDown picks the floor bucket") {
    assert(one("roundDown(7, array(1, 5, 10))") === 5)
    assert(one("roundDown(0, array(1, 5, 10))") === 1)
    assert(one("roundDown(10, array(1, 5, 10))") === 10)
  }

  test("extractGroups family") {
    assert(seqOf("extractGroups('k=v', '(\\\\w+)=(\\\\w+)')") === Seq("k", "v"))
    assert(seqOf("extractGroups('no match here!', '(\\\\d+)=(\\\\d+)')") === Seq())
    assert(seqOf("extractAllGroupsHorizontal('a=1,b=2', '(\\\\w+)=(\\\\w+)')") ===
      Seq(Seq("a", "b"), Seq("1", "2")))
    assert(seqOf("extractAllGroupsVertical('a=1,b=2', '(\\\\w+)=(\\\\w+)')") ===
      Seq(Seq("a", "1"), Seq("b", "2")))
  }

  test("Modified Julian Day conversions") {
    // 1858-11-17 is MJD 0; 1970-01-01 is MJD 40587
    assert(one("toModifiedJulianDay('1970-01-01')") === 40587)
    assert(one("toModifiedJulianDay('1858-11-17')") === 0)
    assert(one("fromModifiedJulianDay(40587)").toString === "1970-01-01")
    assert(one("fromModifiedJulianDay(0)").toString === "1858-11-17")
    assert(one("toModifiedJulianDayOrNull('rubbish')") === null)
  }

  test("sub-second rounding") {
    assert(String.valueOf(one(
      "toStartOfMillisecond(timestamp'2023-04-05 06:07:08.123456')"))
      .endsWith("08.123"))
    assert(String.valueOf(one(
      "toStartOfMicrosecond(timestamp'2023-04-05 06:07:08.123456')"))
      .endsWith("08.123456"))
  }

  test("dictGet family over the in-RAM registry") {
    import spark.implicits._
    val dim = Seq((1L, "a", 2L), (2L, "b", 2L), (3L, "c", 1L))
      .toDF("k", "name", "parent")
    graft.sql.Dictionaries.register("t_d", dim, "k", parentAttr = Some("parent"))
    try {
      assert(one("dictGetString('t_d', 'name', 1)") === "a")
      assert(one("dictGet('t_d', 'parent', 3)") === 1L)
      assert(one("dictHas('t_d', 2)") === true)
      assert(one("dictHas('t_d', 9)") === false)
      assert(one("dictGetString('t_d', 'name', 9)") === null)
      assert(one("dictGetStringOrDefault('t_d', 'name', 9, 'z')") === "z")
      assert(one("dictGetInt32('t_d', 'parent', 1)") === 2)
      // 3 → 1 → 2 → (2 parents itself: stop)
      assert(seqOf("dictGetHierarchy('t_d', 3)") === Seq(3L, 1L, 2L))
      assert(one("dictIsIn('t_d', 3, 2)") === true)
      assert(one("dictIsIn('t_d', 2, 3)") === false)
      intercept[Exception](one("dictGet('t_d', 'nope', 1)"))
    } finally graft.sql.Dictionaries.drop("t_d")
  }

  test("dictionary registration rejects a dimension over the row ceiling") {
    import spark.implicits._
    val big = spark.range(0, 100).select($"id".as("k"), $"id".cast("string").as("v"))
    val e = intercept[IllegalArgumentException] {
      graft.sql.Dictionaries.register("too_big", big, "k", maxRows = 10)
    }
    assert(e.getMessage.contains("broadcast-join"),
      "rejection must point at the broadcast-join fallback path")
    intercept[Exception](one("dictGet('too_big', 'v', 1)")) // never registered
  }

  test("dictGet expressions carry the snapshot: lookup survives plan " +
       "serialization with the driver registry gone (multi-JVM contract)") {
    import spark.implicits._
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "name")
    graft.sql.Dictionaries.register("ser_d", dim, "k")
    // analyzed (not optimized) plan: constant folding must not collapse
    // the lookup before we prove the snapshot itself serializes.
    val expr = try {
      spark.sql("SELECT dictGetString('ser_d', 'name', 2) AS v")
        .queryExecution.analyzed.expressions.head
    } finally graft.sql.Dictionaries.drop("ser_d")
    assert(expr.exists(_.isInstanceOf[graft.sql.DictGetValue]),
      s"expected a DictGetValue in $expr")
    // registry is now empty — a fresh executor JVM. Round-trip the
    // expression through Java serialization and evaluate.
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(expr); oos.close()
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    val back = ois.readObject().asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression]
    val v = back match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child.eval(null)
      case other => other.eval(null)
    }
    assert(String.valueOf(v) === "y")
  }

  test("minSampleSize A/B scalars") {
    val c = spark.sql(
      "SELECT minSampleSizeContinous(100.0, 10.0, 0.05, 0.8, 0.05) AS t")
      .head.getStruct(0)
    // 2σ²(z_{0.975}+z_{0.8})²/Δ², Δ=5: z=1.95996+0.84162=2.80158 → ~62.79
    assert(math.abs(c.getDouble(0) - 62.79) < 0.05)
    assert(c.getDouble(1) === 95.0)
    assert(c.getDouble(2) === 105.0)
    val v = spark.sql(
      "SELECT minSampleSizeConversion(0.25, 0.05, 0.8, 0.05) AS t")
      .head.getStruct(0)
    assert(v.getDouble(0) > 1000 && v.getDouble(0) < 2000)
    assert(v.getDouble(1) === 0.2)
    assert(math.abs(v.getDouble(2) - 0.3) < 1e-12)
    // invalid inputs → NaNs like the reference
    assert(spark.sql("SELECT minSampleSizeConversion(0.25, 1.0, 0.8, 0.05) AS t")
      .head.getStruct(0).getDouble(0).isNaN)
  }
}
