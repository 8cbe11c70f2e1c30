package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Static helpers for the coding spellings (reference src/Functions/CRC
  * .cpp, FunctionsCodingUUID.cpp, FunctionsBinaryRepresentation.cpp) —
  * StaticInvoke scalars inside whole-stage codegen.
  */
object CodingOps {

  // CRC.cpp:42-48 — CRC64/ECMA and the IEEE-polynomial CRC32 variant
  // both start from 0 with no final xor (CRC32 itself is the standard
  // zlib form, init 0xffffffff, covered by Spark's crc32 builtin).
  private lazy val crc64Table: Array[Long] = {
    val poly = 0xc96c5795d7870f42L
    Array.tabulate(256) { i =>
      var c = i.toLong
      (0 until 8).foreach { _ =>
        c = if ((c & 1L) != 0) poly ^ (c >>> 1) else c >>> 1
      }
      c
    }
  }

  private lazy val crc32IeeeTable: Array[Int] = {
    val poly = 0xedb88320
    Array.tabulate(256) { i =>
      var c = i
      (0 until 8).foreach { _ =>
        c = if ((c & 1) != 0) poly ^ (c >>> 1) else c >>> 1
      }
      c
    }
  }

  def crc64(s: UTF8String): Long = {
    if (s == null) return 0L
    var crc = 0L
    s.getBytes.foreach { b =>
      crc = crc64Table(((crc ^ b) & 0xff).toInt) ^ (crc >>> 8)
    }
    crc
  }

  def crc32ieee(s: UTF8String): Long = {
    if (s == null) return 0L
    var crc = 0
    s.getBytes.foreach { b =>
      crc = crc32IeeeTable((crc ^ b) & 0xff) ^ (crc >>> 8)
    }
    crc.toLong & 0xffffffffL
  }

  /** UUIDStringToNum (FunctionsCodingUUID.cpp:226): the 16 raw bytes of
    * the hex digits; variant 2 swaps to the Microsoft mixed-endian
    * layout (first three groups little-endian). UUIDNumToString is the
    * inverse.
    */
  def uuidStringToNum(s: UTF8String, variant: Int): Array[Byte] = {
    if (s == null) return null
    val hex = s.toString.replace("-", "")
    require(hex.length == 32, s"UUIDStringToNum: malformed UUID '$s'")
    val bytes = Array.tabulate(16)(i =>
      Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16).toByte)
    if (variant == 2) msSwap(bytes) else bytes
  }

  def uuidNumToString(bytes: Array[Byte], variant: Int): UTF8String = {
    if (bytes == null) return null
    require(bytes.length == 16, "UUIDNumToString: need exactly 16 bytes")
    val b = if (variant == 2) msSwap(bytes) else bytes
    val hex = b.map(x => f"${x & 0xff}%02x").mkString
    UTF8String.fromString(
      s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
        s"${hex.substring(16, 20)}-${hex.substring(20)}")
  }

  private def msSwap(in: Array[Byte]): Array[Byte] = {
    val out = in.clone()
    val order = Seq(3, 2, 1, 0, 5, 4, 7, 6)
    order.zipWithIndex.foreach { case (src, dst) => out(dst) = in(src) }
    out
  }

  def uuidToUInt64High(s: UTF8String): Long = {
    val hex = s.toString.replace("-", "")
    java.lang.Long.parseUnsignedLong(hex.substring(0, 16), 16)
  }

  def uuidToUInt64Low(s: UTF8String): Long = {
    val hex = s.toString.replace("-", "")
    java.lang.Long.parseUnsignedLong(hex.substring(16), 16)
  }

  /** unbin (FunctionsBinaryRepresentation.cpp): '01100001…' → the bytes,
    * left-padded to whole bytes like the reference.
    */
  def unbin(s: UTF8String): UTF8String = {
    if (s == null) return null
    val str = s.toString
    val pad = (8 - str.length % 8) % 8
    val full = "0" * pad + str
    val bytes = full.grouped(8).map(g => Integer.parseInt(g, 2).toByte).toArray
    UTF8String.fromBytes(bytes)
  }

  /** FQDN() (reference FunctionFQDN.cpp) — the host's canonical name;
    * inherently environment-dependent, gated by a non-empty check only.
    */
  def fqdn(): UTF8String =
    UTF8String.fromString(java.net.InetAddress.getLocalHost.getCanonicalHostName)

  /** jumpConsistentHash(key, buckets) (reference
    * src/Functions/jumpConsistentHash.cpp — the published Lamping-Veach
    * algorithm, so this is bit-exact): maps a 64-bit key onto one of
    * `buckets` shards with minimal remapping as buckets grow.
    */
  def jumpConsistentHash(key: Long, buckets: Int): Int = {
    var k = key
    var b = -1L
    var j = 0L
    while (j < buckets) {
      b = j
      k = k * 2862933555777941757L + 1
      j = ((b + 1) * (2147483648.0 / ((k >>> 33) + 1).toDouble)).toLong
    }
    b.toInt
  }

  /** kostikConsistentHash(key, buckets) (reference
    * src/Functions/kostikConsistentHash.cpp delegating to
    * contrib/consistent-hashing/consistent_hashing.cpp — Konstantin
    * Oblakov's O(1)-time, O(1)-space consistent hash, published in the
    * ClickHouse tree; alias yandexConsistentHash). Ported
    * statement-for-statement from the uint16-block variant, so this is
    * bit-exact, including the deliberate uint64 wraparound inside the
    * asterisk-bits mixing. Efficient (and reference-capped) at
    * n ≤ 32768 buckets.
    */
  def kostikConsistentHash(key: Long, buckets: Int): Int = {
    require(buckets > 0 && buckets <= 32768,
      s"kostikConsistentHash: buckets must be in [1, 32768], got $buckets")
    val lo = (key & 0xFFFFFFFFL).toInt
    val hi = (key >>> 32).toInt
    kostikImpl16(lo & 0xFFFF, lo >>> 16, hi & 0xFFFF, hi >>> 16, buckets)
  }

  /** Exact result for n = 2^k (cBlock table: 0→0, 1→1, 1?..?→1·ab). */
  private def kostikPow2(a: Int, b: Int, c: Int, k2: Int): Int = {
    val cBlock = c & (k2 - 1)
    if (cBlock < 2) cBlock
    else {
      val y = 31 - Integer.numberOfLeadingZeros(cBlock) // bits after the leading 1
      val y2 = 1 << y
      val ab = if (Integer.bitCount(cBlock) % 2 == 0) a else b
      y2 + (ab & (y2 - 1))
    }
  }

  /** The "*" bits of the a/b/c/d blocks combined into one uint64
    * (wraparound intended, as in the reference contrib).
    */
  private def kostikAsterisk(a: Int, b: Int, c: Int, d: Int, k: Int): Long = {
    var shift = 16 - k
    var res: Long = (d.toLong << shift) | (c.toLong >> k)
    shift += 1
    res <<= shift
    res |= b.toLong >> (k - 1)
    res <<= shift
    res |= a.toLong >> (k - 1)
    res
  }

  private def kostikImpl16(a: Int, b: Int, c: Int, d: Int, n: Int): Int = {
    if (n == 1) return 0
    val k = 32 - Integer.numberOfLeadingZeros(n - 1) // 2^(k-1) < n <= 2^k
    val k2 = 1 << k
    val large = kostikPow2(a, b, c, k2)
    if (large < n) return large
    val k21 = 1 << (k - 1)
    val s = java.lang.Long.remainderUnsigned(
      kostikAsterisk(a, b, c, d, k), large.toLong * (large + 1))
    val large2 = (s / k2) + k21
    if (large2 < n) return large2.toInt
    kostikPow2(a, b, c, k21) // always < 2^(k-1)
  }

  /** toWeek/toYearWeek mode matrix (reference src/Common/DateLUTImpl
    * .h:794-908 toYearWeek — the MySQL calc_week algorithm with flags
    * MONDAY_FIRST=1, YEAR=2, FIRST_WEEKDAY=4, NEWYEAR_DAY=8 and the
    * check_week_mode normalization). Ported statement-for-statement;
    * golden values from the MySQL WEEK()/YEARWEEK() documentation.
    */
  private def yearWeek(epochDays: Int, mode0: Int): (Int, Int) = {
    import java.time.LocalDate
    val d = LocalDate.ofEpochDay(epochDays.toLong)
    def dow(x: LocalDate): Int = x.getDayOfWeek.getValue // 1=Mon..7=Sun
    val newyearDay = (mode0 & 8) != 0
    var mode = mode0 & 7
    if ((mode & 1) == 0) mode ^= 4 // check_week_mode
    val mondayFirst = (mode & 1) != 0
    var weekYear = (mode & 2) != 0
    val firstWeekday = (mode & 4) != 0
    if (newyearDay) {
      val offsetDay = if (mondayFirst) 0 else 1
      val year = d.plusDays(7L - dow(d.plusDays(offsetDay.toLong))).getYear
      var firstDay = LocalDate.of(year, 1, 1)
      var thisDay = d
      if (mondayFirst) {
        firstDay = firstDay.minusDays((dow(firstDay) - 1).toLong)
        thisDay = thisDay.minusDays((dow(thisDay) - 1).toLong)
      } else {
        if (dow(firstDay) != 7) firstDay = firstDay.minusDays(dow(firstDay).toLong)
        if (dow(thisDay) != 7) thisDay = thisDay.minusDays(dow(thisDay).toLong)
      }
      return (year, ((thisDay.toEpochDay - firstDay.toEpochDay) / 7 + 1).toInt)
    }
    var year = d.getYear
    val daynr = d.toEpochDay
    var firstDaynr = LocalDate.of(year, 1, 1).toEpochDay
    def calcWeekday(ed: Long, sundayFirst: Boolean): Int = {
      val x = LocalDate.ofEpochDay(ed)
      if (!sundayFirst) dow(x) - 1 else dow(x.plusDays(1)) - 1
    }
    def daysInYear(y: Int): Int = if (java.time.Year.isLeap(y.toLong)) 366 else 365
    var weekday = calcWeekday(firstDaynr, !mondayFirst)
    var days = 0L
    if (d.getMonthValue == 1 && d.getDayOfMonth <= 7 - weekday) {
      if (!weekYear &&
        ((firstWeekday && weekday != 0) || (!firstWeekday && weekday >= 4)))
        return (year, 0)
      weekYear = true
      year -= 1
      days = daysInYear(year).toLong
      firstDaynr -= days
      weekday = ((weekday + 53 * 7 - days) % 7).toInt
    }
    if ((firstWeekday && weekday != 0) || (!firstWeekday && weekday >= 4))
      days = daynr - (firstDaynr + (7 - weekday))
    else
      days = daynr - (firstDaynr - weekday)
    if (weekYear && days >= 52 * 7) {
      weekday = ((weekday + daysInYear(year)) % 7).toInt
      if ((!firstWeekday && weekday < 4) || (firstWeekday && weekday == 0))
        return (year + 1, 1)
    }
    (year, (days / 7 + 1).toInt)
  }

  def toWeek(epochDays: Int, mode: Int): Int = yearWeek(epochDays, mode)._2

  /** toYearWeek always ORs in the YEAR flag (CustomWeekTransforms.h:61). */
  def toYearWeek(epochDays: Int, mode: Int): Int = {
    val (y, w) = yearWeek(epochDays, mode | 2)
    y * 100 + w
  }

  /** mortonEncode (reference src/Functions/mortonEncode.cpp, plain
    * N-argument form): bit-interleave N unsigned values into one UInt64
    * — value d occupies output bits (bit·n + d), which reproduces the
    * reference exactly (mortonEncode(1,2,3) = 53). Each value keeps
    * 64/n low bits.
    */
  def mortonEncode(vals: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = vals.numElements()
    val bitsPer = 64 / n
    var out = 0L
    var d = 0
    while (d < n) {
      val v = vals.getLong(d)
      var bit = 0
      while (bit < bitsPer) {
        if (((v >>> bit) & 1L) != 0L) out |= 1L << (bit * n + d)
        bit += 1
      }
      d += 1
    }
    out
  }

  /** mortonDecode(n, code) — the inverse: n values as a tuple. */
  def mortonDecode(n: Int, code: Long): org.apache.spark.sql.catalyst.InternalRow = {
    val bitsPer = 64 / n
    val out = new Array[Any](n)
    var d = 0
    while (d < n) {
      var v = 0L
      var bit = 0
      while (bit < bitsPer) {
        if (((code >>> (bit * n + d)) & 1L) != 0L) v |= 1L << bit
        bit += 1
      }
      out(d) = v
      d += 1
    }
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(out.toIndexedSeq)
  }

  /** normalizeUTF8NFC/NFD/NFKC/NFKD (reference
    * src/Functions/normalizeString.cpp) via java.text.Normalizer — the
    * same Unicode normalization forms ICU implements there.
    */
  def normalizeUtf8(s: UTF8String, form: UTF8String): UTF8String = {
    if (s == null) return null
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.valueOf(form.toString)))
  }

  /** isValidUTF8 (reference FunctionsStringSimilarity isValidUTF8.cpp):
    * strict byte-level validation of the raw UTF-8 bytes.
    */
  def isValidUtf8(s: UTF8String): Boolean = {
    if (s == null) return true
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try { dec.decode(java.nio.ByteBuffer.wrap(s.getBytes)); true }
    catch { case _: java.nio.charset.CharacterCodingException => false }
  }

  /** toValidUTF8: invalid sequences replaced with U+FFFD (the JVM
    * decoder's REPLACE action — same replacement char as the reference).
    */
  def toValidUtf8(s: UTF8String): UTF8String =
    if (s == null) null
    else UTF8String.fromString(new String(
      s.getBytes, java.nio.charset.StandardCharsets.UTF_8))

  /** isIPv6String (reference FunctionsCoding.h isIPv6String): textual
    * IPv6 validation — hand-rolled (no InetAddress, which resolves
    * hostnames): 2-8 hex groups, at most one '::', optional embedded
    * IPv4 tail.
    */
  def isIpv6(s: UTF8String): Boolean = {
    if (s == null) return false
    val str = s.toString
    if (str.isEmpty) return false
    val dcolons = str.sliding(2).count(_ == "::")
    if (dcolons > 1) return false
    val hasCompress = dcolons == 1
    if (str == "::") return true
    val body = str
    val parts = body.split(":", -1)
    if (parts.length > 9 || (!hasCompress && parts.length != 8)) return false
    val hex = "^[0-9A-Fa-f]{1,4}$".r
    val v4 = "^((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])$".r
    var groups = 0
    var empties = 0
    parts.zipWithIndex.foreach { case (p, i) =>
      if (p.isEmpty) empties += 1
      else if (hex.matches(p)) groups += 1
      else if (i == parts.length - 1 && v4.matches(p)) groups += 2
      else return false
    }
    // '::' contributes 1-2 empty split tokens at the ends, 1 inside
    if (hasCompress) groups <= 7 && empties <= 3
    else groups == 8
  }
  /** IPv6 text → 16-byte binary (reference IPv6StringToNum,
    * src/Functions/FunctionsCoding.h): accepts full/compressed IPv6,
    * an IPv4 dotted quad (mapped to ::ffff:a.b.c.d), and an IPv6 with
    * dotted-quad tail. Throws on malformed input (OrNull/OrZero
    * spellings wrap at the registry layer).
    */
  def ipv6Parse(str: UTF8String): Array[Byte] = {
    val s = str.toString.trim
    val out = new Array[Byte](16)
    if (!s.contains(':')) {
      // bare IPv4 → v4-mapped
      val q = parseV4(s)
      out(10) = 0xff.toByte; out(11) = 0xff.toByte
      System.arraycopy(q, 0, out, 12, 4)
      return out
    }
    var body = s
    var v4: Array[Byte] = null
    val lastColon = s.lastIndexOf(':')
    if (s.indexOf('.', lastColon) >= 0) {
      v4 = parseV4(s.substring(lastColon + 1))
      body = s.substring(0, lastColon + 1) // keep trailing ':'
      if (body.endsWith("::")) () else body = body.dropRight(1)
    }
    val groupsNeeded = if (v4 == null) 8 else 6
    val dbl = body.indexOf("::")
    val words = new Array[Int](groupsNeeded)
    def parseGroups(t: String): Seq[Int] =
      if (t.isEmpty) Seq.empty
      else t.split(":", -1).toSeq.map { g =>
        require(g.nonEmpty && g.length <= 4, s"bad IPv6 group '$g'")
        Integer.parseInt(g, 16)
      }
    if (dbl >= 0) {
      val left = parseGroups(body.substring(0, dbl))
      val right = parseGroups(body.substring(dbl + 2).stripSuffix(":"))
      require(left.size + right.size <= groupsNeeded, "too many IPv6 groups")
      left.zipWithIndex.foreach { case (w, i) => words(i) = w }
      right.reverse.zipWithIndex.foreach { case (w, i) =>
        words(groupsNeeded - 1 - i) = w }
    } else {
      val gs = parseGroups(body.stripSuffix(":"))
      require(gs.size == groupsNeeded, s"expected $groupsNeeded IPv6 groups")
      gs.zipWithIndex.foreach { case (w, i) => words(i) = w }
    }
    for (i <- 0 until groupsNeeded) {
      out(2 * i) = ((words(i) >> 8) & 0xff).toByte
      out(2 * i + 1) = (words(i) & 0xff).toByte
    }
    if (v4 != null) System.arraycopy(v4, 0, out, 12, 4)
    out
  }

  private def parseV4(s: String): Array[Byte] = {
    val parts = s.split("\\.", -1)
    require(parts.length == 4, s"bad IPv4 '$s'")
    parts.map { p =>
      val v = p.toInt
      require(v >= 0 && v <= 255, s"bad IPv4 octet '$p'")
      v.toByte
    }
  }

  /** 16-byte binary → canonical IPv6 text (reference IPv6NumToString):
    * lowercase hex, longest ≥2 zero-group run compressed (leftmost on
    * tie), v4-mapped addresses print the dotted-quad tail.
    */
  def ipv6Format(bytesIn: Array[Byte]): UTF8String = {
    val b = if (bytesIn.length >= 16) bytesIn
      else bytesIn ++ new Array[Byte](16 - bytesIn.length)
    val words = (0 until 8).map(i =>
      ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff))
    val v4Mapped = (0 until 5).forall(words(_) == 0) && words(5) == 0xffff
    val shown = if (v4Mapped) 6 else 8
    // longest zero run (≥2) among shown groups
    var bestStart = -1; var bestLen = 0
    var i = 0
    while (i < shown) {
      if (words(i) == 0) {
        var j = i
        while (j < shown && words(j) == 0) j += 1
        if (j - i > bestLen) { bestLen = j - i; bestStart = i }
        i = j
      } else i += 1
    }
    val sb = new java.lang.StringBuilder(45)
    if (bestLen >= 2 || (v4Mapped && bestStart == 0)) {
      i = 0
      while (i < shown) {
        if (i == bestStart) {
          sb.append("::")
          i += bestLen
        } else {
          if (sb.length() > 0 && sb.charAt(sb.length() - 1) != ':')
            sb.append(':')
          sb.append(java.lang.Integer.toHexString(words(i)))
          i += 1
        }
      }
      if (sb.length() == 0) sb.append("::")
    } else {
      sb.append((0 until shown)
        .map(k => java.lang.Integer.toHexString(words(k))).mkString(":"))
      if (v4Mapped) sb.append(':')
    }
    if (v4Mapped) {
      if (sb.charAt(sb.length() - 1) != ':') sb.append(':')
      sb.append(s"${b(12) & 0xff}.${b(13) & 0xff}.${b(14) & 0xff}.${b(15) & 0xff}")
    }
    UTF8String.fromString(sb.toString)
  }

  /** String/binary input tolerant wrapper: a 16-char String column
    * (toFixedString) carries the raw bytes.
    */
  def ipv6FormatStr(s: UTF8String): UTF8String = ipv6Format(s.getBytes)

  def toIpv6Text(s: UTF8String): UTF8String = ipv6Format(ipv6Parse(s))

}
