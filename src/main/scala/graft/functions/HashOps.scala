package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.Decimal

/** Bit-exact ports of the reference's hash-function family
  * (/root/reference/src/Functions/FunctionsHashing.h): SipHash-2-4 with
  * zero keys (src/Common/SipHash.h:325), MurmurHash2 32/64A and
  * MurmurHash3 x86_32 / x64_128 with seed 0, xxHash32/64 with seed 0,
  * and the intHash32/64 finalizers (src/Common/HashTable/Hash.h:26,390).
  * All are public-domain algorithms implemented from their published
  * specifications. Multi-argument calls fold with the reference's
  * combineHashes rule per family (prev first, current second;
  * FunctionsHashing.h:1341). Each argument arrives as its ClickHouse
  * NATIVE little-endian byte image — width matters: UInt8 hashes one
  * byte — built expression-side by ClickHouseAliases.chHashArgBytes.
  */
object HashOps {

  // ---- byte builders -------------------------------------------------

  def leBytes(v: Long, width: Int): Array[Byte] = {
    val out = new Array[Byte](width)
    var i = 0
    while (i < width) { out(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    out
  }

  // reinterpret family (reference src/Functions/reinterpretAs.cpp):
  // raw little-endian byte reinterpretation between numerics/strings

  def leToDouble(b: Array[Byte]): Double = {
    var v = 0L
    var i = 0
    while (i < math.min(8, b.length)) { v |= (b(i).toLong & 0xff) << (8 * i); i += 1 }
    java.lang.Double.longBitsToDouble(v)
  }

  def leToFloat(b: Array[Byte]): Float = {
    var v = 0
    var i = 0
    while (i < math.min(4, b.length)) { v |= (b(i) & 0xff) << (8 * i); i += 1 }
    java.lang.Float.intBitsToFloat(v)
  }

  def leToLong(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < math.min(8, b.length)) { v |= (b(i).toLong & 0xff) << (8 * i); i += 1 }
    v
  }

  def f32FromBits(v: Long): Float = java.lang.Float.intBitsToFloat(v.toInt)

  def f64FromBits(v: Long): Double = java.lang.Double.longBitsToDouble(v)

  /** reinterpretAsString: the value's LE bytes, trailing zero bytes
    * trimmed (the reference's String reinterpret).
    */
  def leStringBytes(v: Long, width: Int): Array[Byte] = {
    var w = width
    while (w > 0 && ((v >>> (8 * (w - 1))) & 0xff) == 0) w -= 1
    leBytes(v, w)
  }

  /** Big-endian hex of the value's w-byte image (CH hex of integers). */
  def beHex(v: Long, w: Int): org.apache.spark.unsafe.types.UTF8String = {
    val sb = new StringBuilder
    var i = w - 1
    while (i >= 0) { sb.append(f"${(v >>> (8 * i)) & 0xff}%02X"); i -= 1 }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** hex of a Decimal: little-endian image of the unscaled integer,
    * two's-complement, padded (sign-extended) to the storage width its
    * precision implies — the reference's hex over the raw Decimal bytes.
    */
  def decHexLE(d: org.apache.spark.sql.types.Decimal,
      width: Int): org.apache.spark.unsafe.types.UTF8String = {
    val unscaled = d.toJavaBigDecimal.unscaledValue()
    val sb = new StringBuilder
    var i = 0
    while (i < width) {
      val b = unscaled.shiftRight(8 * i).and(java.math.BigInteger.valueOf(0xff)).intValue()
      sb.append(f"$b%02X")
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Decimal native byte image: unscaled two's-complement LE at the
    * storage width (for the hash family's byte path).
    */
  def decLeBytes(d: org.apache.spark.sql.types.Decimal,
      width: Int): Array[Byte] = {
    val unscaled = d.toJavaBigDecimal.unscaledValue()
    val out = new Array[Byte](width)
    var i = 0
    while (i < width) {
      out(i) = unscaled.shiftRight(8 * i)
        .and(java.math.BigInteger.valueOf(0xff)).byteValue()
      i += 1
    }
    out
  }

  /** halfMD5: big-endian read of the MD5 digest's first 8 bytes
    * (reference HalfMD5Impl — flipBytes of the LE u64).
    */
  def halfMD5(data: Array[Byte]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(data)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i).toLong & 0xff); i += 1 }
    v
  }

  def halfMD5Multi(a: ArrayData): Decimal = {
    if (isEmpty(a)) return unsigned64(EmptyArgs64)
    val hs = args(a).map(halfMD5)
    unsigned64(hs.reduceLeft { (p, c) =>
      halfMD5(leBytes(p, 8) ++ leBytes(c, 8))
    })
  }

  def f32Bytes(f: Float): Array[Byte] =
    leBytes(java.lang.Float.floatToIntBits(f).toLong & 0xffffffffL, 4)

  def f64Bytes(d: Double): Array[Byte] =
    leBytes(java.lang.Double.doubleToLongBits(d), 8)

  // ---- SipHash-2-4, k0 = k1 = 0 -------------------------------------

  private def rotl(x: Long, b: Int): Long = (x << b) | (x >>> (64 - b))

  def sipHash64(data: Array[Byte]): Long = {
    var v0 = 0x736f6d6570736575L
    var v1 = 0x646f72616e646f6dL
    var v2 = 0x6c7967656e657261L
    var v3 = 0x7465646279746573L
    def round(): Unit = {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
    }
    val n = data.length
    var off = 0
    while (n - off >= 8) {
      var m = 0L
      var i = 0
      while (i < 8) { m |= (data(off + i).toLong & 0xff) << (8 * i); i += 1 }
      v3 ^= m; round(); round(); v0 ^= m
      off += 8
    }
    var b = n.toLong << 56
    var i = 0
    while (off + i < n) { b |= (data(off + i).toLong & 0xff) << (8 * i); i += 1 }
    v3 ^= b; round(); round(); v0 ^= b
    v2 ^= 0xff
    round(); round(); round(); round()
    v0 ^ v1 ^ v2 ^ v3
  }

  // ---- MurmurHash2 (Appleby), seeds 0 --------------------------------

  def murmur2_64(data: Array[Byte]): Long = {
    val m = 0xc6a4a7935bd1e995L
    val r = 47
    val n = data.length
    var h = 0L ^ (n.toLong * m)
    var off = 0
    while (n - off >= 8) {
      var k = 0L
      var i = 0
      while (i < 8) { k |= (data(off + i).toLong & 0xff) << (8 * i); i += 1 }
      k *= m; k ^= k >>> r; k *= m
      h ^= k; h *= m
      off += 8
    }
    val rem = n - off
    var i = rem - 1
    while (i >= 0) { h ^= (data(off + i).toLong & 0xff) << (8 * i); i -= 1 }
    if (rem > 0) h *= m
    h ^= h >>> r; h *= m; h ^= h >>> r
    h
  }

  def murmur2_32(data: Array[Byte]): Int = {
    val m = 0x5bd1e995
    val r = 24
    val n = data.length
    var h = 0 ^ n
    var off = 0
    while (n - off >= 4) {
      var k = 0
      var i = 0
      while (i < 4) { k |= (data(off + i) & 0xff) << (8 * i); i += 1 }
      k *= m; k ^= k >>> r; k *= m
      h *= m; h ^= k
      off += 4
    }
    val rem = n - off
    if (rem >= 3) h ^= (data(off + 2) & 0xff) << 16
    if (rem >= 2) h ^= (data(off + 1) & 0xff) << 8
    if (rem >= 1) { h ^= data(off) & 0xff; h *= m }
    h ^= h >>> 13; h *= m; h ^= h >>> 15
    h
  }

  // ---- MurmurHash3 (Appleby), seed 0 ---------------------------------

  def murmur3_32(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    val n = data.length
    var h = 0
    var off = 0
    while (n - off >= 4) {
      var k = 0
      var i = 0
      while (i < 4) { k |= (data(off + i) & 0xff) << (8 * i); i += 1 }
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      off += 4
    }
    var k = 0
    val rem = n - off
    if (rem >= 3) k ^= (data(off + 2) & 0xff) << 16
    if (rem >= 2) k ^= (data(off + 1) & 0xff) << 8
    if (rem >= 1) {
      k ^= data(off) & 0xff
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k
    }
    h ^= n
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }

  /** MurmurHash3_x64_128 (seed 0) → (h1, h2). */
  private def murmur3_128(data: Array[Byte]): (Long, Long) = {
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    val n = data.length
    var h1 = 0L
    var h2 = 0L
    def getLong(off: Int): Long = {
      var k = 0L
      var i = 0
      while (i < 8) { k |= (data(off + i).toLong & 0xff) << (8 * i); i += 1 }
      k
    }
    val nblocks = n / 16
    var b = 0
    while (b < nblocks) {
      var k1 = getLong(b * 16)
      var k2 = getLong(b * 16 + 8)
      k1 *= c1; k1 = rotl(k1, 31); k1 *= c2; h1 ^= k1
      h1 = rotl(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729
      k2 *= c2; k2 = rotl(k2, 33); k2 *= c1; h2 ^= k2
      h2 = rotl(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5
      b += 1
    }
    val tail = nblocks * 16
    var k1 = 0L
    var k2 = 0L
    val rem = n & 15
    var i = math.min(rem, 15)
    while (i >= 9) { k2 ^= (data(tail + i - 1).toLong & 0xff) << ((i - 9) * 8); i -= 1 }
    if (rem > 8) { k2 *= c2; k2 = rotl(k2, 33); k2 *= c1; h2 ^= k2 }
    i = math.min(rem, 8)
    while (i >= 1) { k1 ^= (data(tail + i - 1).toLong & 0xff) << ((i - 1) * 8); i -= 1 }
    if (rem > 0) { k1 *= c1; k1 = rotl(k1, 31); k1 *= c2; h1 ^= k1 }
    h1 ^= n; h2 ^= n
    h1 += h2; h2 += h1
    def fmix(x0: Long): Long = {
      var x = x0
      x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
      x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
      x ^= x >>> 33; x
    }
    h1 = fmix(h1); h2 = fmix(h2)
    h1 += h2; h2 += h1
    (h1, h2)
  }

  def murmur3_64(data: Array[Byte]): Long = {
    val (h1, h2) = murmur3_128(data)
    h1 ^ h2
  }

  // ---- xxHash 32/64, seed 0 ------------------------------------------

  def xxh32(data: Array[Byte]): Int = {
    val p1 = 0x9e3779b1; val p2 = 0x85ebca77; val p3 = 0xc2b2ae3d
    val p4 = 0x27d4eb2f; val p5 = 0x165667b1
    val n = data.length
    def get32(off: Int): Int = {
      var k = 0
      var i = 0
      while (i < 4) { k |= (data(off + i) & 0xff) << (8 * i); i += 1 }
      k
    }
    var off = 0
    var h =
      if (n >= 16) {
        var v1 = p1 + p2; var v2 = p2; var v3 = 0; var v4 = -p1
        while (n - off >= 16) {
          v1 = Integer.rotateLeft(v1 + get32(off) * p2, 13) * p1
          v2 = Integer.rotateLeft(v2 + get32(off + 4) * p2, 13) * p1
          v3 = Integer.rotateLeft(v3 + get32(off + 8) * p2, 13) * p1
          v4 = Integer.rotateLeft(v4 + get32(off + 12) * p2, 13) * p1
          off += 16
        }
        Integer.rotateLeft(v1, 1) + Integer.rotateLeft(v2, 7) +
          Integer.rotateLeft(v3, 12) + Integer.rotateLeft(v4, 18)
      } else p5
    h += n
    while (n - off >= 4) {
      h = Integer.rotateLeft(h + get32(off) * p3, 17) * p4
      off += 4
    }
    while (off < n) {
      h = Integer.rotateLeft(h + (data(off) & 0xff) * p5, 11) * p1
      off += 1
    }
    h ^= h >>> 15; h *= p2; h ^= h >>> 13; h *= p3; h ^= h >>> 16
    h
  }

  def xxh64(data: Array[Byte]): Long = {
    val p1 = 0x9e3779b185ebca87L; val p2 = 0xc2b2ae3d27d4eb4fL
    val p3 = 0x165667b19e3779f9L; val p4 = 0x85ebca77c2b2ae63L
    val p5 = 0x27d4eb2f165667c5L
    val n = data.length
    def get64(off: Int): Long = {
      var k = 0L
      var i = 0
      while (i < 8) { k |= (data(off + i).toLong & 0xff) << (8 * i); i += 1 }
      k
    }
    def get32(off: Int): Long = {
      var k = 0L
      var i = 0
      while (i < 4) { k |= (data(off + i).toLong & 0xff) << (8 * i); i += 1 }
      k
    }
    def round(acc: Long, input: Long): Long =
      rotl(acc + input * p2, 31) * p1
    def merge(acc0: Long, v: Long): Long = {
      var acc = acc0 ^ round(0, v)
      acc * p1 + p4
    }
    var off = 0
    var h =
      if (n >= 32) {
        var v1 = p1 + p2; var v2 = p2; var v3 = 0L; var v4 = -p1
        while (n - off >= 32) {
          v1 = round(v1, get64(off)); v2 = round(v2, get64(off + 8))
          v3 = round(v3, get64(off + 16)); v4 = round(v4, get64(off + 24))
          off += 32
        }
        var acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        acc = merge(acc, v1); acc = merge(acc, v2)
        acc = merge(acc, v3); acc = merge(acc, v4)
        acc
      } else p5
    h += n
    while (n - off >= 8) {
      h = rotl(h ^ round(0, get64(off)), 27) * p1 + p4
      off += 8
    }
    if (n - off >= 4) {
      h = rotl(h ^ (get32(off) * p1), 23) * p2 + p3
      off += 4
    }
    while (off < n) {
      h = rotl(h ^ ((data(off) & 0xff) * p5), 11) * p1
      off += 1
    }
    h ^= h >>> 33; h *= p2; h ^= h >>> 29; h *= p3; h ^= h >>> 32
    h
  }

  // ---- finalizers / combiners ----------------------------------------

  /** intHash64 (Hash.h:26-34): the MurmurHash3 finalizer; its bit ops
    * are sign-agnostic, so Long stands in for UInt64 exactly.
    */
  def intHash64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  /** IntHash64Impl: pre-xor with the /dev/urandom constant. */
  private def intHash64Impl(x: Long): Long =
    intHash64(x ^ 0x4cf2d2baae6da887L)

  /** The SQL intHash32's salt (FunctionsHashing.h:164). */
  final val IntHash32Salt = 0x75d9543de018bf45L

  /** intHash32 (Hash.h:390-402): Thomas Wang 64→32 over `key0 ^ salt`,
    * truncated to the low 32 bits and returned zero-extended in a Long,
    * the dialect's UInt32 carrier. The SQL spelling and the hash
    * combiners use [[IntHash32Salt]]; QuantileTiming's large-level
    * jitter uses salt 0.
    */
  def intHash32(key0: Long, salt: Long = IntHash32Salt): Long = {
    var key = key0 ^ salt
    key = (~key) + (key << 18)
    key = key ^ ((key >>> 31) | (key << 33))
    key = key * 21
    key = key ^ ((key >>> 11) | (key << 53))
    key = key + (key << 6)
    key = key ^ ((key >>> 22) | (key << 42))
    key & 0xffffffffL
  }

  // ---- CityHash64 v1.0.2 (the reference vendors exactly this version;
  // contrib/cityhash102/src/city.cc — MIT, Google) -------------------

  private val ck0 = 0xc3a5c85c97cb3127L
  private val ck1 = 0xb492b66fbe98f273L
  private val ck2 = 0x9ae16a3b2f90404fL
  private val ck3 = 0xc949d7c7509e6557L

  def cityHash64(s: Array[Byte]): Long = {
    def fetch64(off: Int): Long = {
      var k = 0L
      var i = 0
      while (i < 8) { k |= (s(off + i).toLong & 0xff) << (8 * i); i += 1 }
      k
    }
    def fetch32(off: Int): Long = {
      var k = 0L
      var i = 0
      while (i < 4) { k |= (s(off + i).toLong & 0xff) << (8 * i); i += 1 }
      k
    }
    def rot(v: Long, shift: Int): Long =
      if (shift == 0) v else (v >>> shift) | (v << (64 - shift))
    def shiftMix(v: Long): Long = v ^ (v >>> 47)
    def hashLen16(u: Long, v: Long): Long = hash128to64(u, v)
    val len = s.length
    if (len <= 16) {
      if (len > 8) {
        val a = fetch64(0)
        val b = fetch64(len - 8)
        hashLen16(a, rot(b + len, len)) ^ b
      } else if (len >= 4) {
        val a = fetch32(0)
        hashLen16(len + (a << 3), fetch32(len - 4))
      } else if (len > 0) {
        val a = s(0) & 0xff
        val b = s(len >> 1) & 0xff
        val c = s(len - 1) & 0xff
        val y = (a + (b << 8)).toLong & 0xffffffffL
        val z = (len + (c << 2)).toLong & 0xffffffffL
        shiftMix(y * ck2 ^ z * ck3) * ck2
      } else ck2
    } else if (len <= 32) {
      val a = fetch64(0) * ck1
      val b = fetch64(8)
      val c = fetch64(len - 8) * ck2
      val d = fetch64(len - 16) * ck0
      hashLen16(rot(a - b, 43) + rot(c, 30) + d,
        a + rot(b ^ ck3, 20) - c + len)
    } else if (len <= 64) {
      var z = fetch64(24)
      var a = fetch64(0) + (len + fetch64(len - 16)) * ck0
      var b = rot(a + z, 52)
      var c = rot(a, 37)
      a += fetch64(8)
      c += rot(a, 7)
      a += fetch64(16)
      val vf = a + z
      val vs = b + rot(a, 31) + c
      a = fetch64(16) + fetch64(len - 32)
      z = fetch64(len - 8)
      b = rot(a + z, 52)
      c = rot(a, 37)
      a += fetch64(len - 24)
      c += rot(a, 7)
      a += fetch64(len - 16)
      val wf = a + z
      val ws = b + rot(a, 31) + c
      val r = shiftMix((vf + ws) * ck2 + (wf + vs) * ck0)
      shiftMix(r * ck0 + vs) * ck2
    } else {
      def weak(off: Int, a0: Long, b0: Long): (Long, Long) = {
        val w = fetch64(off); val x = fetch64(off + 8)
        val y = fetch64(off + 16); val z = fetch64(off + 24)
        var a = a0 + w
        var b = rot(b0 + a + z, 21)
        val c = a
        a += x; a += y
        b += rot(a, 44)
        (a + z, b + c)
      }
      var x = fetch64(0)
      var y = fetch64(len - 16) ^ ck1
      var z = fetch64(len - 56) ^ ck0
      var v = weak(len - 64, len.toLong, y)
      var w = weak(len - 32, len.toLong * ck1, ck0)
      z += shiftMix(v._2) * ck1
      x = rot(z + x, 39) * ck1
      y = rot(y, 33) * ck1
      var rem = (len - 1) & ~63
      var off = 0
      while (rem != 0) {
        x = rot(x + y + v._1 + fetch64(off + 16), 37) * ck1
        y = rot(y + v._2 + fetch64(off + 48), 42) * ck1
        x ^= w._2
        y ^= v._1
        z = rot(z ^ w._1, 33)
        v = weak(off, v._2 * ck1, x + w._1)
        w = weak(off + 32, z + w._2, y)
        val t = z; z = x; x = t
        off += 64
        rem -= 64
      }
      hashLen16(hashLen16(v._1, w._1) + shiftMix(y) * ck1 + z,
        hashLen16(v._2, w._2) + x)
    }
  }

  /** cityHash64 hashes POD arguments via IntHash64Impl of the u64 bit
    * image (use_int_hash_for_pods = true).
    */
  def cityPod(v: Long): Long = intHash64Impl(v)

  def f32BitsU64(f: Float): Long =
    java.lang.Float.floatToIntBits(f).toLong & 0xffffffffL

  def f64BitsU64(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  def cityCombine(a: ArrayData): Decimal = {
    if (a.numElements() == 0) return unsigned64(EmptyArgs64)
    val hs = (0 until a.numElements()).map(a.getLong)
    unsigned64(hs.reduceLeft(hash128to64))
  }

  /** CityHash Hash128to64 — xxHash64's multi-arg combiner. */
  private def hash128to64(lo: Long, hi: Long): Long = {
    val kMul = 0x9ddfea08eb382d69L
    var a = (lo ^ hi) * kMul
    a ^= a >>> 47
    var b = (hi ^ a) * kMul
    b ^= b >>> 47
    b * kMul
  }

  // ---- multi-argument entry points (StaticInvoke) --------------------
  // args: array of per-argument native byte images; fold left with the
  // family's combineHashes(prev, current).

  private def args(a: ArrayData): IndexedSeq[Array[Byte]] =
    (0 until a.numElements()).map(a.getBinary)

  // a zero-argument call (SELECT murmurHash2_32()) hashes nothing; the
  // reference assigns a fixed /dev/urandom constant
  // (FunctionsHashing.h:1792,2128), truncated to the output width for
  // 32-bit variants.
  private def isEmpty(a: ArrayData): Boolean = a.numElements() == 0
  private val EmptyArgs64: Long = 0xe28dbde7fe22e41cL
  private val EmptyArgs32: Long = 0xfe22e41cL

  def sipHash64Multi(a: ArrayData): Decimal = {
    if (isEmpty(a)) return unsigned64(EmptyArgs64)
    val hs = args(a).map(sipHash64)
    val h = hs.reduceLeft { (p, c) =>
      sipHash64(leBytes(p, 8) ++ leBytes(c, 8))
    }
    unsigned64(h)
  }

  def murmur2_64Multi(a: ArrayData): Decimal = {
    if (isEmpty(a)) return unsigned64(EmptyArgs64)
    val h = args(a).map(murmur2_64).reduceLeft((p, c) => intHash64Impl(p) ^ c)
    unsigned64(h)
  }

  def murmur2_32Multi(a: ArrayData): Long = {
    if (isEmpty(a)) return EmptyArgs32
    val h = args(a).map(murmur2_32).reduceLeft((p, c) => intHash32(p & 0xffffffffL).toInt ^ c)
    h.toLong & 0xffffffffL
  }

  def murmur3_32Multi(a: ArrayData): Long = {
    if (isEmpty(a)) return EmptyArgs32
    val h = args(a).map(murmur3_32).reduceLeft((p, c) => intHash32(p & 0xffffffffL).toInt ^ c)
    h.toLong & 0xffffffffL
  }

  def murmur3_64Multi(a: ArrayData): Decimal = {
    if (isEmpty(a)) return unsigned64(EmptyArgs64)
    val h = args(a).map(murmur3_64).reduceLeft((p, c) => intHash64Impl(p) ^ c)
    unsigned64(h)
  }

  def xxh32Multi(a: ArrayData): Long = {
    if (isEmpty(a)) return EmptyArgs32
    val h = args(a).map(xxh32).reduceLeft((p, c) => intHash32(p & 0xffffffffL).toInt ^ c)
    h.toLong & 0xffffffffL
  }

  private def unsigned64(h: Long): Decimal =
    Decimal(new java.math.BigDecimal(java.lang.Long.toUnsignedString(h)), 20, 0)
}
