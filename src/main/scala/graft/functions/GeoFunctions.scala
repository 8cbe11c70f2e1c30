package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}

/** Geohash encode/decode (reference src/Functions/GeoHash.cpp,
  * geohashEncode/geohashDecode): standard base-32 bit-interleaved
  * subdivision. Pure deterministic per-row scalar functions — encode a
  * codegen StaticInvoke, decode Scala UDFs (not hot-path; the
  * candidate-cell join key is the hash string, whose cost is dwarfed by
  * the join it feeds).
  */
object GeoFunctions {

  private val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** One ring of pointInPolygon (reference src/Functions/
    * pointInPolygon.cpp): boundary-inclusive for the outer ring
    * (`boundaryValue = true`), boundary-EXCLUSIVE for hole rings (a
    * point on a hole's edge still counts as inside the polygon), with
    * even-odd ray casting for the interior test. Called from codegen via
    * StaticInvoke with the ring pre-split into coordinate arrays.
    */
  def pointInRingRows(x: Double, y: Double,
      ring: org.apache.spark.sql.catalyst.util.ArrayData,
      boundaryValue: Boolean): Boolean = {
    val n = ring.numElements()
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    var k = 0
    while (k < n) {
      val row = ring.getStruct(k, 2)
      xs(k) = row.getDouble(0)
      ys(k) = row.getDouble(1)
      k += 1
    }
    pointInRing(x, y, xs, ys, boundaryValue)
  }

  /** Conservative subset of boost::geometry::is_valid as used by the
    * reference's const-polygon path (src/Functions/pointInPolygon.cpp:
    * 564-570, after bg::correct fixes orientation/closure): a ring is
    * invalid when it has <3 distinct points or any two non-adjacent
    * edges properly cross. Proper-crossing-only keeps false invalids
    * impossible — anything we reject, boost rejects too.
    */
  def ringIsValid(ring: org.apache.spark.sql.catalyst.util.ArrayData)
      : Boolean = {
    val m = ring.numElements()
    val xs = new Array[Double](m)
    val ys = new Array[Double](m)
    var k = 0
    while (k < m) {
      val row = ring.getStruct(k, 2)
      xs(k) = row.getDouble(0)
      ys(k) = row.getDouble(1)
      k += 1
    }
    // drop an explicit closing point
    val n = if (m > 1 && xs(0) == xs(m - 1) && ys(0) == ys(m - 1)) m - 1 else m
    if (n < 3) return false
    def cross(ox: Double, oy: Double, ax: Double, ay: Double,
        bx: Double, by: Double): Double =
      (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)
    var i = 0
    while (i < n) {
      val a1x = xs(i); val a1y = ys(i)
      val a2x = xs((i + 1) % n); val a2y = ys((i + 1) % n)
      var j = i + 2
      while (j < n) {
        if (!(i == 0 && j == n - 1)) { // skip adjacent (shared endpoint)
          val b1x = xs(j); val b1y = ys(j)
          val b2x = xs((j + 1) % n); val b2y = ys((j + 1) % n)
          val d1 = cross(a1x, a1y, a2x, a2y, b1x, b1y)
          val d2 = cross(a1x, a1y, a2x, a2y, b2x, b2y)
          val d3 = cross(b1x, b1y, b2x, b2y, a1x, a1y)
          val d4 = cross(b1x, b1y, b2x, b2y, a2x, a2y)
          if (d1 * d2 < 0 && d3 * d4 < 0) return false
        }
        j += 1
      }
      i += 1
    }
    true
  }

  /** Whole polygon-with-holes in one call: rings(0) is the outer ring
    * (boundary counts as inside), rings(1..) are holes whose boundary
    * counts as IN the hole — a point on a hole edge is OUTSIDE the
    * polygon (00500_point_in_polygon_non_const_poly.reference rows
    * 36-51: outer corner (0,0) → 1, hole corner (4,4) → 0). Used when
    * the SQL passes the polygon as one Array(Array(Tuple)) value.
    */
  def pointInPolygonRows(x: Double, y: Double,
      rings: org.apache.spark.sql.catalyst.util.ArrayData): Boolean = {
    val n = rings.numElements()
    if (n == 0) return false
    if (!pointInRingRows(x, y, rings.getArray(0), boundaryValue = true))
      return false
    var k = 1
    while (k < n) {
      if (pointInRingRows(x, y, rings.getArray(k), boundaryValue = true))
        return false
      k += 1
    }
    true
  }

  def pointInRing(x: Double, y: Double,
      xs: Array[Double], ys: Array[Double],
      boundaryValue: Boolean): Boolean = {
    val n = xs.length
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = xs(i); val yi = ys(i); val xj = xs(j); val yj = ys(j)
      val cross = (x - xi) * (yj - yi) - (y - yi) * (xj - xi)
      if (cross == 0.0 &&
          x >= math.min(xi, xj) && x <= math.max(xi, xj) &&
          y >= math.min(yi, yj) && y <= math.max(yi, yj))
        return boundaryValue
      if ((yi > y) != (yj > y)) {
        val t = (y - yi) / (yj - yi)
        if (x < xi + t * (xj - xi)) inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }

  /** geohashEncode(lon, lat[, precision]), the SQL spelling's and the
    * Column form's one lowering: the reference's argument order is
    * longitude FIRST, and precision defaults to 12 when omitted
    * (GeoHash.cpp).
    */
  def encodeExpr(cs: Seq[Expression]): Expression = {
    require(cs.size == 2 || cs.size == 3,
      s"geohashEncode expects (longitude, latitude[, precision]), got ${cs.size} arguments")
    val p = if (cs.size > 2) Cast(cs(2), IntegerType) else Literal(12)
    StaticInvoke(GeoFunctions.getClass, StringType, "encodeU",
      Seq(Cast(cs.head, DoubleType), Cast(cs(1), DoubleType), p),
      Seq(DoubleType, DoubleType, IntegerType))
  }

  /** Codegen entry (StaticInvoke): reference argument order lon-first,
    * precision clamped to 12 outside 1..12 (GeoHash.cpp
    * geohashPrecision).
    */
  def encodeU(lon: Double, lat: Double, precision: Int)
      : org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      encode(lat, lon, if (precision <= 0 || precision > 12) 12 else precision))

  def encode(lat: Double, lon: Double, precision: Int): String = {
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    val sb = new StringBuilder
    var bit = 0; var ch = 0; var even = true
    while (sb.length < precision) {
      if (even) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = ch * 2 + 1; lonLo = mid } else { ch = ch * 2; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = ch * 2 + 1; latLo = mid } else { ch = ch * 2; latHi = mid }
      }
      even = !even
      bit += 1
      if (bit == 5) { sb.append(Base32(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }

  /** Decode to the cell-center (lat, lon). */
  def decode(h: String): (Double, Double) = {
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    var even = true
    h.foreach { c =>
      val ch = Base32.indexOf(c)
      var b = 4
      while (b >= 0) {
        val bitSet = ((ch >> b) & 1) == 1
        if (even) {
          val mid = (lonLo + lonHi) / 2
          if (bitSet) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (bitSet) latLo = mid else latHi = mid
        }
        even = !even
        b -= 1
      }
    }
    ((latLo + latHi) / 2, (lonLo + lonHi) / 2)
  }

  /** geohashesInBox (reference GeoHash.cpp:263-360): the grid cells of
    * `precision` covering [lonMin,lonMax]×[latMin,latMax] — bounds
    * saturated to the world, min corners floored / max corners ceiled to
    * the cell grid so boundary cells are included, enumerated
    * longitude-major like the reference; an empty-but-valid box falls
    * back to the single cell of its aligned corner, and an inverted or
    * NaN box yields []. Longitude carries the extra bit on odd
    * precisions (bit 0 is a longitude bit).
    */
  def geohashesInBox(
      lonMin0: Double, latMin0: Double, lonMax0: Double, latMax0: Double,
      precision: Int): Seq[String] = {
    val p = math.min(math.max(precision, 1), 12)
    if (lonMax0 < lonMin0 || latMax0 < latMin0 ||
      lonMin0.isNaN || lonMax0.isNaN || latMin0.isNaN || latMax0.isNaN)
      return Seq.empty
    def sat(v: Double, lo: Double, hi: Double) = math.min(math.max(v, lo), hi)
    val lonBits = (5 * p + 1) / 2
    val latBits = 5 * p / 2
    val lonStep = 360.0 / (1L << lonBits)
    val latStep = 180.0 / (1L << latBits)
    val lonMin = math.floor(sat(lonMin0, -180, 180) / lonStep) * lonStep
    val latMin = math.floor(sat(latMin0, -90, 90) / latStep) * latStep
    val lonMax = math.ceil(sat(lonMax0, -180, 180) / lonStep) * lonStep
    val latMax = math.ceil(sat(latMax0, -90, 90) / latStep) * latStep
    val lonItems = ((lonMax - lonMin) / lonStep).toLong
    val latItems = ((latMax - latMin) / latStep).toLong
    // reference geohashesInBox.cpp:76 max_array_size = 10'000'000
    // (error 128 TOO_LARGE_ARRAY_SIZE) — the guard also keeps a
    // precision-12 world box from materializing ~10^12 cells
    if (lonItems * latItems > 10000000L)
      throw new IllegalArgumentException(
        s"geohashesInBox would produce ${lonItems * latItems} array " +
          "elements, which is bigger than the allowed maximum of " +
          "10000000 (error 128 analog)")
    val out = for {
      i <- 0L until lonItems
      j <- 0L until latItems
    } yield encode(latMin + latStep * j, lonMin + lonStep * i, p)
    if (out.isEmpty) Seq(encode(latMin, lonMin, p)) else out
  }

  private val decodeLatUdf = udf((h: String) => decode(h)._1)
  private val decodeLonUdf = udf((h: String) => decode(h)._2)

  def geohashEncode(lat: Column, lon: Column, precision: Column): Column =
    ColumnBridge.column(encodeExpr(Seq(lon, lat, precision).map(ColumnBridge.expression)))
  def geohashDecodeLat(h: Column): Column = decodeLatUdf(h)
  def geohashDecodeLon(h: Column): Column = decodeLonUdf(h)
}
