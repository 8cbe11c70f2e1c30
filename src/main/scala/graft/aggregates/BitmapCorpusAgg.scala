package graft.aggregates

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** The reference's bitmap-expression aggregate family (reference
  * /root/reference/src/AggregateFunctions/
  * AggregateFunctionBitmapExpressionCalculation.h — bitmapCount /
  * bitmapExtract / bitmapMultiCount / bitmapMultiExtract and the
  * WithDate + V2 spellings, which Cnch documents as behaviourally
  * identical) and AggregateFunctionBitmapMaxLevel.h:49 (bitmapMaxLevel),
  * as Catalyst aggregates. The SQL dialect's parametric-call spellings and
  * the Column forms in the companions ([[BitmapExprCalcAgg.count]],
  * [[BitmapMaxLevelAgg.maxLevel]], ...) build the same aggregates.
  *
  * Expression syntax (BitMapExpressionAnalyzerImpl in
  * AggregateBitmapExpressionCommon.h:343): keys with the operators `&`
  * (and), `|`/`,` (or), `~` (andnot) and parentheses, all one precedence
  * level, left-associative. Scale shape: the partial state is a pruned
  * tag→Roaring-bitmap map (only tags the expression mentions are kept at
  * update time), merged by per-key OR, so partial aggregation combines
  * map-side and the shuffle carries compressed bitmaps, not raw ids.
  */
object BitmapCorpusExpr {

  sealed trait Node
  case object Empty extends Node
  final case class Key(k: String) extends Node
  /** `_N`: the result of expression N (1-based) in a Multi call —
    * reference BitMapExpressionMultiAnalyzer replaces the token with the
    * already-computed bitmap.
    */
  final case class Ref(n: Int) extends Node
  final case class Op(op: Char, l: Node, r: Node) extends Node

  /** Characters the reference rejects as operators it does not support
    * (20021's expected-error cases: `-`, `*` and the full-width
    * lookalikes of `~ | ,`).
    */
  private val badChars = Set('-', '*', '～', '｜', '，')

  /** @param maxRef highest legal `_N` back-reference (the expression's
    *               position in the Multi list, 1-based, minus one).
    * @param withDate WithDate spellings: a key of form `<digits>_<tag>`
    *               addresses one (date, tag) pair and its tag part must
    *               not itself start with `_` (reserved — 20022's
    *               `20220105__5` expected-error case); a key with no
    *               date prefix addresses the tag across ALL dates.
    */
  def parse(s: String, maxRef: Int, withDate: Boolean = false): Node = {
    var i = 0
    val n = s.length
    def skipWs(): Unit = while (i < n && s.charAt(i) == ' ') i += 1
    def isOp(c: Char) = c == '&' || c == '|' || c == ',' || c == '~'
    def isDelim(c: Char) = isOp(c) || c == '(' || c == ')' || c == ' '
    def term(): Node = {
      skipWs()
      require(i < n, s"bitmap expression ends mid-term: '$s'")
      if (s.charAt(i) == '(') {
        i += 1
        val e = expr()
        skipWs()
        require(i < n && s.charAt(i) == ')', s"unbalanced '(' in '$s'")
        i += 1
        e
      } else {
        val start = i
        while (i < n && !isDelim(s.charAt(i))) i += 1
        require(i > start, s"expected key at offset $start in '$s'")
        val tok = s.substring(start, i)
        require(!tok.exists(badChars), s"unsupported operator in '$s'")
        if (tok.startsWith("_")) {
          val digits = tok.drop(1)
          require(digits.nonEmpty && digits.forall(_.isDigit),
            s"'_' prefixes an expression back-reference; '$tok' is not _N")
          val ref = digits.toInt
          require(ref >= 1 && ref <= maxRef,
            s"back-reference $tok out of range (have $maxRef prior expressions)")
          Ref(ref)
        } else {
          if (withDate) {
            val us = tok.indexOf('_')
            if (us > 0 && tok.take(us).forall(_.isDigit))
              require(!tok.drop(us + 1).startsWith("_"),
                s"tag part of '$tok' starts with reserved '_'")
          }
          Key(tok)
        }
      }
    }
    def expr(): Node = {
      var left = term()
      skipWs()
      while (i < n && isOp(s.charAt(i))) {
        val op = s.charAt(i)
        i += 1
        left = Op(if (op == ',') '|' else op, left, term())
        skipWs()
      }
      left
    }
    skipWs()
    if (i == n) return Empty
    val root = expr()
    skipWs()
    require(i == n, s"trailing input at offset $i in '$s'")
    root
  }

  def keys(node: Node): Set[String] = node match {
    case Key(k) => Set(k)
    case Op(_, l, r) => keys(l) ++ keys(r)
    case _ => Set.empty
  }

  def eval(node: Node, m: collection.Map[String, Roaring64NavigableMap],
      prior: IndexedSeq[Roaring64NavigableMap]): Roaring64NavigableMap =
    node match {
      case Empty => new Roaring64NavigableMap()
      case Key(k) =>
        val out = new Roaring64NavigableMap()
        m.get(k).foreach(out.or)
        out
      case Ref(ref) =>
        val out = new Roaring64NavigableMap()
        out.or(prior(ref - 1))
        out
      case Op(op, l, r) =>
        val a = eval(l, m, prior)
        val b = eval(r, m, prior)
        op match {
          case '&' => a.and(b)
          case '|' => a.or(b)
          case '~' => a.andNot(b)
        }
        a
    }

  /** Marker struct the TSV printer renders with braces — CH prints
    * BitMap64 values as `{1,2,3}`.
    */
  val bitmapStruct: StructType =
    StructType(Seq(StructField("__bitmap", ArrayType(LongType, containsNull = false))))

  def toStruct(bm: Roaring64NavigableMap): InternalRow = {
    val out = new Array[Any](bm.getLongCardinality.toInt)
    val it = bm.getLongIterator
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    InternalRow(new GenericArrayData(out))
  }
}

/** tag→bitmap buffer shared by the expression-calculation family. */
final class BitmapTagBuf {
  val m = new mutable.HashMap[String, Roaring64NavigableMap]()
  def add(key: String, id: Long): Unit =
    m.getOrElseUpdate(key, new Roaring64NavigableMap()).addLong(id)
  def or(key: String, bm: Roaring64NavigableMap): Unit =
    m.get(key) match {
      case Some(acc) => acc.or(bm)
      case None =>
        val fresh = new Roaring64NavigableMap()
        fresh.or(bm)
        m.update(key, fresh)
    }
}

/** @param bmExpr   a serialized bitmap state (BinaryType), OR'd into the
  *                 tag's bitmap, or a raw LongType id, added to it.
  * @param dateExpr present for the WithDate spellings: the lookup key is
  *                 `<date>_<tag>`.
  * @param multi    Multi spellings return one element per expression;
  *                 plain ones return the single expression's value.
  * @param extract  extract returns the member set; count its cardinality.
  */
case class BitmapExprCalcAgg(
    tagExpr: Expression,
    bmExpr: Expression,
    dateExpr: Option[Expression],
    expressions: Seq[String],
    multi: Boolean,
    extract: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BitmapTagBuf] {

  require(expressions.nonEmpty, "bitmap expression aggregate needs parameters")

  // parse eagerly: malformed expressions fail at plan time, matching the
  // reference's expected-error cases (error 36)
  @transient private lazy val asts: IndexedSeq[BitmapCorpusExpr.Node] = {
    val out = expressions.zipWithIndex.map { case (e, idx) =>
      BitmapCorpusExpr.parse(e, idx, withDate = dateExpr.isDefined)
    }
    out.toIndexedSeq
  }
  asts

  @transient private lazy val wanted: Set[String] =
    asts.flatMap(BitmapCorpusExpr.keys).toSet

  @transient private lazy val rawIds: Boolean = bmExpr.dataType == LongType

  override def children: Seq[Expression] =
    dateExpr.toSeq ++ Seq(tagExpr, bmExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = {
    val one: DataType =
      if (extract) BitmapCorpusExpr.bitmapStruct else LongType
    if (multi) ArrayType(one, containsNull = false) else one
  }
  override def prettyName: String = "bitmap_expr_calc"

  override def createAggregationBuffer(): BitmapTagBuf = new BitmapTagBuf

  override def update(b: BitmapTagBuf, input: InternalRow): BitmapTagBuf = {
    val tag = tagExpr.eval(input)
    val value = bmExpr.eval(input)
    if (tag == null || value == null) return b
    // WithDate rows are addressable BOTH as `<date>_<tag>` and as the
    // bare tag (a date-less key unions the tag across all dates —
    // 20022's `'2'` over a date-keyed table counts every date)
    val keys: Seq[String] = dateExpr match {
      case None => Seq(tag.toString)
      case Some(de) =>
        val d = de.eval(input)
        if (d == null) return b
        Seq(s"${d.toString}_${tag.toString}", tag.toString)
    }
    val hit = keys.filter(wanted.contains)
    if (hit.isEmpty) b
    else if (rawIds) {
      val id = value.asInstanceOf[Long]
      hit.foreach(b.add(_, id))
      b
    } else {
      val bm = BitmapAggregates.deserialize(value.asInstanceOf[Array[Byte]])
      hit.foreach(b.or(_, bm))
      b
    }
  }

  override def merge(b: BitmapTagBuf, other: BitmapTagBuf): BitmapTagBuf = {
    other.m.foreach { case (k, bm) => b.or(k, bm) }
    b
  }

  override def eval(b: BitmapTagBuf): Any = {
    val results = mutable.ArrayBuffer.empty[Roaring64NavigableMap]
    asts.foreach { ast =>
      results += BitmapCorpusExpr.eval(ast, b.m, results.toIndexedSeq)
    }
    def one(bm: Roaring64NavigableMap): Any =
      if (extract) BitmapCorpusExpr.toStruct(bm) else bm.getLongCardinality
    if (multi) new GenericArrayData(results.map(one).toArray)
    else one(results.head)
  }

  override def serialize(b: BitmapTagBuf): Array[Byte] = {
    val parts = b.m.toSeq.map { case (k, bm) =>
      (k.getBytes("UTF-8"), BitmapAggregates.serialize(bm))
    }
    val total = 4 + parts.map { case (kb, vb) => 4 + kb.length + 4 + vb.length }.sum
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.putInt(parts.size)
    parts.foreach { case (kb, vb) =>
      bb.putInt(kb.length); bb.put(kb)
      bb.putInt(vb.length); bb.put(vb)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BitmapTagBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new BitmapTagBuf
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](bb.getInt); bb.get(kb)
      val vb = new Array[Byte](bb.getInt); bb.get(vb)
      b.m.update(new String(kb, "UTF-8"), BitmapAggregates.deserialize(vb))
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): BitmapExprCalcAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BitmapExprCalcAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapExprCalcAgg =
    if (dateExpr.isDefined)
      copy(dateExpr = Some(newChildren(0)), tagExpr = newChildren(1),
        bmExpr = newChildren(2))
    else copy(tagExpr = newChildren(0), bmExpr = newChildren(1))
}

object BitmapExprCalcAgg {
  private def agg(expressions: Seq[String], multi: Boolean, extract: Boolean)(
      tag: Column, value: Column): Column =
    ColumnBridge.column(BitmapExprCalcAgg(ColumnBridge.expression(tag),
      ColumnBridge.expression(value), None, expressions, multi, extract)
      .toAggregateExpression())

  /** Column form of bitmapCount('expr')(tag, value): the segment's
    * cardinality. `value` is a raw LongType id or a bitmap state.
    */
  def count(expression: String)(tag: Column, value: Column): Column =
    agg(Seq(expression), multi = false, extract = false)(tag, value)

  /** bitmapMultiCount: one shared tag→bitmap state, one cardinality per
    * expression (later expressions may reference earlier ones as `_N`).
    */
  def multiCount(expressions: String*)(tag: Column, value: Column): Column =
    agg(expressions, multi = true, extract = false)(tag, value)

  /** bitmapExtract: the segment's members, ascending, as array<bigint>. */
  def extract(expression: String)(tag: Column, value: Column): Column =
    agg(Seq(expression), multi = false, extract = true)(tag, value)
      .getField("__bitmap")
}

/** level→bitmap buffer for bitmapMaxLevel. */
final class LevelBmBuf {
  val m = new mutable.HashMap[Long, Roaring64NavigableMap]()
  def or(key: Long, bm: Roaring64NavigableMap): Unit =
    m.get(key) match {
      case Some(acc) => acc.or(bm)
      case None =>
        val fresh = new Roaring64NavigableMap()
        fresh.or(bm)
        m.update(key, fresh)
    }
}

/** bitmapMaxLevel[(return_type)](level, bitmap) — each id counts only at
  * the highest level it reached (descending sweep removes the running
  * union from every lower level, reference
  * AggregateFunctionBitmapMaxLevel.h:117-152). Output ascending by level:
  * mode 0 → [(level, count)], mode 1 → [(level, [ids])], mode 2 → the
  * counts (as one-element arrays) then the id lists.
  */
case class BitmapMaxLevelAgg(
    levelExpr: Expression,
    bmExpr: Expression,
    mode: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[LevelBmBuf] {

  require(mode >= 0 && mode <= 2, s"bitmapMaxLevel: return_type must be 0..2, got $mode")

  override def children: Seq[Expression] = Seq(levelExpr, bmExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = {
    val elem =
      if (mode == 0)
        StructType(Seq(StructField("col1", LongType), StructField("col2", LongType)))
      else
        StructType(Seq(StructField("col1", LongType),
          StructField("col2", ArrayType(LongType, containsNull = false))))
    ArrayType(elem, containsNull = false)
  }
  override def prettyName: String = "bitmap_max_level"

  override def createAggregationBuffer(): LevelBmBuf = new LevelBmBuf

  override def update(b: LevelBmBuf, input: InternalRow): LevelBmBuf = {
    val lvl = levelExpr.eval(input)
    val bytes = bmExpr.eval(input)
    if (lvl != null && bytes != null)
      b.or(lvl.asInstanceOf[Number].longValue(),
        BitmapAggregates.deserialize(bytes.asInstanceOf[Array[Byte]]))
    b
  }

  override def merge(b: LevelBmBuf, other: LevelBmBuf): LevelBmBuf = {
    other.m.foreach { case (k, bm) => b.or(k, bm) }
    b
  }

  override def eval(b: LevelBmBuf): Any = {
    val desc = b.m.keys.toArray.sorted(Ordering.Long.reverse)
    val seen = new Roaring64NavigableMap()
    val deduped = desc.map { level =>
      val bm = b.m(level)
      bm.andNot(seen)
      seen.or(bm)
      (level, bm)
    }.reverse
    def ids(bm: Roaring64NavigableMap): GenericArrayData = {
      val out = new Array[Any](bm.getLongCardinality.toInt)
      val it = bm.getLongIterator
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      new GenericArrayData(out)
    }
    val rows: Array[Any] = mode match {
      case 0 => deduped.map { case (l, bm) =>
        InternalRow(l, bm.getLongCardinality): Any }
      case 1 => deduped.map { case (l, bm) => InternalRow(l, ids(bm)): Any }
      case 2 =>
        deduped.map { case (l, bm) =>
          InternalRow(l, new GenericArrayData(Array[Any](bm.getLongCardinality))): Any
        } ++ deduped.map { case (l, bm) => InternalRow(l, ids(bm)): Any }
    }
    new GenericArrayData(rows)
  }

  override def serialize(b: LevelBmBuf): Array[Byte] = {
    val parts = b.m.toSeq.map { case (k, bm) =>
      (k, BitmapAggregates.serialize(bm))
    }
    val total = 4 + parts.map { case (_, vb) => 8 + 4 + vb.length }.sum
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.putInt(parts.size)
    parts.foreach { case (k, vb) =>
      bb.putLong(k); bb.putInt(vb.length); bb.put(vb)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): LevelBmBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new LevelBmBuf
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val k = bb.getLong
      val vb = new Array[Byte](bb.getInt); bb.get(vb)
      b.m.update(k, BitmapAggregates.deserialize(vb))
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): BitmapMaxLevelAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BitmapMaxLevelAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapMaxLevelAgg =
    copy(levelExpr = newChildren(0), bmExpr = newChildren(1))
}

object BitmapMaxLevelAgg {
  /** Column form of bitmapMaxLevel(level, bitmap) (return_type 0):
    * array<struct<col1: level, col2: users>> ascending by level.
    */
  def maxLevel(level: Column, bm: Column): Column =
    ColumnBridge.column(BitmapMaxLevelAgg(ColumnBridge.expression(level),
      ColumnBridge.expression(bm), mode = 0).toAggregateExpression())
}
