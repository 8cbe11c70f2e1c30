package graft.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.NonSQLExpression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** In-RAM SQL dictionaries (reference src/Dictionaries/ — flat/hashed
  * dictionaries: small key→attributes tables resident on every server,
  * queried with dictGet*). The Spark-native shape is the same contract:
  * a dictionary FITS IN MEMORY by definition, so registration collects
  * the dimension once on the driver (bounded by `maxRows` — oversize
  * dimensions are rejected at register time and belong on the
  * broadcast-join path, see the `dict_lookup` query) and the snapshot
  * becomes a FIELD of each dictGet expression. Expression fields
  * serialize with the physical plan to every executor JVM, and codegen
  * pins them via `addReferenceObj` — so lookups work in multi-JVM
  * deployments with zero shuffles and zero joins on the fact side,
  * exactly like the reference's in-process dictGet.
  *
  * Values are pre-converted to Catalyst internal types (UTF8String etc.)
  * at registration so the codegen lookups return them directly.
  */
object Dictionaries {

  /** Hard ceiling on dictionary cardinality. The reference's flat/hashed
    * layouts are likewise RAM-resident per server; a dimension beyond
    * this belongs on the broadcast-join path, not in dictGet.
    */
  val MaxRows: Int = 4 << 20

  /** Marker stored in an attribute map for a PRESENT key whose value is
    * NULL — distinguishable from an ABSENT key, which falls back to the
    * attribute's declared/type default (reference FlatDictionary:
    * null_values vs loaded nulls). A Scala case object: module
    * serialization resolves back to the singleton, so the identity
    * check survives task serialization to executors. Static accessor
    * for codegen. */
  private case object DictNullMarker
  private val NullMarker: AnyRef = DictNullMarker
  def nullMarker(): AnyRef = NullMarker

  /** Field separator for composite-key canonical strings (reference
    * complex-key layouts hash the key tuple; here each field renders
    * through Spark's cast-to-string on BOTH the registration and the
    * lookup side, joined on a byte that cannot appear in typed text). */
  val KeySep = "\u0001"

  final case class Dict(
      name: String,
      keyCol: String,
      attrs: Map[String, (DataType, java.util.HashMap[java.lang.Long, Any])],
      keySet: java.util.HashSet[java.lang.Long],
      parentAttr: Option[String],
      // declared DEFAULT literal per attribute (plain Scala values,
      // converted at Literal.create time) and which attributes are
      // declared Nullable — both drive the dictGet miss value
      defaults: Map[String, Any] = Map.empty,
      nullableAttrs: Set[String] = Set.empty,
      // composite (complex-key) layout: string-keyed parallel maps
      keyCols: Seq[String] = Nil,
      cattrs: Map[String, (DataType, java.util.HashMap[String, Any])] = Map.empty,
      ckeySet: java.util.HashSet[String] = null) {

    def complex: Boolean = keyCols.length > 1

    def attrMap(attr: String): (DataType, java.util.HashMap[java.lang.Long, Any]) =
      attrs.getOrElse(attr,
        throw new IllegalArgumentException(
          s"dictionary '$name' has no attribute '$attr'"))

    def cattrMap(attr: String): (DataType, java.util.HashMap[String, Any]) =
      cattrs.getOrElse(attr,
        throw new IllegalArgumentException(
          s"dictionary '$name' has no attribute '$attr'"))

    def parentMap: java.util.HashMap[java.lang.Long, Any] =
      parentAttr.map(p => attrs(p)._2).getOrElse(
        throw new IllegalArgumentException(
          s"dictionary '$name' is not hierarchical"))
  }

  private val registry = new ConcurrentHashMap[String, Dict]()

  /** Register (or replace) a dictionary from a dimension DataFrame.
    * `parentAttr`, when given, marks the attribute holding the parent
    * key of a hierarchical dictionary (dictGetHierarchy/dictIsIn).
    * Rejects dimensions over `maxRows` rows (the driver-side collect is
    * bounded by LIMIT maxRows+1, so an oversize dimension costs one
    * truncated scan, never an OOM) — route those through a broadcast
    * join instead.
    */
  def register(
      name: String,
      dim: DataFrame,
      keyCol: String,
      parentAttr: Option[String] = None,
      maxRows: Int = MaxRows,
      defaults: Map[String, Any] = Map.empty,
      nullableAttrs: Option[Set[String]] = None): Unit = {
    val schema = dim.schema
    val rows = dim.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"dictionary '$name': dimension exceeds $maxRows rows; " +
        "an in-RAM dictionary must fit every executor — use the " +
        "broadcast-join lookup path for dimensions this large")
    val keyIdx = schema.fieldIndex(keyCol)
    val keySet = new java.util.HashSet[java.lang.Long]()
    rows.iterator.filter(r => !r.isNullAt(keyIdx))
      .foreach(r => keySet.add(anyToLong(r.get(keyIdx))))
    val attrs = schema.fields.zipWithIndex.filterNot(_._1.name == keyCol).map {
      case (f, i) =>
        val conv = CatalystTypeConverters.createToCatalystConverter(f.dataType)
        val m = new java.util.HashMap[java.lang.Long, Any]()
        rows.iterator
          .filter(r => !r.isNullAt(keyIdx))
          // a present key with NULL value is distinguishable from a
          // missing key (dictGet: NULL vs attribute default)
          .foreach(r => m.put(anyToLong(r.get(keyIdx)),
            if (r.isNullAt(i)) NullMarker else conv(r.get(i))))
        f.name -> (f.dataType, m)
    }.toMap
    parentAttr.foreach(p => require(attrs.contains(p),
      s"dictionary $name: parent attribute $p not found"))
    val nullables = nullableAttrs.getOrElse(
      schema.fields.filter(_.nullable).map(_.name).toSet)
    registry.put(name,
      Dict(name, keyCol, attrs, keySet, parentAttr, defaults, nullables))
  }

  /** Composite (complex-key) registration: `dim` must carry a `__ckey`
    * string column — Spark-side concat_ws of the key fields cast to
    * string, so the canonical form matches the lookup expression's
    * Cast-to-string exactly (reference complex-key hashed/cache
    * layouts, src/Dictionaries/HashedDictionary.cpp complex variants).
    */
  def registerComplex(
      name: String,
      dim: DataFrame,
      keyCols: Seq[String],
      maxRows: Int = MaxRows,
      defaults: Map[String, Any] = Map.empty,
      nullableAttrs: Option[Set[String]] = None): Unit = {
    val schema = dim.schema
    val rows = dim.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"dictionary '$name': dimension exceeds $maxRows rows")
    val kIdx = schema.fieldIndex("__ckey")
    val keySet = new java.util.HashSet[String]()
    rows.iterator.filter(r => !r.isNullAt(kIdx))
      .foreach(r => keySet.add(r.getString(kIdx)))
    val skip = keyCols.toSet + "__ckey"
    val cattrs = schema.fields.zipWithIndex
      .filterNot { case (f, _) => skip.contains(f.name) }.map { case (f, i) =>
        val conv = CatalystTypeConverters.createToCatalystConverter(f.dataType)
        val m = new java.util.HashMap[String, Any]()
        rows.iterator.filter(r => !r.isNullAt(kIdx))
          .foreach(r => m.put(r.getString(kIdx),
            if (r.isNullAt(i)) NullMarker else conv(r.get(i))))
        f.name -> (f.dataType, m)
      }.toMap
    val nullables = nullableAttrs.getOrElse(
      schema.fields.filter(_.nullable).map(_.name).toSet)
    registry.put(name, Dict(name, keyCols.head,
      attrs = Map.empty, keySet = null, parentAttr = None,
      defaults = defaults, nullableAttrs = nullables,
      keyCols = keyCols, cattrs = cattrs, ckeySet = keySet))
  }

  def drop(name: String): Unit = registry.remove(name)

  private def anyToLong(v: Any): java.lang.Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => other.toString.toLong
  }

  /** Plan-time lookup (dialect builder resolves names on the driver). */
  private[sql] def dict(name: String): Dict = {
    val d = registry.get(name)
    require(d != null, s"dictionary '$name' is not registered")
    d
  }

  // --- executor-side walk helpers (called from eval and codegen; the
  //     maps arrive as expression fields / codegen reference objects) ---

  /** Key chain from `key` up the parent links, key itself first —
    * reference hierarchical dictGetHierarchy: a key is appended only
    * while it IS a dictionary member (the reference's getHierarchy
    * loops while the key is found; a parent id of 0 — or any id not in
    * the dictionary — terminates the chain without being emitted).
    * Self-parent cycles cut immediately, others at 64 levels.
    */
  def hierarchyWalk(
      parent: java.util.HashMap[java.lang.Long, Any],
      keys: java.util.HashSet[java.lang.Long],
      key: Long): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var k = key
    var guard = 0
    var continue = true
    while (continue && guard < 64 &&
        keys.contains(java.lang.Long.valueOf(k))) {
      out += k
      parent.get(java.lang.Long.valueOf(k)) match {
        case p: java.lang.Number if p.longValue() != k => k = p.longValue()
        case _ => continue = false
      }
      guard += 1
    }
    new GenericArrayData(out.toArray)
  }

  def isInWalk(
      parent: java.util.HashMap[java.lang.Long, Any],
      keys: java.util.HashSet[java.lang.Long],
      child: Long,
      ancestor: Long): Boolean =
    hierarchyWalk(parent, keys, child).toLongArray().contains(ancestor)
}

/** dictGet(dict, attr, key): hash probe into the snapshot carried by the
  * expression itself. Null when the key is absent (dictGetOrDefault
  * wraps this in Coalesce).
  */
case class DictGetValue(
    attrMap: java.util.HashMap[java.lang.Long, Any],
    override val dataType: DataType,
    key: Expression)
  extends UnaryExpression with NonSQLExpression {

  override def child: Expression = key
  override def nullable: Boolean = true
  override protected def withNewChildInternal(newChild: Expression): DictGetValue =
    copy(key = newChild)

  override def nullSafeEval(k: Any): Any = {
    val v = attrMap.get(java.lang.Long.valueOf(k.asInstanceOf[Long]))
    if (v.asInstanceOf[AnyRef] eq Dictionaries.nullMarker()) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("dictAttrMap", attrMap, "java.util.HashMap")
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, k => s"""
      Object dictV = $mapRef.get(java.lang.Long.valueOf($k));
      if (dictV == null ||
          dictV == graft.sql.Dictionaries.nullMarker()) { ${ev.isNull} = true; }
      else { ${ev.value} = ($boxed) dictV; }
    """)
  }
}

/** dictHas(dict, key): membership probe against the registered key set. */
case class DictHas(
    keySet: java.util.HashSet[java.lang.Long],
    key: Expression)
  extends UnaryExpression with NonSQLExpression {

  override def child: Expression = key
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override protected def withNewChildInternal(newChild: Expression): DictHas =
    copy(key = newChild)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val k = key.eval(input)
    k != null && keySet.contains(java.lang.Long.valueOf(k.asInstanceOf[Long]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val setRef = ctx.addReferenceObj("dictKeySet", keySet, "java.util.HashSet")
    val c = key.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        boolean ${ev.value} = !${c.isNull} &&
          $setRef.contains(java.lang.Long.valueOf(${c.value}));""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}

/** dictGetHierarchy(dict, key): parent-link chain, child first. */
case class DictHierarchy(
    parentMap: java.util.HashMap[java.lang.Long, Any],
    keySet: java.util.HashSet[java.lang.Long],
    key: Expression)
  extends UnaryExpression with NonSQLExpression {

  override def child: Expression = key
  override def dataType: DataType = ArrayType(LongType)
  override protected def withNewChildInternal(newChild: Expression): DictHierarchy =
    copy(key = newChild)

  override def nullSafeEval(k: Any): Any =
    Dictionaries.hierarchyWalk(parentMap, keySet, k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("dictParentMap", parentMap, "java.util.HashMap")
    val setRef = ctx.addReferenceObj("dictKeySet", keySet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, k =>
      s"${ev.value} = graft.sql.Dictionaries.hierarchyWalk($mapRef, $setRef, $k);")
  }
}

/** dictIsIn(dict, child, ancestor): ancestor reachable via parent links. */
case class DictIsIn(
    parentMap: java.util.HashMap[java.lang.Long, Any],
    keySet: java.util.HashSet[java.lang.Long],
    childKey: Expression,
    ancestorKey: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with NonSQLExpression {

  override def left: Expression = childKey
  override def right: Expression = ancestorKey
  override def dataType: DataType = BooleanType
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DictIsIn =
    copy(childKey = newLeft, ancestorKey = newRight)

  override def nullSafeEval(c: Any, a: Any): Any =
    Dictionaries.isInWalk(parentMap, keySet,
      c.asInstanceOf[Long], a.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("dictParentMap", parentMap, "java.util.HashMap")
    val setRef = ctx.addReferenceObj("dictKeySet", keySet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, (c, a) =>
      s"${ev.value} = graft.sql.Dictionaries.isInWalk($mapRef, $setRef, $c, $a);")
  }
}

/** Complex-key dictGet: probe the string-canonical composite key. The
  * key expression is a ConcatWs of the tuple fields cast to string —
  * built by the dialect layer so both sides canonicalize through
  * Spark's own casts.
  */
case class DictGetValueComplex(
    attrMap: java.util.HashMap[String, Any],
    override val dataType: DataType,
    key: Expression)
  extends UnaryExpression with NonSQLExpression {

  override def child: Expression = key
  override def nullable: Boolean = true
  override protected def withNewChildInternal(newChild: Expression): DictGetValueComplex =
    copy(key = newChild)

  override def nullSafeEval(k: Any): Any = {
    val v = attrMap.get(k.toString)
    if (v.asInstanceOf[AnyRef] eq Dictionaries.nullMarker()) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("dictCAttrMap", attrMap, "java.util.HashMap")
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, k => s"""
      Object dictV = $mapRef.get($k.toString());
      if (dictV == null ||
          dictV == graft.sql.Dictionaries.nullMarker()) { ${ev.isNull} = true; }
      else { ${ev.value} = ($boxed) dictV; }
    """)
  }
}

/** Complex-key dictHas. */
case class DictHasComplex(
    keySet: java.util.HashSet[String],
    key: Expression)
  extends UnaryExpression with NonSQLExpression {

  override def child: Expression = key
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override protected def withNewChildInternal(newChild: Expression): DictHasComplex =
    copy(key = newChild)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val k = key.eval(input)
    k != null && keySet.contains(k.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val setRef = ctx.addReferenceObj("dictCKeySet", keySet, "java.util.HashSet")
    val c = key.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        boolean ${ev.value} = !${c.isNull} &&
          $setRef.contains(${c.value}.toString());""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}
