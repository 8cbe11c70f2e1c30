package graft.aggregates

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.PathSplitOps

/** The pathSplit, funnelPathSplit and funnelPathSplitByTimes families:
  * one lowering, which the SQL spellings and the Column forms both
  * build — CollectList of the group's (time, index, param[, extras…])
  * structs, then a StaticInvoke of the matching walk in
  * [[PathSplitOps]] (the reference's collect-then-scan shape).
  */
object PathSplitAgg {

  /** Every spelling [[lower]] accepts: the three bases, each plain and
    * with the R (terminating-event reverse walk), D (dedup) and RD
    * suffixes.
    */
  val spellings: Seq[String] =
    for {
      base <- Seq("pathSplit", "funnelPathSplit", "funnelPathSplitByTimes")
      suffix <- Seq("", "R", "D", "RD")
    } yield base + suffix

  /** Parameter `i` of the parametric aggregate `fn` as a Long: the
    * parametric-call rewrite merges the literal parameters ahead of the
    * event arguments in `cs`.
    */
  private[graft] def longParam(fn: String, cs: Seq[Expression], i: Int): Long =
    cs(i) match {
      case Literal(v, _) if v != null => v.toString.toDouble.toLong
      case other => throw new IllegalArgumentException(
        s"$fn: parameter ${i + 1} must be a literal, got $other")
    }

  /** Lower the spelling `name` (one of [[spellings]]) over `cs`, its
    * parameters then its event arguments:
    *  - pathSplit (reference AggregateFunctionPathSplit.cpp:30-58):
    *    (max_session_size, max_session_depth)(time, event_index, param).
    *    The D variants register but do NOT dedup: the reference's own
    *    golden output (01003_aggregation_pathsplit.reference rows 3-4)
    *    shows pathSplitD/RD emitting consecutive equal (1,'') nodes — the
    *    shipped binary's observable behavior, which we match.
    *  - funnelPathSplit[ByTimes] (AggregateFunctionFunnelPathSplit.cpp:
    *    25-90): (window, max_session_depth, level_flag, [prop_flags…])
    *    (time, event_index, param[, extra_props…]); popcount(prop_flags)
    *    must not exceed the extra-prop count — the corpus's
    *    expected-error 36 case.
    * Every spelling returns an array of paths of (col1 event, col2
    * param) nodes; funnelPathSplit's holds at most one.
    */
  def lower(name: String, cs: Seq[Expression]): Expression = {
    val base = name.stripSuffix("D").stripSuffix("R")
    val rev = name.stripSuffix("D") != base
    val funnel = base != "pathSplit"
    val dedup = funnel && name.endsWith("D")
    val nParams = if (funnel) 4 else 2
    if (funnel) require(cs.size >= 7, s"$base requires 4 parameters and at least 3 arguments")
    else require(cs.size == 5, s"pathSplit requires 2 parameters and 3 arguments, got ${cs.size}")
    // every parameter but funnel's prop_flags array is a positive integer
    val params = Seq.tabulate(if (funnel) 3 else 2)(longParam(base, cs, _))
    require(params.forall(_ > 0), s"$base(${params.map(_ => ">0").mkString(", ")})(...)")
    val flags: Seq[Long] = if (!funnel) Seq.empty else cs(3) match {
      case CreateArray(children, _) => children.map {
        case Literal(v, _) if v != null => v.toString.toDouble.toLong
        case other => throw new IllegalArgumentException(
          s"$base: prop_flags must be literal integers, got $other")
      }
      case Literal(null, _) | Literal(_, NullType) => Seq.empty
      case other => throw new IllegalArgumentException(
        s"$base: parameter 4 must be an array literal, got $other")
    }
    val args = cs.drop(nParams)
    val nExtras = args.size - 3
    val totalFlagged = flags.map(java.lang.Long.bitCount(_).toLong).sum
    if (totalFlagged > nExtras) throw new IllegalArgumentException(
      s"$base: extra prop amount $nExtras is less than the $totalFlagged " +
        "specified in prop_flag")
    val types = Seq(LongType, IntegerType, StringType) ++ Seq.fill(nExtras)(StringType)
    val fields = args.zip(types).map { case (a, t) => Cast(a, t) }
    val lst = CollectList(CreateNamedStruct(
      fields.zipWithIndex.flatMap { case (f, i) => Seq(Literal(s"f${i + 1}"), f) }))
      .toAggregateExpression()
    val inType = ArrayType(StructType(
      types.zipWithIndex.map { case (t, i) => StructField(s"f${i + 1}", t) }))
    val props =
      if (funnel) Seq(Literal.create(flags.toArray, ArrayType(LongType)), Literal(nExtras))
      else Nil
    val walkArgs = lst +: (params.map(Literal(_)) ++ props ++ Seq(Literal(rev), Literal(dedup)))
    StaticInvoke(PathSplitOps.getClass,
      ArrayType(ArrayType(StructType(Seq(
        StructField("col1", IntegerType), StructField("col2", StringType))))),
      base, walkArgs, inType +: walkArgs.tail.map(_.dataType), returnNullable = false)
  }

  private def columnForm(name: String, windowUs: Long, maxDepth: Int, levels: Int,
      events: Seq[Column]): Expression =
    lower(name, Seq(Literal(windowUs), Literal(maxDepth.toLong), Literal(levels.toLong),
      CreateArray(Nil)) ++ events.map(ColumnBridge.expression))

  /** Column form of `funnelPathSplit(windowUs, maxDepth, levelFlag)(ts,
    * index, param)`: the (col1 event, col2 param) nodes of the first
    * session reaching the deepest funnel level, empty without one.
    */
  def funnelPathSplit(windowUs: Long, maxDepth: Int, levelFlag: Int)(
      ts: Column, index: Column, param: Column): Column =
    ColumnBridge.column(Flatten(
      columnForm("funnelPathSplit", windowUs, maxDepth, levelFlag, Seq(ts, index, param))))

  /** Column form of `funnelPathSplitByTimes(windowUs, maxDepth,
    * levels)(ts, index, param)`: one path per funnel step-1 event.
    */
  def funnelPathSplitByTimes(windowUs: Long, maxDepth: Int, levels: Int)(
      ts: Column, index: Column, param: Column): Column =
    ColumnBridge.column(
      columnForm("funnelPathSplitByTimes", windowUs, maxDepth, levels, Seq(ts, index, param)))
}
