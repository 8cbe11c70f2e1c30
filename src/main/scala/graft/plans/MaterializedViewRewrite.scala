package graft.plans

import graft.Tables
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types._

/** Transparent materialized-view rewrite — the Spark-native re-expression
  * of the reference's MV-based query optimization
  * (/root/reference/src/Optimizer/Rewriter/MaterializedViewRewriter.h:37:
  * match an aggregate query against registered MV definitions, rewrite the
  * scan to the pre-aggregated storage, roll partial states up to the
  * query's coarser grouping).
  *
  * Spark-first shape: the MV is a plain parquet table of
  * `groupCols ++ (__cnt, __sum_c/__min_c/__max_c per measure)` — the
  * partial-state columns are CLOSED under re-aggregation (sum of sums,
  * min of mins, max of maxs, sum of counts), so any query grouping by a
  * SUBSET of the MV's group columns (optionally filtered on group
  * columns) is answerable from the MV without touching the base table.
  * At 100 TB that is the difference between scanning the fact table and
  * scanning a table the size of its group-key cross product; the rewrite
  * itself is a logical `Rule[LogicalPlan]` injected through
  * [[graft.GraftExtensions]], so Catalyst's own planning (broadcast,
  * AQE, pushdown into the MV scan) applies to the rewritten plan
  * unchanged.
  *
  * Guardrails: the rewrite only fires when every aggregate is derivable
  * (count(*)/count(lit), sum/min/max on a declared measure column, avg on
  * a non-decimal measure), the aggregate is neither DISTINCT nor
  * FILTERed, grouping expressions are plain columns of the MV's group
  * set, and any filters between the aggregate and the scan touch group
  * columns only. Everything else keeps the original plan — a wrong
  * rewrite is a correctness bug, a skipped one only a missed speedup.
  */
object MaterializedViews {

  /** One registered view: where its parquet lives, which base-relation
    * paths it replaces, and what it pre-aggregated. `relation` caches the
    * analyzed scan; [[MaterializedViewRewrite]] instantiates fresh
    * attribute ids per use ([[LogicalRelation.newInstance]]).
    */
  case class MvDef(
      name: String,
      basePaths: Set[String],
      mvPath: String,
      groupCols: Seq[String],
      measureCols: Seq[String],
      relation: LogicalRelation)

  private val registry = new ConcurrentHashMap[String, MvDef]()

  /** Build (or refresh) an MV over `base` and register it for rewriting.
    * The name is removed from the registry for the duration of the build
    * so the build's own aggregate can never read the stale previous
    * generation of itself.
    */
  def create(
      spark: SparkSession,
      name: String,
      base: DataFrame,
      groupCols: Seq[String],
      measureCols: Seq[String],
      mvPath: String): Unit = {
    val analyzedBase = base.queryExecution.analyzed
    require(isBareScan(analyzedBase),
      s"MV $name: base must be a bare table scan (optionally column-" +
        s"pruned), got ${analyzedBase.nodeName} — a Filter/Join/Aggregate " +
        "in the base would record the raw table's paths and silently " +
        "answer full-table aggregates with partial data")
    registry.remove(name)
    val aggs = count(lit(1)).as("__cnt") +: measureCols.flatMap(c => Seq(
      sum(col(c)).as(s"__sum_$c"),
      min(col(c)).as(s"__min_$c"),
      max(col(c)).as(s"__max_$c")))
    base.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    val basePaths = rootPaths(base.queryExecution.analyzed)
    require(basePaths.nonEmpty, s"MV $name: base plan has no file scan")
    val rel = Tables.readParquet(spark, mvPath).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr
    }.getOrElse(sys.error(s"MV $name: parquet read did not analyze to a relation"))
    registry.put(name, MvDef(name, basePaths, mvPath, groupCols, measureCols, rel))
  }

  def drop(name: String): Unit = registry.remove(name)
  def all: Seq[MvDef] = registry.values.asScala.toSeq

  /** A valid MV base: column-pruning Projects / aliases over exactly ONE
    * file relation. Anything that drops or fabricates rows (Filter,
    * Join, Aggregate, ...) is rejected — the rewrite matches queries by
    * the base table's rootPaths alone, so it cannot tell a rollup of
    * the full table from a rollup of a filtered one.
    */
  private def isBareScan(p: LogicalPlan): Boolean = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      isBareScan(c)
    case SubqueryAlias(_, c) => isBareScan(c)
    case _: LogicalRelation => true
    case _ => false
  }

  private[graft] def rootPaths(plan: LogicalPlan): Set[String] = plan.collect {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
      case _ => Seq.empty[String]
    }
  }.flatten.toSet
}

object MaterializedViewRewrite extends Rule[LogicalPlan] {
  import MaterializedViews._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MaterializedViews.all.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(ges, aes, child, _) if agg.resolved =>
        // coarsest applicable MV first — fewer group columns means a
        // smaller pre-aggregate to scan
        MaterializedViews.all.sortBy(_.groupCols.size).view
          .flatMap(mv => tryRewrite(mv, ges, aes, child))
          .headOption.getOrElse(agg)
    }

  /** The scan-side chain the rewrite accepts under an Aggregate: plain
    * column-pruning Projects, Filters (collected), aliases, ending at a
    * file relation — returns the relation's root paths and the filters.
    */
  private def baseOf(p: LogicalPlan): Option[(Set[String], Seq[Expression])] = p match {
    case Filter(cond, c) => baseOf(c).map { case (ps, fs) => (ps, cond +: fs) }
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => baseOf(c)
    case SubqueryAlias(_, c) => baseOf(c)
    case lr: LogicalRelation =>
      val ps = rootPaths(lr)
      if (ps.nonEmpty) Some((ps, Nil)) else None
    case _ => None
  }

  private def tryRewrite(
      mv: MvDef,
      ges: Seq[Expression],
      aes: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val (paths, filters) = baseOf(child).getOrElse(return None)
    if (paths != mv.basePaths) return None
    val groupSet = mv.groupCols.toSet
    // grouping must be plain MV group columns; filters may touch them only
    val groupAttrs = ges.map {
      case a: AttributeReference if groupSet(a.name) => a
      case _ => return None
    }
    if (filters.exists(_.references.exists(a => !groupSet(a.name)))) return None

    val rel = mv.relation.newInstance()
    val byName = rel.output.map(a => a.name -> a).toMap
    val cnt = byName("__cnt")

    def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      def measure(e: Expression): Option[String] = e match {
        case a: AttributeReference if mv.measureCols.contains(a.name) => Some(a.name)
        case _ => None
      }
      val repl: Option[Expression] = ae.aggregateFunction match {
        case c: Count if c.children.forall(ch => ch.foldable && ch.eval() != null) =>
          Some(Sum(cnt).toAggregateExpression())
        case Sum(e, _) => measure(e).map(m => Sum(byName(s"__sum_$m")).toAggregateExpression())
        case Min(e) => measure(e).map(m => Min(byName(s"__min_$m")).toAggregateExpression())
        case Max(e) => measure(e).map(m => Max(byName(s"__max_$m")).toAggregateExpression())
        case Average(e, _) => measure(e).flatMap { m =>
          // exact for integral sums; decimal averages keep Spark's own
          // precision rules only on the direct path — bail there
          e.dataType match {
            case _: DecimalType => None
            case _ => Some(Divide(
              Cast(Sum(byName(s"__sum_$m")).toAggregateExpression(), DoubleType),
              Cast(Sum(cnt).toAggregateExpression(), DoubleType)))
          }
        }
        case _ => None
      }
      repl.map(r => if (r.dataType == ae.dataType) r else Cast(r, ae.dataType))
    }

    var ok = true
    val newAes: Seq[NamedExpression] = aes.map { ne =>
      // transformUp, NOT transformDown: Average's replacement contains
      // fresh AggregateExpressions (sum-of-sums / sum-of-counts), and a
      // top-down transform would descend into the replacement and try to
      // rewrite those again.
      val replaced = ne.transformUp {
        case ae: AggregateExpression =>
          rewriteAgg(ae) match {
            case Some(r) => r
            case None => ok = false; ae
          }
      }
      // remaining base attrs must be grouping columns → map onto MV attrs
      val remapped = replaced.transformUp {
        case a: AttributeReference if !rel.outputSet.contains(a) =>
          byName.get(a.name).filter(_ => groupSet(a.name)).getOrElse { ok = false; a }
      }
      (ne, remapped) match {
        case (a: AttributeReference, r) => Alias(r, a.name)(exprId = a.exprId)
        case (al: Alias, r: Alias) => Alias(r.child, al.name)(exprId = al.exprId)
        case (al: Alias, r) => Alias(r, al.name)(exprId = al.exprId)
        case _ => ok = false; ne
      }
    }
    if (!ok) return None

    val newGes = groupAttrs.map(a => byName(a.name))
    val scan: LogicalPlan =
      if (filters.isEmpty) rel
      else Filter(filters.reduce(And).transformUp {
        case a: AttributeReference => byName(a.name)
      }, rel)
    logInfo(s"MaterializedViewRewrite: aggregate [${aes.map(_.name).mkString(",")}] " +
      s"rewritten onto MV '${mv.name}' (${mv.mvPath})")
    Some(Aggregate(newGes, newAes, scan))
  }
}
