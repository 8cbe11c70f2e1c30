package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** ClickHouse `join_use_nulls = 0` (the DEFAULT) semantics: an outer
  * join pads the non-matched side with the column types' DEFAULT values
  * (0, '', epoch), not NULLs (reference
  * src/Interpreters/HashJoin.cpp JoinUsedFlags + default-filled
  * columns; docs/operations/settings: join_use_nulls).
  *
  * Implemented as a marker trick: each outer side gets a literal TRUE
  * column; after the join, `marker IS NULL` identifies the padded rows,
  * and only THOSE rows' attributes collapse to the type default — a
  * genuine NULL VALUE inside a matched row survives, which a blanket
  * coalesce would destroy.
  *
  * Gated by [[ChCoercions.CorpusFlag]] (set only by the stateless-corpus
  * runner) so library users keep standard SQL NULL semantics.
  */
object ChJoinDefaults extends Rule[LogicalPlan] {
  private val MarkL = "__ch_matched_l"
  private val MarkR = "__ch_matched_r"

  private def marked(p: LogicalPlan, name: String): Boolean =
    p.output.exists(_.name == name)

  private def addMark(p: LogicalPlan, name: String): (LogicalPlan, Attribute) = {
    val a = Alias(Literal(true), name)()
    (Project(p.output :+ a, p), a.toAttribute)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!ChCoercions.corpusSemantics) return plan
    // ByConity DEFAULTS join_use_nulls to 1 (reference Settings.h:461 —
    // standard SQL NULL padding; upstream ClickHouse defaults 0).
    // Type-default padding applies only after an explicit
    // SET join_use_nulls = 0 (01010 family; 00150's unset queries pin
    // the NULL default).
    if (SQLConf.get.getConfString("graft.ch.join_use_nulls", "1") == "1")
      return plan
    // Runs as a POST-HOC resolution rule with fresh output attributes
    // (transformUpWithNewOutput remaps the parents): the earlier
    // optimizer-rule variant reused the join attrs' exprIds in its
    // padding aliases, and RemoveRedundantAliases/CollapseProject
    // silently dropped the padding on some shapes (01010's
    // `SELECT t1.*, t2.x` USING join kept NULLs).
    plan.transformUpWithNewOutput {
      case j @ Join(left, right, jt @ (LeftOuter | RightOuter | FullOuter),
          cond, hint)
          if j.resolved && !marked(left, MarkL) && !marked(right, MarkR) =>
        val (l2, lm) = if (jt == RightOuter || jt == FullOuter)
          addMark(left, MarkL) else (left, null)
        val (r2, rm) = if (jt == LeftOuter || jt == FullOuter)
          addMark(right, MarkR) else (right, null)
        val inner = Join(l2, r2, jt, cond, hint)
        val mapping = Seq.newBuilder[(Attribute, Attribute)]
        val outCols: Seq[NamedExpression] = j.output.map { a =>
          val fromLeft = left.outputSet.contains(a)
          val mark = if (fromLeft) lm else rm
          if (mark == null) a
          else {
            val al = Alias(
              If(IsNull(mark), Literal.default(a.dataType), a),
              a.name)(qualifier = a.qualifier)
            mapping += a -> al.toAttribute
            al
          }
        }
        (Project(outCols, inner), mapping.result())
    }
  }
}

/** ClickHouse ROLLUP/CUBE sub-total rows carry the key columns' type
  * DEFAULTS (0, '', epoch), not NULLs (reference RollupTransform /
  * CubeTransform fill with the column default;
  * 00701_rollup.reference). Spark's grouping-sets Expand pads with
  * NULL — rewrite the aggregate's key outputs to collapse those NULLs
  * to defaults, BEFORE any ORDER BY so sub-total rows also sort as
  * their default values, matching the goldens.
  *
  * Gated by [[ChCoercions.CorpusFlag]] (corpus sessions only): a
  * grouping key that is genuinely NULL (Nullable source column) would
  * also collapse, which standard-SQL users must not see.
  */
object ChRollupDefaults extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!ChCoercions.corpusSemantics) return plan
    // SET dialect_type='ANSI' keeps standard NULL sub-total keys
    // (10720_cube_ansi golden) — only the CLICKHOUSE dialect defaults
    if (SQLConf.get.getConfString("graft.ch.dialect", "CLICKHOUSE") == "ANSI")
      return plan
    plan.transformUp {
      case agg @ Aggregate(ga, ra, child, hint)
          if agg.resolved &&
            child.output.exists(_.name == "spark_grouping_id") => {
        // grouping copies produced by Expand (original key attrs keep
        // different exprIds and appear only inside aggregate functions).
        // Only NON-Nullable source columns default: a Nullable key's
        // rollup filler IS NULL in the reference (00804/00906 goldens),
        // because the column default of Nullable(T) is NULL. The
        // original expression sits in the Expand's first (all-keys)
        // projection at the copy's output position.
        def findExpand(p: LogicalPlan): Option[Expand] = p match {
          case e: Expand => Some(e)
          case pr: Project => findExpand(pr.child)
          case _ => None
        }
        // A source counts as non-nullable when the plan says so, or
        // when it is a session-table column DECLARED non-Nullable
        // (marked via field metadata — the session's Spark schemas are
        // uniformly nullable=true)
        def srcNullable(e: Expression): Boolean = e match {
          case ar: AttributeReference
              if ar.metadata.contains("graft.ch.nonnull") => false
          case other => other.nullable
        }
        val expandOpt = findExpand(child).filter(_.projections.nonEmpty)
        // the key's SOURCE expression: the first projection where this
        // position is not the grouping-set null filler. ROLLUP/CUBE put
        // every key in projections.head; GROUPING SETS((a),(b)) has no
        // all-keys projection, so scan them all (45005)
        def srcAt(e: Expand, i: Int): Option[Expression] =
          e.projections.collectFirst {
            case proj if proj.lift(i).exists {
              case Literal(v, _) => v != null
              case _ => true
            } => proj(i)
          }
        val sourceNullable: Map[String, Boolean] =
          expandOpt.map { e =>
            e.output.zipWithIndex.map { case (a, i) =>
              a.exprId.toString -> srcAt(e, i).forall(srcNullable)
            }.toMap
          }.getOrElse(Map.empty)
        // a CONSTANT key's filler is the constant itself (the reference
        // keeps const columns const through rollup —
        // 01013_totals_without_aggregation golden), otherwise the type
        // default
        val sourceExpr: Map[String, Expression] =
          expandOpt.map { e =>
            e.output.zipWithIndex.flatMap { case (a, i) =>
              srcAt(e, i).map(a.exprId.toString -> _)
            }.toMap
          }.getOrElse(Map.empty)
        val keyAttrs = ga.collect {
          case a: AttributeReference if a.name != "spark_grouping_id" &&
              !sourceNullable.getOrElse(a.exprId.toString, true) => a
        }.toSet
        def defaulted(a: AttributeReference) = {
          val filler = sourceExpr.get(a.exprId.toString) match {
            case Some(lit: Literal) => lit
            // an Enum column's default is its FIRST listed member name
            // (DataTypeEnum::getDefault), carried as field metadata by
            // the session's CREATE TABLE (02313 rollup goldens)
            case Some(ar: AttributeReference)
                if ar.metadata.contains("graft.ch.enumDefault") =>
              Literal(ar.metadata.getString("graft.ch.enumDefault"))
            case _ => Literal.default(a.dataType)
          }
          If(IsNull(a), filler, a)
        }
        // idempotence guard (this batch runs to fixpoint): a key that
        // already sits inside its default-collapsing If has been done
        val applied = ra.exists(_.exists {
          case If(IsNull(a: AttributeReference), _: Literal, b) =>
            keyAttrs.contains(a) && a.semanticEquals(b)
          case _ => false
        })
        if (applied) agg
        else {
          val newRa = ra.map { ne =>
            val t = ne.transformUp {
              case a: AttributeReference
                  if keyAttrs.contains(a) && a.nullable => defaulted(a)
            }
            t match {
              case n: NamedExpression if n.eq(ne) => ne
              case a: Alias => a
              case other => Alias(other, ne.name)(exprId = ne.exprId,
                qualifier = ne.qualifier)
            }
          }
          if (newRa.zip(ra).forall { case (a, b) => a.eq(b) }) agg
          else Aggregate(ga, newRa, child, hint)
        }
      }
    }
  }
}
