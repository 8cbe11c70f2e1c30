package graft.plans

import scala.annotation.tailrec
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, DynamicPruning, PlanExpression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CodegenSupport, FileSourceScanExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileSourceStrategy,
  HadoopFsRelation, LogicalRelation}

/** Plans a file scan that Spark reads as one split as one partition.
  *
  * Spark reports every file scan as `UnknownPartitioning`, so
  * `EnsureRequirements` puts a hash exchange under a final aggregate, a
  * window or a join, and a range exchange (with its sampling job) under
  * a global sort, even when the scan runs as a single task. The reference
  * adds an exchange only where a child's distribution does not already
  * satisfy its parent (ExchangeMode.h:29-34); this strategy gives
  * `EnsureRequirements` what it needs to do the same. It runs Spark's
  * `FileSourceStrategy` once and wraps each `FileSourceScanExec` that
  * reads exactly one split in a [[SingleSplit]], which reports
  * `SinglePartition`. Partial and final aggregates, sorts, windows and a
  * join of two such scans then run in the scan's own task, with no
  * shuffle, sampling job or extra adaptive query stage above it. A scan
  * of several splits plans as before.
  *
  * Left alone: streaming scans (a stateful operator's state store is
  * laid out by the shuffle-partition count), bucketed tables (bucket
  * pruning can drop the one file at execution, and bucketed scans report
  * their own partitioning) and scans with a subquery or dynamic-pruning
  * partition filter (their file list is only known at execution).
  * Registered through [[graft.GraftExtensions]].
  */
object SingleSplitScan extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    if (!overFiles(plan)) Nil
    else if (plan.isStreaming) FileSourceStrategy(plan)
    else FileSourceStrategy(plan).map(_.transformUp {
      case s: FileSourceScanExec if oneSplit(s) => SingleSplit(s)
    })

  /** Whether `plan` is projections and filters over a file relation, the
    * shape `FileSourceStrategy` plans: the planner tries this strategy on
    * every logical node, and on any other node it leaves the work to
    * Spark's own strategies without running `FileSourceStrategy` twice.
    */
  @tailrec private def overFiles(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => overFiles(child)
    case Filter(_, child) => overFiles(child)
    case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
    case _ => false
  }

  /** Whether `scan` reads exactly one split, by Spark's own rule
    * (`FileSourceScanExec.createReadRDD`): one listed file, longer than 0
    * bytes (an empty file gives no split) and no longer than
    * `FilePartition.maxSplitBytes` (a longer splittable file gives
    * several). Reads the scan's file listing, which execution reuses,
    * and builds no RDD.
    */
  def oneSplit(scan: FileSourceScanExec): Boolean =
    scan.relation.bucketSpec.isEmpty &&
      !scan.partitionFilters.exists(_.exists(e =>
        e.isInstanceOf[PlanExpression[_]] || e.isInstanceOf[DynamicPruning])) && {
        val files = scan.selectedPartitions
        files.totalNumberOfFiles == 1 && files.totalFileSize > 0 &&
          files.totalFileSize <= FilePartition.maxSplitBytes(scan.relation.sparkSession, files)
      }
}

/** A one-split file scan, reported as `SinglePartition`: a row-based
  * pass-through that whole-stage codegen fuses with the scan's
  * `ColumnarToRow` below it and the operators above it, so the
  * generated code is the code of a bare scan. It hands rows on and
  * never batches: `UnionExec`'s columnar path concatenates its
  * children's partitions whatever partitioning they report, so a union
  * of two columnar one-partition children would claim one partition and
  * run two. It has no metrics of its own: the scan under it keeps
  * reporting files, rows and scan time.
  */
case class SingleSplit(child: SparkPlan) extends UnaryExecNode with CodegenSupport {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def inputRDDs(): Seq[RDD[InternalRow]] = child.asInstanceOf[CodegenSupport].inputRDDs()
  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)
  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String =
    consume(ctx, input)
  override protected def withNewChildInternal(newChild: SparkPlan): SingleSplit =
    copy(child = newChild)
}
