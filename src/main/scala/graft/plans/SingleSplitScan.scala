package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, PartitionedFileUtil, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Plan the file scans of a request that Spark reads in one task each as
  * what they are: single partitions.
  *
  * A non-bucketed `FileSourceScanExec` reports `UnknownPartitioning`, so
  * `EnsureRequirements` puts an exchange above it for every aggregate,
  * window, sort-merge join side and global sort, even when the scan is
  * one task. Over inputs of a few KB each such exchange is a separate
  * adaptive-execution job whose map and reduce sides are one task each:
  * the cost is the stage's fixed scheduling cost, not work.
  *
  * [[PlanSingleSplitScans]] decides once per plan: when EVERY file scan
  * of the plan is one whose selected files Spark's own `FilePartition`
  * planning packs into exactly one partition (the same `maxSplitBytes` /
  * `openCostInBytes` computation the scan's read RDD makes, no threshold
  * of its own), it wraps each in [[SingleSplitScanExec]], which reports
  * `SinglePartition`. A single partition satisfies every clustered or
  * ordered distribution that does not fix a partition count, so a
  * request over one-split inputs plans as one stage plus its broadcasts.
  * A plan with any multi-split, bucketed or streaming source scan is left
  * exactly as Spark plans it, so a one-split side never meets a
  * fact-scale side in a join; stateful operators that need N > 1 state
  * partitions (their distribution fixes N) keep their exchanges too.
  *
  * It is a query post-planner rule, which only adaptive query execution
  * applies (on the initial plan and on every re-plan): with
  * `spark.sql.adaptive.enabled` off, and in streaming micro-batches, which
  * never run adaptively, plans are not rewritten.
  */
object PlanSingleSplitScans extends Rule[SparkPlan] {

  // Strip, then wrap: adaptive execution applies post-planner rules on
  // every re-plan, and a plan passed twice is wrapped once. A re-plan
  // holds the stages already planned as leaves; their scans count too.
  override def apply(plan: SparkPlan): SparkPlan = {
    val bare = plan.transformUp { case SingleSplitScanExec(scan) => scan }
    val scans = fileScans(bare)
    if (scans.isEmpty || !scans.forall(readsAsOnePartition)) bare
    else bare.transformUp { case s: FileSourceScanExec => SingleSplitScanExec(s) }
  }

  private def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case s: FileSourceScanExec => Seq(s)
    case s: QueryStageExec => fileScans(s.plan)
    case r: ReusedExchangeExec => fileScans(r.child)
    case p => p.children.flatMap(fileScans)
  }

  /** Whether every leaf of `plan` is a batch file relation Spark reads as
    * one split (over all its files: no pruning is assumed). Over such
    * inputs every intermediate result is bounded by a few MiB of input,
    * which is what a caller needs before it hints a broadcast of a frame
    * whose output is not bounded by its leaves (a cross join). */
  def inputsReadAsOneSplit(plan: LogicalPlan): Boolean = {
    val leaves = plan.collectLeaves()
    leaves.nonEmpty && leaves.forall {
      case l: LogicalRelation if l.stream.isEmpty => l.relation match {
        case r: HadoopFsRelation if r.bucketSpec.isEmpty =>
          val listing = r.location.listFiles(Nil, Nil)
          packsIntoOnePartition(r, FilePartition.maxSplitBytes(r.sparkSession, listing),
            listing.iterator.flatMap(d => d.files.iterator.map(d.values -> _)))
        case _ => false
      }
      case _ => false
    }
  }

  /** Whether the scan's read RDD would have exactly one partition: the
    * split and packing steps of `FileSourceScanExec.createReadRDD` over
    * the statically selected files (runtime pruning only drops files). */
  private def readsAsOnePartition(scan: FileSourceScanExec): Boolean =
    !scan.bucketedScan && scan.stream.isEmpty && {
      val listing = scan.selectedPartitions
      packsIntoOnePartition(scan.relation,
        FilePartition.maxSplitBytes(scan.relation.sparkSession, listing),
        listing.filePartitionIterator.flatMap(p => p.files.map(p.values -> _)))
    }

  private def packsIntoOnePartition(relation: HadoopFsRelation, maxSplitBytes: Long,
                                    files: Iterator[(InternalRow, FileStatusWithMetadata)]): Boolean = {
    val session: SparkSession = relation.sparkSession
    val splits = files.flatMap { case (values, file) =>
      val path = file.getPath
      PartitionedFileUtil.splitFiles(file, path,
        relation.fileFormat.isSplitable(session, relation.options, path),
        maxSplitBytes, values)
    }.toVector.sortBy(-_.length)
    FilePartition.getFilePartitions(session, splits, maxSplitBytes).size == 1
  }
}

/** A file scan read as one partition. The scan's RDD already has one
  * partition when [[PlanSingleSplitScans]] plans this node; the narrow
  * `coalesce(1)` keeps `SinglePartition` true even if it did not, and a
  * scan that runtime pruning left empty still yields its one (empty)
  * partition. Columnar when the scan is, so the scan stays in the
  * parent's whole-stage-codegen stage behind `ColumnarToRow`. */
case class SingleSplitScanExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def supportsColumnar: Boolean = child.supportsColumnar
  override def supportsRowBased: Boolean = child.supportsRowBased
  override def vectorTypes: Option[Seq[String]] = child.vectorTypes

  override protected def doExecute(): RDD[InternalRow] = onePartition(child.execute())
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    onePartition(child.executeColumnar())

  private def onePartition[T: ClassTag](rdd: RDD[T]): RDD[T] = rdd.getNumPartitions match {
    case 1 => rdd
    case 0 => sparkContext.parallelize(Seq.empty[T], 1)
    case _ => rdd.coalesce(1)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SingleSplitScanExec =
    copy(child = newChild)
}
