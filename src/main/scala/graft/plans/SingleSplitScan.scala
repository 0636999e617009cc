package graft.plans

import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, PartitionedFileUtil, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileSourceStrategy, HadoopFsRelation, LogicalRelation}

/** One split, one stage: a batch file scan whose selected files pack into
  * exactly one file partition plans as `CoalesceExec(1)` over Spark's own
  * scan subtree. The subtree then reports `SinglePartition`, which
  * satisfies every distribution an aggregate, window, global sort or
  * join asks of it, so `EnsureRequirements` adds no exchange above it and
  * a small query runs as one job instead of one per AQE stage. The
  * coalesce itself is free: the scan already reads one partition.
  *
  * The strategy plans every non-streaming, non-bucketed file scan through
  * `FileSourceStrategy` itself and returns that plan, wrapped or not, so
  * Spark's strategy never plans the same scan a second time. It declines
  * (returns Nil) for anything else: a stream's own file source, a
  * bucketed table (its scan reports the bucket `HashPartitioning`), and
  * every non-scan node. A multi-split scan plans exactly as without the
  * strategy.
  *
  * The split count is the one the scan's read RDD will have — the same
  * `maxSplitBytes`, file splitting, largest-first order and packing — over
  * the scan's `selectedPartitions` file listing, without building that
  * RDD (which would create the reader and broadcast the Hadoop conf at
  * planning). At scale every scan is multi-split and the rule never
  * fires; heavy per-row operators still widen one-partition input
  * themselves (`Similarity.widen`). */
object SingleSplitScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, _, LogicalRelation(fs: HadoopFsRelation, _, _, false, _))
        if fs.bucketSpec.isEmpty =>
      FileSourceStrategy(plan).map(p => if (oneSplit(p)) CoalesceExec(1, p) else p)
    case _ => Nil
  }

  private def oneSplit(p: SparkPlan): Boolean =
    p.collectFirst { case s: FileSourceScanExec => s }.exists { scan =>
      val fs = scan.relation
      val listing = scan.selectedPartitions
      val maxSplit = FilePartition.maxSplitBytes(fs.sparkSession, listing)
      val splits = listing.filePartitionIterator.flatMap { part =>
        part.files.flatMap { f =>
          val path = f.getPath
          PartitionedFileUtil.splitFiles(f, path,
            fs.fileFormat.isSplitable(fs.sparkSession, fs.options, path), maxSplit, part.values)
        }
      }.toSeq.sortBy(-_.length)
      FilePartition.getFilePartitions(fs.sparkSession, splits, maxSplit).length == 1
    }
}
