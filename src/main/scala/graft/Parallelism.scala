package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** The one place that decides where CPU-dense work runs core-wide.
  *
  * Row-wise CPU-dense passes (shingle/minhash/simhash hashing, edit
  * distance, quality scores, NB scoring, image/audio codecs) over a
  * byte-small frame run in as many tasks as the frame has partitions:
  * a one-split scan, or an exchange AQE coalesces by bytes, serializes
  * them onto one task. Such a pass hash-spreads its input to core width
  * first ([[coreWide]]); where the input is a scan whose split count
  * already reaches core width (the large-data case) the spread is gated
  * off ([[spread]], [[spreadWhenNarrow]]), so no shuffle is added at
  * scale. [[keyed]] is the form for a pass followed by a groupBy on the
  * same key: it always repartitions, pinned to core width only when the
  * input is narrow — above core width AQE's byte-based sizing is the
  * right scaler, and a pinned width would build giant spill-prone tasks.
  *
  * The gate reads the split count from the physical plan, never from
  * `.rdd`: under AQE `df.rdd` on a plan holding an exchange runs the
  * whole upstream just to count partitions, and the query then runs it
  * again. [[splits]] launches no job. Its rule, walking down from the
  * root:
  *  - a leaf scan counts its input splits: a file scan its planned
  *    read partitions, an RDD scan (checkpointed frames) its
  *    RDD's partitions, a local relation min(rows, leaf parallelism),
  *    a range its slices; a leaf whose count is not known statically
  *    (any other leaf, or a scan with a subquery filter) counts as core
  *    width, so the gate is off;
  *  - an exchange counts its planned partitions (under AQE an upper
  *    bound: coalescing happens at run time), an AQE shuffle read its
  *    specs, a cached relation its cached plan;
  *  - a union sums its children unless it keeps their partitioning,
  *    coalesce(n) takes min(n, child), a cartesian product multiplies,
  *    limit/top-k outputs count 1;
  *  - every other node counts its widest non-broadcast child.
  * On scan-shaped frames (scan, filter, project, union, checkpointed
  * RDD, local relation) this equals `df.rdd.getNumPartitions`.
  */
object Parallelism {

  /** Scheduler cores: local[n] → n, on a cluster the executor slots. */
  def cores(s: SparkSession): Int = s.sparkContext.defaultParallelism

  /** Static split count of `df` (rule in the object doc). */
  def splits(df: DataFrame): Int =
    splits(df.queryExecution.executedPlan, cores(df.sparkSession))

  private def narrow(df: DataFrame): Boolean = splits(df) < cores(df.sparkSession)

  /** Hash-repartition `df` on `keys` to exactly core width. */
  def coreWide(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(cores(df.sparkSession), keys: _*)

  /** [[coreWide]] when `df` has fewer splits than cores, else `df`. */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    spreadWhenNarrow(df)(df, keys: _*)

  /** [[coreWide]] `df` when `gate`, the scan it derives from, has fewer
    * splits than cores, else `df`. */
  def spreadWhenNarrow(gate: DataFrame)(df: DataFrame, keys: Column*): DataFrame =
    if (narrow(gate)) coreWide(df, keys: _*) else df

  /** Repartition `df` on `keys` for a following groupBy on them: core
    * width when `df` has fewer splits than cores, else the unpinned one
    * that AQE sizes by bytes and the groupBy reuses. */
  def keyed(df: DataFrame, keys: Column*): DataFrame =
    if (narrow(df)) coreWide(df, keys: _*) else df.repartition(keys: _*)

  private def splits(p: SparkPlan, cores: Int): Int = p match {
    case a: AdaptiveSparkPlanExec => splits(a.executedPlan, cores)
    case q: QueryStageExec => splits(q.plan, cores)
    case r: ReusedExchangeExec => splits(r.child, cores)
    case r: AQEShuffleReadExec => r.partitionSpecs.length
    case e: ShuffleExchangeLike => e.numPartitions
    case m: InMemoryTableScanExec => splits(m.relation.cachedPlan, cores)
    case u: UnionExec => u.outputPartitioning match {
      case _: UnknownPartitioning => u.children.map(splits(_, cores)).sum
      case kept => kept.numPartitions
    }
    case c: CoalesceExec => math.min(c.numPartitions, splits(c.child, cores))
    case c: CartesianProductExec => splits(c.left, cores) * splits(c.right, cores)
    case _: CollectLimitExec | _: CollectTailExec | _: TakeOrderedAndProjectExec => 1
    case leaf: LeafExecNode => leafSplits(leaf).getOrElse(cores)
    case other => other.children
      .filterNot(_.outputPartitioning.isInstanceOf[BroadcastPartitioning])
      .map(splits(_, cores)).maxOption.getOrElse(cores)
  }

  // a subquery filter would run when the scan lists its splits
  private def leafSplits(leaf: LeafExecNode): Option[Int] =
    if (leaf.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) None
    else leaf match {
      case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
      case s: RDDScanExec => Some(s.rdd.getNumPartitions)
      case s: ExternalRDDScanExec[_] => Some(s.rdd.getNumPartitions)
      case s: LocalTableScanExec => Some(s.inputRDD.getNumPartitions)
      case r: RangeExec => Some(if (r.isEmptyRange) 0 else r.numSlices)
      case _ => None
    }
}
