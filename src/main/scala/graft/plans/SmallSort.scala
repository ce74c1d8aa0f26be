package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, OrderedDistribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort on one partition, with no range sampling.
  *
  * Spark plans every global `Sort` the way hadoop-20 plans a total-order
  * sort: `InputSampler` picks cut points and `TotalOrderPartitioner`
  * range-partitions (SURVEY.md §2). Spark's `RangePartitioner` samples in
  * an extra job that runs the sort's whole input once more before the map
  * stage runs it again. For a small output hadoop-20's idiom is one reducer
  * and no sampling; this strategy is that idiom. It fires when the sort's
  * input is no larger than [[oneTaskBytes]], the size up to which AQE
  * merges a shuffle into one task anyway. Larger sorts keep range
  * partitioning, and so their parallel sort tasks.
  *
  * The strategy runs again at every AQE re-plan, where materialized stages
  * report runtime sizes: a sort whose input estimate is large can still
  * switch to one partition once the stage below it has run.
  *
  * Install it on a session with [[GraftFunctions.install]] (every
  * [[graft.core.Tables.load]] does), or with `spark.sql.extensions=`
  * [[GraftExtensions]].
  */
object SmallSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _)
        if !child.isStreaming && child.stats.sizeInBytes <= oneTaskBytes(SQLConf.get) =>
      SortExec(order, global = true, SmallSortInputExec(order, planLater(child))) :: Nil
    case _ => Nil
  }

  /** The largest shuffle AQE's partition coalescing always merges into one
    * task: `spark.sql.adaptive.advisoryPartitionSizeInBytes`, or, when
    * coalescing puts parallelism first (Spark's default), the smaller of
    * that and `spark.sql.adaptive.coalescePartitions.minPartitionSize`.
    * Above the latter, a parallelism-first coalesce keeps several
    * partitions (a 9.8 MB sort input ran 4 sort tasks on 4 cores). */
  private def oneTaskBytes(conf: SQLConf): Long = {
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      math.min(advisory, conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else advisory
  }
}

/** The input of a small global sort; it passes its rows through unchanged.
  * Its only job is the distribution it asks of its child: when the child is
  * already ordered as the sort needs (a `repartitionByRange` on the sort
  * keys, a global aggregate, a limit), exactly that ordering, so no
  * exchange is added; otherwise all tuples in one partition, so
  * `EnsureRequirements` adds a single-partition exchange, which needs no
  * cut points and runs no sampling job.
  */
case class SmallSortInputExec(order: Seq[SortOrder], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  // any one-partition layout is the single partition the sort above needs
  override def outputPartitioning: Partitioning =
    if (child.outputPartitioning.numPartitions == 1) SinglePartition
    else child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] = {
    val ordered = OrderedDistribution(order)
    if (child.outputPartitioning.satisfies(ordered)) ordered :: Nil else AllTuples :: Nil
  }

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override protected def withNewChildInternal(newChild: SparkPlan): SmallSortInputExec =
    copy(child = newChild)
}
