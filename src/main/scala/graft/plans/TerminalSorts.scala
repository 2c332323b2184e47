package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, Command, LocalRelation, LogicalPlan, Project, Repartition, RepartitionByExpression, RepartitionOperation, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.datasources.WriteFiles
import org.apache.spark.sql.internal.SQLConf

/** Global sorts without a range-sampling job when their input is small.
  *
  * Spark plans a global `Sort` as a range exchange, and the range
  * partitioner samples the exchange's input in a job of its own before
  * the exchange's map stage runs: the stage under the sort runs twice
  * per action. Most query outputs here are a few KB, so the sample and
  * the range shuffle buy nothing. Two parts fix that:
  *
  *  - [[Planning]] (a planner strategy, which AQE's re-planning also
  *    consults) sorts in one partition — no exchange, no sample — when
  *    the sort's input has a size known without a job and AQE's own
  *    partition coalescing would leave that many bytes in one partition
  *    ([[onePartitionBytes]]). Known sizes: a local relation's, and the
  *    runtime size of a finished query stage just below the sort.
  *  - [[Boundary]] (a logical rule) ends the child of a query's
  *    terminal sort at a stage boundary, a round-robin exchange, so AQE
  *    learns the child's exact size before it plans the sort. A small
  *    child then sorts in one partition; a large one keeps the range
  *    exchange, whose sample now reads the boundary's shuffle output
  *    instead of running the child again.
  *
  * Optimizer estimates are not used: through joins they read 1e10–1e22
  * bytes for inputs of a few KB. Output order is unchanged. [[install]]
  * puts both into a running session; `GraftExtensions` injects
  * [[Planning]] into sessions built with it. */
object TerminalSorts {

  /** Install both parts into `spark`, once. [[Boundary]] goes into
    * `experimental.extraOptimizations`, the batch that runs after the
    * optimizer's own rules, which would otherwise remove or move it. */
  def install(spark: SparkSession): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val x = cs.experimental
    x.synchronized {
      if (!cs.sessionState.planner.strategies.contains(Planning(cs)))
        x.extraStrategies = x.extraStrategies :+ Planning(cs)
      if (!x.extraOptimizations.contains(Boundary))
        x.extraOptimizations = x.extraOptimizations :+ Boundary
    }
  }

  /** The most bytes that AQE's `CoalesceShufflePartitions` folds into a
    * single partition under the session's confs: with a minimum
    * partition count above 1 (the default takes the cores when
    * parallelism comes first) it splits anything over the minimum
    * partition size; with 1 it keeps up to the advisory size. 0 when
    * coalescing is off. */
  private[graft] def onePartitionBytes(spark: SparkSession): Long = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    if (!conf.adaptiveExecutionEnabled ||
        !conf.coalesceShufflePartitionsEnabled) 0L
    else {
      val minParts = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
        .getOrElse(
          if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
            spark.sparkContext.defaultParallelism
          else 1)
      val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      if (minParts <= 1)
        minSize.max(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      else minSize
    }
  }

  /** Plans a global sort whose input size is known and fits one
    * partition as a sort of that input in one partition: `CoalesceExec(1)`
    * reports a single partition, which satisfies the sort's ordered
    * distribution, so no exchange is added. Any other sort is left to
    * Spark's own strategies. */
  final case class Planning(spark: SparkSession) extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Sort(order, true, child, _)
          if knownBytes(child).exists(_ <= onePartitionBytes(spark)) =>
        SortExec(order, global = true, CoalesceExec(1, planLater(child))) ::
          Nil
      case _ => Nil
    }

    private def knownBytes(p: LogicalPlan): Option[BigInt] = p match {
      case l: LocalRelation => Some(l.stats.sizeInBytes)
      case s: LogicalQueryStage if s.stats.isRuntime =>
        Some(s.stats.sizeInBytes)
      case _ => None
    }
  }

  /** Under the terminal global sort of a batch query — the sort at the
    * root, or under the write command, projections and observed metrics
    * above it — a round-robin repartition ends the sort's child at a
    * stage boundary. Skipped when AQE is off (no re-planning would read
    * the size), when the child is a local relation (its size is known),
    * and when the child is already a repartition. A sort under a limit
    * is not terminal: it plans as a top-k. */
  object Boundary extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (!conf.adaptiveExecutionEnabled || plan.isStreaming) plan
      else terminal(plan)

    private def terminal(p: LogicalPlan): LogicalPlan = p match {
      case s @ Sort(_, true, child, _) => child match {
        case _: LocalRelation | _: RepartitionOperation => s
        case _ => s.copy(child = RepartitionByExpression(Nil, child, None))
      }
      case _: Command | _: WriteFiles | _: Project | _: CollectMetrics |
          _: SubqueryAlias | Repartition(_, false, _)
          if p.children.size == 1 =>
        p.withNewChildren(Seq(terminal(p.children.head)))
      case _ => p
    }
  }
}
