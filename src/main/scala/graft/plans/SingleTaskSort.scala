package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Offset, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SORT
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.streaming.sources.MemoryPlan
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: a global `ORDER BY` whose whole input is known to be
  * small sorts in one task instead of behind a range exchange.
  *
  * A global `Sort` is planned as a `RangePartitioner` sampling job, a
  * range shuffle, and a sort per range. When the sorted input is small,
  * AQE's `CoalesceShufflePartitions` then merges the range shuffle's
  * output back into ONE partition, so the sample and the shuffle bought
  * nothing. This rule rewrites
  *
  *   `Sort(order, global = true, child)` →
  *   `Sort(order, true, Repartition(1, shuffle = false, child))`
  *
  * when the input's size is a fact, not an estimate, and at or below
  * [[oneTaskInputBytes]], the size up to which coalescing would itself
  * leave one partition. The child's single partition satisfies the
  * sort's ordered distribution, so no exchange is planned and the sort
  * runs as one task inside the stage that produces its input.
  *
  * The size is a fact when every leaf under `child` is
  *   - a materialized AQE query stage (runtime shuffle or broadcast
  *     statistics; registered with `injectRuntimeOptimizerRule`, the
  *     re-plan after the stage drops the range exchange and, having one
  *     shuffle fewer, the cost evaluator adopts it), or
  *   - a driver-resident relation with an exact row count: a
  *     `LocalRelation` or a memory-sink table (registered with
  *     `injectOptimizerRule` as well, because a sort directly over such
  *     a relation has no earlier stage after which AQE could re-plan).
  * Operators between those leaves and the sort keep Spark's size
  * estimates, which are upper bounds except under a `Generate`.
  *
  * Never rewritten: streaming plans, a `Sort` under a limit or offset
  * (planned as `TakeOrderedAndProject`), `sortWithinPartitions` (not
  * global), a sort over an explicit `Repartition`, or a sort whose
  * input already is one partition: idempotent across AQE's repeated
  * re-optimizations, and a sort over a rewritten sort adds no second
  * `Repartition`.
  * Nothing fires when AQE or its coalescing (including the final
  * stage's) is off. There is no setting of its own: the threshold is
  * Spark's coalescing decision.
  */
object SingleTaskSort extends Rule[LogicalPlan] {

  /** The input size at or below which `CoalesceShufflePartitions`
    * coalesces a shuffle to one partition under `conf`, or -1 when it
    * does not coalesce. With `parallelismFirst` (graft's default) the
    * target never drops below `minPartitionSize`, so an input of at most
    * that size stays one partition; without it the advisory size is the
    * target. (With `parallelismFirst` and `minPartitionNum = 1` Spark
    * would coalesce up to the advisory size; this keeps the smaller,
    * conservative bound.)
    */
  private def oneTaskInputBytes(conf: SQLConf): Long =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled ||
        !conf.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS)) -1L
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  private def exactLeaf(leaf: LogicalPlan): Boolean = leaf match {
    case s: LogicalQueryStage => s.isMaterialized
    case r: LocalRelation => !r.isStreaming
    case _: MemoryPlan => true
    case _ => false
  }

  /** `p` is a `Repartition` to one partition under operators that keep
    * their child's partitioning.
    */
  private def onePartition(p: LogicalPlan): Boolean = p match {
    case Repartition(1, _, _) => true
    case Sort(_, _, child, _) => onePartition(child)
    case Project(_, child) => onePartition(child)
    case Filter(_, child) => onePartition(child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val limit = oneTaskInputBytes(conf)
    if (limit < 0 || plan.isStreaming || !plan.containsPattern(SORT)) plan
    else rewrite(plan, limit)
  }

  /** Bottom-up, so a sort over a rewritten sort sees its one partition. */
  private def rewrite(p: LogicalPlan, limit: Long): LogicalPlan = p match {
    // TakeOrderedAndProject plans a sort under a limit or offset, or
    // under a projection there: only the sort's input is rewritten
    case _: GlobalLimit | _: LocalLimit | _: Offset => p.mapChildren {
      case s: Sort => s.mapChildren(rewrite(_, limit))
      case pr @ Project(_, s: Sort) => pr.copy(child = s.mapChildren(rewrite(_, limit)))
      case c => rewrite(c, limit)
    }
    case _ => p.mapChildren(rewrite(_, limit)) match {
      case s @ Sort(_, true, child, _) if !child.isInstanceOf[Repartition] &&
          !onePartition(child) && child.collectLeaves().forall(exactLeaf) &&
          child.stats.sizeInBytes <= limit =>
        s.copy(child = Repartition(1, shuffle = false, child))
      case q => q
    }
  }
}
