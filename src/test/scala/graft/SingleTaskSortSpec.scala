package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.plans.SingleTaskSort

/** A global sort over a small, materialized input runs as one task:
  * no range-partition sample job, no range shuffle. The comparison run
  * excludes the rule by name through Spark's own excluded-rules
  * settings, which gives the plans the rule replaces.
  */
class SingleTaskSortSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val Excluded = Seq(
    "spark.sql.optimizer.excludedRules", "spark.sql.adaptive.optimizer.excludedRules")

  private def withoutRule[A](body: => A): A = {
    Excluded.foreach(spark.conf.set(_, SingleTaskSort.ruleName))
    try body finally Excluded.foreach(spark.conf.unset)
  }

  /** Rows, job count and final adaptive plan of one execution of `df`. */
  private def run(df: DataFrame): (Seq[Row], Int, SparkPlan) = {
    val (rows, jobs) = JobCount(spark)(df.collect().toSeq)
    val plan = df.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    (rows, jobs, plan)
  }

  private def rangeExchanges(plan: SparkPlan): Int = collect(plan) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }.size

  private def coalesces(plan: SparkPlan): Int = collect(plan) { case c: CoalesceExec => c }.size

  private val floorSorts =
    Seq("q78_pivot", "q99_spatial_join_auto", "q118_job_global_daily", "q194_zonemap_pruned")

  floorSorts.foreach { name =>
    test(s"$name sorts in one task: no range exchange, 2 fewer jobs, same rows in order") {
      val build = SparkEntry.queries(name)
      val (baseRows, baseJobs, basePlan) = withoutRule(run(build(spark, Sf)))
      val (rows, jobs, plan) = run(build(spark, Sf))
      assert(rangeExchanges(basePlan) == 1, basePlan.treeString)
      assert(rangeExchanges(plan) == 0, plan.treeString)
      assert(coalesces(plan) == 1, plan.treeString)
      assert(jobs == baseJobs - 2, s"$jobs jobs with the rule, $baseJobs without")
      assert(rows.nonEmpty && rows == baseRows)
    }
  }

  /** `groups` keys, one (key, count) row each, sorted by count desc, key. */
  private def sortedAgg(groups: Long): DataFrame =
    spark.range(0, 3 * groups, 1, 4)
      .groupBy((col("id") % groups).as("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("k"))

  test("a sort whose runtime input is above the coalescing size keeps its range exchange") {
    // 200k groups shuffle several MB, above the 1 MB minPartitionSize
    val (rows, _, plan) = run(sortedAgg(200000))
    assert(rangeExchanges(plan) == 1, plan.treeString)
    assert(coalesces(plan) == 0, plan.treeString)
    assert(rows.size == 200000 && rows.map(_.getLong(0)) == (0L until 200000L))
    // the same shape with 50 groups is under it
    val (small, _, smallPlan) = run(sortedAgg(50))
    assert(rangeExchanges(smallPlan) == 0 && coalesces(smallPlan) == 1, smallPlan.treeString)
    assert(small.map(_.getLong(0)) == (0L until 50L))
  }

  test("the rule inserts one Repartition, once, and leaves limits and local sorts alone") {
    import spark.implicits._
    val local = Seq((3, "c"), (1, "a"), (2, "b")).toDF("i", "s")
    def repartitions(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case r: Repartition => r }.size
    val sorted = local.orderBy(col("i"))
    assert(repartitions(sorted) == 1)
    val optimized = sorted.queryExecution.optimizedPlan
    assert(SingleTaskSort(optimized) == optimized)
    val resorted = sorted.orderBy(col("s"))
    assert(repartitions(resorted) == 1, resorted.queryExecution.optimizedPlan.treeString)
    assert(repartitions(local.orderBy(col("i")).limit(2)) == 0)
    // a top-K sort stays unrewritten when sorts below it are rewritten
    val topK = sorted.union(sorted).orderBy(col("s")).limit(2)
    assert(repartitions(topK) == 2, topK.queryExecution.optimizedPlan.treeString)
    assert(repartitions(local.sortWithinPartitions(col("i"))) == 0)
    val (rows, jobs, plan) = run(sorted)
    assert(rows.map(_.getInt(0)) == Seq(1, 2, 3))
    assert(jobs == 1 && rangeExchanges(plan) == 0 && coalesces(plan) == 1, plan.treeString)
  }
}
