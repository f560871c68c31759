package graft.io

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** Sinks — the L of the ETL jobs (SURVEY.md §2.2). */
object Writers {

  /** K1 — the reference's single-file JSON contract:
    * `coalesce(1).write.json(dir, overwrite)` (cases_time_analysis
    * .py:309-314). coalesce(1) funnels the (small, aggregated) result
    * through one task because the downstream consumer reads exactly
    * one file — a deliberate bottleneck on final outputs only, never
    * on intermediate data (SURVEY.md §7.4 risk 6).
    *
    * A job's outputs are independent, so [[singleFileJsonAll]] writes
    * them concurrently on up to `defaultParallelism` threads: each
    * output keeps its plan and its one part file, the single-task
    * funnels just overlap. Nothing about it is configurable.
    */
  def singleFileJson(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(dir)

  /** K1 for a whole job: every `(dir, output)` is built and written
    * with [[singleFileJson]], concurrently (see [[concurrently]]).
    * Builders run on the pool too, so eager work inside one (a model
    * fit, a parquet round-trip) overlaps the other outputs' writes.
    */
  def singleFileJsonAll(spark: SparkSession,
    outputs: Seq[(String, () => DataFrame)]): Unit =
    concurrently(spark, outputs.map { case (dir, output) =>
      dir -> (() => singleFileJson(output(), dir))
    })

  /** Name prefix of [[concurrently]]'s pool threads. */
  val PoolThreadPrefix = "graft-concurrent-"
  private val threadIds = new AtomicInteger()

  /** Runs independent `(label, task)` pairs concurrently and returns
    * their results in declared order.
    *
    * The pool is created per call, sized `min(tasks, defaultParallelism)`
    * and shut down before the call returns, so nested calls each get
    * their own threads and cannot starve one another. Each task runs
    * under `SQLExecution.withThreadLocalCaptured`: it sees the caller's
    * active session and local properties, so its Spark jobs carry the
    * caller's job group and description (`cancelJobGroup` reaches
    * them). The call waits for every task, then rethrows the first
    * failure in declared order, naming that task's label.
    */
  def concurrently[T](spark: SparkSession, tasks: Seq[(String, () => T)]): Seq[T] = {
    if (tasks.isEmpty) return Seq.empty
    val size = math.min(tasks.size, spark.sparkContext.defaultParallelism)
    val pool = Executors.newFixedThreadPool(size, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, PoolThreadPrefix + threadIds.incrementAndGet())
        t.setDaemon(true)
        t
      }
    })
    try {
      val futures = tasks.map { case (_, task) =>
        SQLExecution.withThreadLocalCaptured(castToImpl(spark), pool)(task())
      }
      val outcomes = futures.map(f => Try(f.get()).recoverWith {
        case e: ExecutionException => Failure(e.getCause)
      })
      outcomes.zip(tasks).map {
        case (Success(v), _) => v
        case (Failure(e), (label, _)) =>
          throw new RuntimeException(s"$label failed: ${e.getMessage}", e)
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** K2 — parquet materialization (cases_clinical_spectrum_analysis
    * .py:115-116).
    */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Partitioned JSON — the scale-path variant of K1 for large
    * results: same format, no single-task funnel.
    */
  def partitionedJson(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  /** Sharded JSONL — the training-corpus exchange format (one JSON
    * object per line, up to N shard files). Shard routing hashes
    * `by`, so re-runs produce identical doc→shard placement; within a
    * shard, line order is task order (consumers treat shards as sets,
    * as every JSONL loader does). `shards` is an UPPER BOUND on the
    * file count: Spark writes no part file for an empty hash
    * partition, so under key skew or small inputs fewer files appear.
    * Loaders must therefore address shards through the `_shards.json`
    * manifest written alongside (sorted list of produced part files),
    * never by counting to `shards`. At 100 TB `shards` is the
    * loader's parallelism, not a coalesce bottleneck — each shard
    * writes from its own task.
    */
  def shardedJsonl(df: DataFrame, dir: String, shards: Int,
    by: org.apache.spark.sql.Column): Unit = {
    df.repartition(shards, by).write.mode("overwrite").json(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), df.sparkSession.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("part-")).sorted
    val manifest = parts.map(p => "\"" + p + "\"").mkString("[", ",", "]")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, "_shards.json"), true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** ORC sink — columnar twin of K2 for warehouses standardized on
    * ORC; same writer discipline (overwrite, no coalesce).
    */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Z-ordered parquet: range-partition and sort by the Morton
    * interleave of two keys, so every output file and row group gets
    * a min/max envelope tight in BOTH keys — predicates on either
    * dimension skip data (ZOrderSpec measures ≥2× scan reduction per
    * key from the scan's own metrics). This is the write-side half of
    * the layout story: one extra sort at write time buys two pruning
    * dimensions for every read after it. The z column is dropped
    * before writing — the layout, not the value, is the product.
    *
    * `repartitionByRange` samples z to build balanced ranges, so file
    * sizes track data volume; at 100 TB set
    * `spark.sql.shuffle.partitions` (or pass `numFiles`) to the
    * target file count.
    */
  def zOrderedParquet(df: DataFrame, path: String,
    keyA: org.apache.spark.sql.Column, keyB: org.apache.spark.sql.Column,
    numFiles: Option[Int] = None): Unit = {
    import org.apache.spark.sql.graftbridge.ZOrderLong
    val z = ZOrderLong.zorder2(keyA, keyB)
    val zed = df.withColumn("__z", z)
    val ranged = numFiles
      .map(n => zed.repartitionByRange(n, org.apache.spark.sql.functions.col("__z")))
      .getOrElse(zed.repartitionByRange(org.apache.spark.sql.functions.col("__z")))
    ranged.sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
