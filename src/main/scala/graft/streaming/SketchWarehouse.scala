package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.{HllSketch, TextFns}

/** The stream→warehouse sketch seam: a streaming job keeps a
  * PERSISTED hourly HLL register table current via foreachBatch
  * merge-upserts, so every downstream rollup (day/week/corpus
  * distinct reporting — q178's algebra) is a metadata operation over
  * stored 256-byte rows and the event stream is read exactly once,
  * by the stream itself.
  *
  * Why merge-on-write instead of emit-and-overwrite: register max is
  * associative, commutative and IDEMPOTENT, so merging each
  * micro-batch's partial registers into the stored rows is correct
  * under every failure/replay mode a stream has — a window split
  * across micro-batches contributes partial arrays that max together
  * to the exact whole (the case q177's one-batch convention must
  * assert away), and a replayed batch after a crash re-merges the
  * same registers into an unchanged table (effectively-once without
  * any transactional sink). StreamSeamSpec pins both properties
  * bit-for-bit.
  *
  * Scale shape: each micro-batch reduces to ≤ live-hours register
  * rows (one partial+final aggregate, 256 bytes per row on the
  * exchange); the merge touches only the STORED rows of the batch's
  * restatement days (partition-pruned read of a sketch-sized table)
  * and rewrites one file per affected day. Nothing anywhere is
  * proportional to the stream rate except the map-side hash.
  */
object SketchWarehouse {

  /** The maintained hourly-register table for `dir`'s events corpus
    * (created empty; fingerprinted so a regenerated corpus drops
    * stale sketches). Day-partitioned: the day is the restatement
    * unit [[graft.io.Warehouse.upsertPartitions]] replaces.
    */
  def hourlyRegsTable(spark: SparkSession, dir: String): String = {
    val t = s"graft_stream_hll_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensureMaintainedPartitionedTable(spark, t,
      s"$dir/events.parquet",
      "win_us BIGINT, regs BINARY, day DATE", "day")
    t
  }

  /** The UTC calendar day of a micro-epoch window start, as pure
    * integer arithmetic (`date_from_unix_date(win_us div 86_400e6)`)
    * — NOT `to_date(timestamp_micros(...))`, which derives the day in
    * the SESSION time zone: a non-UTC caller would place an existing
    * win_us into a different day partition than earlier writes,
    * leaving duplicate win_us rows that inflate rollup hour counts
    * (register max would still keep estimates right — but the
    * partition key must be a pure function of win_us, not of session
    * state). `div` floors like Spark's integral divide for the
    * non-negative epochs events carry; pre-1970 windows are outside
    * this corpus's domain.
    */
  private val utcDay: Column =
    expr("date_from_unix_date(CAST(win_us DIV 86400000000 AS INT))")

  /** Merge a batch of (win_us, regs) rows into the stored table:
    * union with the stored rows of the batch's days, register-max per
    * window ([[graft.functions.HllSketch.hllMergeRegs]], the one HLL
    * aggregate's register-array-in, register-array-out form), dynamic
    * partition overwrite of exactly those days (one file per day —
    * the q146 small-files rule). Idempotent by construction.
    *
    * Single-writer contract: the read-merge-overwrite sequence is not
    * atomic across CONCURRENT writers — two simultaneous upserts
    * touching the same day would each read the same stored rows and
    * the later dynamic overwrite would silently drop the earlier
    * batch's registers. Register-max idempotence covers replays of
    * one SERIAL stream (the foreachBatch path here, which Structured
    * Streaming serializes per query); a deployment with multiple
    * writers on one table needs an external per-table lock.
    */
  def mergeUpsert(spark: SparkSession, table: String,
                  batchRegs: DataFrame): Unit = {
    val withDay = batchRegs
      .withColumn("day", utcDay)
      .select(col("win_us"), col("regs"), col("day"))
    // the batch's restatement days — bounded by the backlog's span
    // (the unit of atomicity, same argument as compactPartition)
    val days = withDay.select(col("day")).distinct()
      .collect().map(_.getDate(0))
    // partition-pruned read: only the affected days' stored rows join
    // the merge, so the rewrite wave never touches other partitions
    val existing = spark.table(table)
      .where(col("day").isin(days.map(_.toString): _*))
      .select(col("win_us"), col("regs"), col("day"))
    val merged = existing.unionByName(withDay)
      .groupBy(col("win_us"))
      .agg(HllSketch.hllMergeRegs(col("regs")).as("regs"))
      .withColumn("day", utcDay)
      .select(col("win_us"), col("regs"), col("day"))
      .repartition(col("day"))
    graft.io.Warehouse.upsertPartitions(spark, table, merged)
  }

  /** [[streamHourlyRegs]] at most once per (session, dir): consumers
    * that only READ the maintained table (q193's week rollup) need it
    * current, not re-streamed — in production the stream is a
    * long-lived job and readers simply query the table it maintains.
    * (q183 itself keeps calling [[streamHourlyRegs]] directly: the
    * stream lifecycle IS what that query measures and certifies.)
    */
  def ensureStreamedHourlyRegs(spark: SparkSession, dir: String): String =
    graft.CacheRegistry.memo(spark, ("sketchwarehouse.streamed", dir))(
      streamHourlyRegs(spark, dir))

  /** Run the events backlog through the seam: hash map-side (the
    * same codegen'd hash60 the batch and q177 paths use), reduce each
    * micro-batch to hourly partial registers, merge-upsert into the
    * maintained table. Returns the table name.
    */
  def streamHourlyRegs(spark: SparkSession, dir: String): String = {
    val t = hourlyRegsTable(spark, dir)
    val src = EventStreams.readEvents(spark, dir)
      .select(
        expr("unix_micros(ts) DIV 3600000000 * 3600000000").as("win_us"),
        graft.functions.TextKernels.hash60LongCol(col("user_id")).as("h"))
    // the replay is complete when the scope ends and the checkpoint is
    // never revisited (each invocation starts fresh; durability lives
    // in the TABLE, whose merge absorbs replays)
    EventStreams.withCheckpoint("sketch-seam") { ckpt =>
      src.writeStream
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          val regs = batch.groupBy(col("win_us"))
            .agg(HllSketch.hllRegisters(col("h")).as("regs"))
          mergeUpsert(batch.sparkSession, t, regs)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    // the merges ran under the micro-batch's session clone;
    // upsertPartitions refreshed THAT session's relation cache, not
    // this one's — refresh here or a second pass in the same session
    // reads the file listing of partitions the merges just replaced
    spark.catalog.refreshTable(t)
    t
  }
}
