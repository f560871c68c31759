package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed accessors for the driver's star-schema test corpus
  * (/root/repo/TESTDATA.md). One parquet file per table under the
  * scale-factor directory.
  *
  * Every accessor is a plain parquet scan — filters and projections
  * applied by callers are pushed into the scan by Catalyst
  * (PushedFilters / ReadSchema), which is the scale-critical property:
  * at 100 TB the scan must never read columns or row groups a query
  * doesn't need.
  */
object Tables {
  final val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (session, dir, table) → analyzed scan node. `spark.read.parquet`
    * lists files and reads footers to infer the schema EVERY call —
    * a fixed ~0.1 s tax per query that dominates small-SF benchmarks
    * and re-reads object-store metadata at scale. One scan node per
    * (session, dir, table) is safe to share: DataFrames are immutable
    * plans. Session-scoped so stopped sessions don't leak stale plans
    * into new ones.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.CacheRegistry.memo(spark, ("tables.scan", dir, name))(
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Spread an UNSPLITTABLE scan across the cluster before heavy
    * map-side work (optimization guide §2.5, "input skew: one huge
    * unsplittable file… repartition immediately after the read").
    * Each corpus table is ONE parquet file with ONE row group, so
    * every scan plans as a single task and all map-side kernels
    * (shingling, hashing, vector math, per-row expression chains)
    * run serially no matter how many cores the session has — the
    * profiled suite carried ~19 s of single-task executor time at
    * sf0.1/local[32]. Hash-repartitioning on a provided (unique-ish)
    * key costs one exchange of the raw rows and no local sort (the
    * round-robin form pays sortBeforeRepartition), and is
    * deterministic under retries. Sized from `defaultParallelism`,
    * never a constant, so the fan-out tracks the session's cores at
    * every scale the driver benches. Only applied where the per-row
    * map cost dwarfs one exchange of the input rows — plain
    * filter/aggregate scans keep the bare (pushdown-friendly) scan.
    */
  def fanOut(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)

  /** Register every corpus table as a temp view so the FULL query
    * surface is reachable from `spark.sql(...)` text — the events
    * view goes through [[events]]' encoding normalization, so SQL
    * users get the same ts contract as the typed accessors. Views
    * are plan aliases over the cached scan nodes: zero data work.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    All.foreach { name =>
      val df = if (name == "events") events(spark, dir)
               else table(spark, dir, name)
      df.createOrReplaceTempView(name)
    }

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  /** The events table's `ts` encoding has varied across corpus
    * generations: TIMESTAMP(NANOS) — which Spark 4 rejects outright
    * (PARQUET_TYPE_ILLEGAL) and must be read via the public escape
    * hatch (SPARK-40819: nanos as Long, rebuilt with integer `DIV`
    * because ns-since-epoch ≈ 1.7e18 exceeds double's 2^53 exact
    * range) — and plain TIMESTAMP(MICROS), which Spark reads natively.
    * Dispatch on the scanned type so either corpus works: a LongType
    * `ts` is the nanos escape hatch firing, TimestampType is native.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // timestamp[us] without a zone annotation arrives as
        // TIMESTAMP_NTZ, which watermarks and unix_micros reject; the
        // session zone is pinned to UTC, so this cast is a pure type
        // change — the instant equals the wall-clock value.
        df.withColumn("ts", df("ts").cast(
          org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      case other =>
        // a THIRD encoding drift (DATE, STRING, INT96…) must name
        // itself at the read site — silently passing it through would
        // resurface as diffuse downstream failures, the exact mode
        // CorpusContractSpec exists to prevent
        throw new IllegalStateException(
          s"events.ts has unsupported parquet encoding $other " +
            "(expected ns-as-Long, TIMESTAMP_NTZ, or TIMESTAMP); " +
            "extend Tables.events for the new corpus generation")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
