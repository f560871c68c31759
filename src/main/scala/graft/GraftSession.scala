package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference's `start_spark` bootstrap
  * (/root/reference/spark/dependencies/spark.py:10-59) re-expressed for
  * Spark 4.x: UTC session time zone (oracle parity), AQE on (runtime
  * shuffle coalescing + skew-join handling at scale), shuffle
  * partitions sized to the local core count rather than the 200
  * default. On a real cluster the same builder is used with
  * `spark.sql.shuffle.partitions` sized to ~2-3x total executor cores.
  */
object GraftSession {

  /** The builder of every graft session: [[local]], `JobConfig.session`
    * and the test base.
    *
    * Artifact isolation is off, so every session of the context (each
    * stream's cloned session, `newSession()`) runs its tasks under the
    * one default executor classloader. With isolation on, each clone got
    * a fresh `ExecutorClassLoader`; `CodeGenerator`'s cache is keyed by
    * (classloader, source), so every stream replay recompiled its
    * whole-stage classes and ran them interpreted until the JIT caught
    * up. Graft adds no jar, file or archive to a session, so isolation
    * bought it nothing. The trade-off: an artifact added to one graft
    * session would be visible to all of them.
    *
    * The generated-code cache holds 512 classes, not Spark's 100. It
    * is one LRU cache per JVM, sized when the first class compiles. One
    * pass of the four ETL jobs generates 216 distinct sources (221 over
    * two passes), so at 100 entries a second pass in the same JVM
    * evicted and recompiled about 300 classes. 512 holds more than
    * twice the largest working set measured to repeat, so a repeated
    * job or query compiles nothing again. Each entry keeps one loaded
    * class alive, so the cache trades some metaspace for the recompiles.
    */
  def builder(appName: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      // native-kernel SQL surface (graft_minhash_sig, graft_byte_stats…)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // env-parameterized for the r17 full-suite floor A/B (VERDICT
      // item 4): parallelismFirst=false coalesces small shuffles to
      // the advisory size (fewer, larger reduce tasks) instead of
      // stopping at minPartitionSize to preserve parallelism. Local
      // default stays Spark's (true) — see OPTIMIZATION_r17.md for
      // the measured decision; production tunes via these envs.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_BYTES", "64MB"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // nested-schema pruning matters for the deep CORD-19-style structs
      // (SURVEY.md §4.2) and for multimodal metadata structs.
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      // snapshot maintenance is for long-running streams; a short
      // backlog replay (2-3 micro-batches) should never pay for it
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      // no process per local file: without libhadoop the stock `file:`
      // filesystem forks `chmod` for every permission it sets, and the
      // default FileContext checkpoint manager forks `readlink` on
      // every rename. Checkpoint renames go through FileSystem.rename
      // instead; checksums, .crc files and temp-then-rename stay.
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFs].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      // one executor classloader for every session (see the scaladoc)
      .config("spark.sql.artifact.isolation.enabled", "false")
      // a repeated job's generated classes stay cached (see the scaladoc)
      .config("spark.sql.codegen.cache.maxEntries", "512")
      .config("spark.ui.enabled", "false")

  /** Local session sized from env (driver harness passes SPARK_GRAFT_CPUS). */
  def local(appName: String = "graft"): SparkSession =
    create(builder(appName, sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")))

  /** Build the session and wire it: WARN logging, and eviction of its
    * [[CacheRegistry]] entries when the context ends.
    */
  def create(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new GraftEvictionListener(spark))
    spark
  }
}
