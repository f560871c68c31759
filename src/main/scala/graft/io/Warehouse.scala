package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Warehouse-keyed one-time artifacts: derived frames persisted as
  * EXTERNAL bucketed tables whose files outlive every session.
  *
  * The economics this encodes: a production pipeline builds its
  * derived tables (bucketed fact layouts, near-dup pair sets,
  * inverted indexes) ONCE and every later job — in any JVM — reads
  * them. A fresh session whose catalog has never seen the table
  * re-registers the surviving files with one DDL instead of paying
  * the build again. Staleness is handled by fingerprinting the SOURCE
  * data (file name/length/mtime here; etag/length on an object store,
  * same shape): a corpus regeneration changes the fingerprint and
  * forces the rebuild, so a stale artifact can never serve a new
  * corpus generation. The artifact's own location is fingerprinted
  * too, so a warehouse copied to another root rebuilds there.
  */
object Warehouse {

  final val FingerprintFile = "_graft_src_fingerprint"

  /** How this session last provided each table: "catalog" (already
    * registered), "files" (re-registered surviving warehouse files),
    * "written" (paid the build) or "created" (started empty).
    * Introspection for specs and the Bench setup report.
    */
  private def provisioned(spark: SparkSession) =
    graft.CacheRegistry.memo(spark, "warehouse.provisioned")(
      new java.util.concurrent.ConcurrentHashMap[String, String]())

  private[graft] def lastProvision(spark: SparkSession, table: String): Option[String] =
    Option(provisioned(spark).get(table))

  /** Serve `table` from the session catalog when it is registered
    * there, else run `provide`; record and return the mode.
    */
  private def provision(spark: SparkSession, table: String)(provide: => String): String = {
    val mode = if (spark.catalog.tableExists(table)) "catalog" else provide
    provisioned(spark).put(table, mode)
    mode
  }

  /** (name, length, mtime) of every data file under the source path. */
  private[graft] def sourceFingerprint(spark: SparkSession, src: String): String = {
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(s: org.apache.hadoop.fs.FileStatus): Seq[String] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else Seq(s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
    walk(fs.getFileStatus(p)).sorted.mkString("|")
  }

  /** Warehouse location of `table` on the local filesystem. */
  private[graft] def tableLocation(spark: SparkSession, table: String): String =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table).toUri.getPath

  private def locFs(spark: SparkSession, table: String)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileSystem) = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    (loc, loc.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** True iff the stored fingerprint under `loc` matches `fp` (the
    * CURRENT source state). An unreadable/corrupt fingerprint is a
    * MISMATCH (forces the rebuild), never an error — the artifact
    * must be self-healing. ONE implementation for every ensure*
    * variant, so the protocol cannot drift between them.
    */
  private def survivingFingerprint(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path, fp: String): Boolean = {
    val fpPath = new org.apache.hadoop.fs.Path(loc, FingerprintFile)
    scala.util.Try {
      fs.exists(fpPath) && {
        val in = fs.open(fpPath)
        val prev = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        prev == fp
      }
    }.getOrElse(false)
  }

  private def writeFingerprintRaw(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path, fp: String): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(loc, FingerprintFile), true)
    try out.write(fp.getBytes("UTF-8")) finally out.close()
  }

  /** Re-record the source state `table`'s rows now correspond to.
    * For MAINTENANCE writers whose rewrite deletes the table
    * directory first (overwrite insertInto does): they must restore
    * the fingerprint after the write, or the next session judges the
    * surviving artifact stale and pays the full rebuild.
    */
  private[graft] def writeFingerprint(spark: SparkSession, table: String,
      srcPath: String): Unit = {
    val (loc, fs) = locFs(spark, table)
    writeFingerprintRaw(fs, loc, artifactFingerprint(spark, fs, loc, srcPath))
  }

  /** The fingerprint stored under an artifact's location `loc`: that
    * resolved location, then the source state. GenLog commits and the
    * zone/bloom stats tables hold absolute file paths, so a warehouse
    * copied to another root must fail its guard and rebuild there; with
    * the source state alone it would serve the old tree's files.
    */
  private def artifactFingerprint(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, loc: org.apache.hadoop.fs.Path,
      srcPath: String): String =
    s"${fs.makeQualified(loc)}\n${sourceFingerprint(spark, srcPath)}"

  /** The one stale-check / delete / rebuild / mark step behind every
    * persisted artifact. When the fingerprint stored under `table`'s
    * location matches that location and the CURRENT state of
    * `srcPath` ([[artifactFingerprint]]), `reuse` serves the
    * surviving files. Otherwise the directory is deleted, `build`
    * runs, and only then is the fingerprint written: it doubles as the
    * COMMIT MARKER, so a build that throws leaves none and the next
    * call rebuilds from empty. Returns the mode `reuse` or `build`
    * reports.
    */
  private def guarded(spark: SparkSession, table: String, srcPath: String)
      (reuse: org.apache.hadoop.fs.Path => String)
      (build: org.apache.hadoop.fs.Path => String): String = {
    val (loc, fs) = locFs(spark, table)
    val fp = artifactFingerprint(spark, fs, loc, srcPath)
    if (survivingFingerprint(fs, loc, fp)) reuse(loc)
    else {
      if (fs.exists(loc)) fs.delete(loc, true)
      val mode = build(loc)
      writeFingerprintRaw(fs, loc, fp)
      mode
    }
  }

  /** Provide `table`'s directory as a fingerprint-guarded artifact
    * that is not a catalog table (a generation log): `build(loc)`
    * runs only when the surviving directory does not correspond to
    * the current state of `srcPath`. Records "files" or "written"
    * for [[lastProvision]] and returns the location.
    */
  def ensureDir(spark: SparkSession, table: String, srcPath: String)
               (build: String => Unit): String = {
    val loc = tableLocation(spark, table)
    provisioned(spark).put(table,
      guarded(spark, table, srcPath)(_ => "files") { _ => build(loc); "written" })
    loc
  }

  /** DDL column list of the surviving parquet files under `loc`, read
    * from their footers and partition directories, so re-registering
    * never evaluates the by-name `build` (for a trained or hashed
    * artifact the build IS the expensive part) and the table carries
    * the types its files hold. A layout with no data files to read
    * falls back to `fallback`.
    */
  private def survivingDdl(spark: SparkSession, loc: org.apache.hadoop.fs.Path,
                           fallback: => String): String =
    scala.util.Try(spark.read.parquet(loc.toString).schema.toDDL).getOrElse(fallback)

  private def createPartitioned(spark: SparkSession, table: String,
      schemaDdl: String, partCol: String, loc: org.apache.hadoop.fs.Path): Unit = {
    spark.sql(
      s"""CREATE TABLE $table ($schemaDdl)
         |USING parquet
         |PARTITIONED BY ($partCol)
         |LOCATION '${loc.toString}'""".stripMargin)
    ()
  }

  /** Provide `table` in the session catalog as an external bucketed
    * layout derived from the data under `srcPath`; `build` runs only
    * when neither the catalog nor valid surviving files can serve it.
    * Returns the provision mode ("catalog" | "files" | "written").
    */
  def ensureBucketedTable(spark: SparkSession, table: String, srcPath: String,
                          bucketCol: String, numBuckets: Int)
                         (build: => DataFrame): String =
    provision(spark, table) {
      guarded(spark, table, srcPath) { loc =>
        // one DDL re-registers the surviving layout: external bucketed
        // table over the files a previous JVM wrote (bucket ids are
        // encoded in the file names, so bucketed-join/pruning
        // properties are fully recovered from disk + catalog metadata)
        spark.sql(
          s"""CREATE TABLE $table (${survivingDdl(spark, loc, build.schema.toDDL)})
             |USING parquet
             |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $numBuckets BUCKETS
             |LOCATION '${loc.toString}'""".stripMargin)
        "files"
      } { loc =>
        build.write
          .option("path", loc.toString) // external: DROP TABLE keeps files
          .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
          .mode("overwrite").saveAsTable(table)
        "written"
      }
    }

  /** Provide `table` as a plain (unbucketed, unpartitioned) external
    * parquet artifact with the same fingerprinted cross-session
    * economics as [[ensureBucketedTable]] — the shape for SMALL
    * derived artifacts (a trained codebook, a merge table, calibrated
    * thresholds) whose BUILD is the expensive part. The files-reuse
    * path registers the schema the surviving files carry, like
    * [[ensureBucketedTable]], so the table reads the same rows in the
    * JVM that wrote it and in one that re-registers it. `schemaDdl`,
    * the schema `build` writes, is the fallback for a location with no
    * data files; it is passed explicitly so that path never evaluates
    * `build` (a by-name `build.schema` would force the build — and for
    * a trained artifact the build IS the training).
    */
  def ensureTable(spark: SparkSession, table: String, srcPath: String,
                  schemaDdl: String)(build: => DataFrame): String =
    provision(spark, table) {
      guarded(spark, table, srcPath) { loc =>
        spark.sql(s"CREATE TABLE $table (${survivingDdl(spark, loc, schemaDdl)}) " +
          s"USING parquet LOCATION '${loc.toString}'")
        "files"
      } { loc =>
        build.write.option("path", loc.toString)
          .mode("overwrite").saveAsTable(table)
        "written"
      }
    }

  /** Upsert a batch into a partitioned table via DYNAMIC partition
    * overwrite: only the partitions present IN THE BATCH are
    * replaced; every other partition's files are untouched (the spec
    * pins that by file listing, not by trust). This is the
    * incremental-ingest idiom for immutable-file warehouses — the
    * day's re-statement replaces the day, never the table — and the
    * unit of atomicity is the partition, which is why the partition
    * key must be the ingest/restatement key. Static overwrite mode
    * (the default) would TRUNCATE the table first; the dynamic mode
    * is set on an ISOLATED-CONF CLONE of the session (newSession:
    * same SparkContext, same external catalog, own SQLConf), so
    * concurrent queries on the caller's session never observe a
    * flipped session-wide conf and concurrent upserts cannot race a
    * save/restore. (A per-write DataFrameWriter option would be
    * cleaner still, but insertInto ignores writer options on the v1
    * table path — verified: static-mode verifyNotReadPath fires.)
    */
  def upsertPartitions(spark: SparkSession, table: String,
                       batch: DataFrame): Unit = {
    val writer = spark.newSession()
    // newSession starts from the CONTEXT's initial conf, not the
    // caller's runtime conf — semantic confs the caller set at
    // runtime (time zone, ANSI casting) must carry over or the
    // insertInto's resolution/casting silently runs under initial-
    // conf semantics while the batch plan was analyzed under the
    // caller's
    Seq("spark.sql.session.timeZone", "spark.sql.ansi.enabled",
        "spark.sql.storeAssignmentPolicy")
      .foreach(k => spark.conf.getOption(k)
        .foreach(v => writer.conf.set(k, v)))
    writer.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    org.apache.spark.sql.graftbridge.PlanBridge
      .ofRows(writer,
        org.apache.spark.sql.graftbridge.PlanBridge.analyzed(batch))
      .write.mode("overwrite").insertInto(table)
    // the write invalidated the CLONE's relation/file-index caches;
    // the caller's session needs the same (any cross-writer reader
    // does — stale listings read deleted part files otherwise)
    spark.catalog.refreshTable(table)
  }

  final val IngestLogFile = "_graft_ingest_log"

  /** Has `batchId` already been absorbed into `table`? The ingest log
    * is a newline-delimited id list at the table root — the miniature
    * of a transaction log: it makes batch absorption EXACTLY-once
    * across sessions (a merge that is merely idempotent still pays
    * its cost on every call; a non-idempotent append — postings rows
    * into an index — would silently duplicate). It lives beside the
    * fingerprint and shares its lifecycle: a corpus regeneration
    * deletes the table directory, log included, so every batch
    * re-absorbs into the rebuilt base. Single-writer, like every
    * maintenance write here.
    */
  private def ingestLogContains(spark: SparkSession, table: String,
                                batchId: String): Boolean = {
    val (loc, fs) = locFs(spark, table)
    val p = new org.apache.hadoop.fs.Path(loc, IngestLogFile)
    scala.util.Try {
      fs.exists(p) && {
        val in = fs.open(p)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toSet
        finally in.close()
        lines.contains(batchId)
      }
    }.getOrElse(false)
  }

  /** Record `batchId` as absorbed. Call AFTER the batch's write
    * completes, so a crash between write and log re-absorbs — the
    * keyed merges are idempotent, and the one non-idempotent caller
    * (the postings append) additionally probes the DATA before
    * re-appending (see Retrieval.tfIndexIncremental). The update is
    * write-temp-then-rename, never an in-place truncate: a crash
    * mid-update must not be able to ERASE previously recorded ids
    * (rename is atomic on HDFS/local; the delete+rename hole only
    * loses the log, which re-absorption then repairs).
    */
  private def ingestLogAdd(spark: SparkSession, table: String,
                           batchId: String): Unit = {
    val (loc, fs) = locFs(spark, table)
    val p = new org.apache.hadoop.fs.Path(loc, IngestLogFile)
    val tmp = new org.apache.hadoop.fs.Path(loc, IngestLogFile + ".tmp")
    val prev =
      if (fs.exists(p)) {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } else ""
    val out = fs.create(tmp, true)
    try out.write((prev + batchId + "\n").getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** Run `body` once per (`table`, `batchId`) across sessions: it is
    * skipped when the ingest log already holds `batchId`, which is
    * recorded only after `body` returns — a body that throws leaves
    * the id unrecorded, and the next call runs it again.
    */
  def absorbOnce(spark: SparkSession, table: String, batchId: String)(body: => Unit): Unit =
    if (!ingestLogContains(spark, table, batchId)) {
      body
      ingestLogAdd(spark, table, batchId)
    }

  /** Append `batch` to `table` EXACTLY once, keyed by a PRESENCE
    * predicate that is true of every batch row and of NO pre-existing
    * row (the caller's contract — the generational splits used here
    * guarantee it: base files carry no wave rows, other ingest waves
    * carry a different wave id). This is the append twin of the keyed
    * merges: insertInto is atomic per FILE (uncommitted tasks leave
    * only _temporary), but commitJob moves task files one rename at a
    * time, so a crash INSIDE the commit can expose part of a
    * multi-file append. The three crash timings:
    *   - `expected` rows present → fully absorbed, skip;
    *   - none present → plain append;
    *   - SOME present (partial commit) → surgical repair: by the
    *     presence contract, batch rows live only in batch-appended
    *     files, so drop exactly the files carrying them and
    *     re-append. The repair collect is bounded by one batch's
    *     file count.
    *
    * SCOPE: only for tables whose generational files are never
    * merged — a compaction that co-locates rows of different
    * generations in one file breaks the file-delete repair (dropping
    * "the batch's files" would destroy sibling generations). Tables
    * with a compaction lifecycle must repair by partition-scoped
    * keyed merge instead ([[upsertMergeByKey]] — see
    * VectorIngest.absorbBatch).
    */
  def appendExactlyOnce(spark: SparkSession, table: String, batch: DataFrame,
                        presence: org.apache.spark.sql.Column,
                        expected: Long): Unit = {
    val present = spark.table(table).where(presence).count()
    if (present == expected) return
    if (present > 0) {
      val bad = spark.table(table).where(presence)
        .select(org.apache.spark.sql.functions.input_file_name())
        .distinct().collect().map(_.getString(0))
      val (_, fs) = locFs(spark, table)
      bad.foreach { f =>
        fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(f)), false); ()
      }
      spark.catalog.refreshTable(table)
    }
    val cols = spark.table(table).columns.toSeq // insertInto is positional
    batch.select(cols.map(col): _*).write.mode("append").insertInto(table)
    spark.catalog.refreshTable(table)
  }

  /** Merge `batch` into partitioned `table` by row key: only the
    * partitions PRESENT in the batch are rewritten; inside them,
    * existing rows whose `keyCol` is absent from the batch are kept
    * and batch rows win (update semantics). This is the ingestion
    * path of a partitioned row store — the ANN/PQ cell stores absorb
    * an append wave by rewriting only the wave's cells — and its cost
    * is ∝ the affected partitions' contents, never the table. The
    * collect is the batch's distinct partition values: bounded by the
    * batch's span (cells ≤ codebook size, days ≤ backlog span) — the
    * same bounding argument as [[compactPartition]]. Single-writer,
    * like [[upsertPartitions]] itself.
    */
  def upsertMergeByKey(spark: SparkSession, table: String, batch: DataFrame,
                       partCol: String, keyCol: String): Unit = {
    val cols = spark.table(table).columns.toSeq // insertInto is positional
    // the batch lineage (a wave's assignment/encode) would otherwise
    // run TWICE — once for the partition collect, once in the merge
    // write; persist it so the wave is computed exactly once
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val parts = b.select(col(partCol)).distinct().collect().map(_.get(0))
      val existing = spark.table(table)
        .where(col(partCol).isin(parts.toIndexedSeq: _*))
      val kept = existing.join(b.select(col(keyCol)), Seq(keyCol), "left_anti")
      val merged = kept.select(cols.map(col): _*)
        .unionByName(b.select(cols.map(col): _*))
        .repartition(col(partCol))
      upsertPartitions(spark, table, merged)
    } finally b.unpersist(blocking = false)
  }

  /** Absorb KEY TOMBSTONES into partitioned `table`: every row whose
    * `keyCol` appears in `tombstones` leaves the table, by rewriting
    * ONLY the tombstones' partitions (each tombstone row carries
    * `partCol` — the store's assignment of its key, so the rewrite
    * never scans unaffected partitions). The delete twin of
    * [[upsertMergeByKey]], and like it idempotent: a replay finds no
    * matching keys and rewrites the partitions to their own content.
    *
    * The dynamic-overwrite pitfall handled here: a partition whose
    * EVERY row is tombstoned produces no rows in the rewrite frame,
    * and dynamic partition overwrite only replaces partitions PRESENT
    * in the written data — the emptied partition's stale files would
    * survive. Those partitions are detected (tombstone partitions
    * minus surviving ones — a bounded diff of two batch-sized
    * collects) and their directories dropped explicitly.
    *
    * At 100 TB this is deletion propagation into a derived store:
    * the change feed's delete rows (q211) arrive as (key, partition)
    * tombstones and the maintenance cost is ∝ the affected
    * partitions' contents, never the store.
    */
  def deleteMergeByKey(spark: SparkSession, table: String, tombstones: DataFrame,
                       partCol: String, keyCol: String): Unit = {
    val cols = spark.table(table).columns.toSeq
    val tb = tombstones.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val parts = tb.select(col(partCol)).distinct().collect().map(_.get(0))
      if (parts.isEmpty) return
      val existing = spark.table(table)
        .where(col(partCol).isin(parts.toIndexedSeq: _*))
      val kept = existing.join(tb.select(col(keyCol)), Seq(keyCol), "left_anti")
        .select(cols.map(col): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val keptParts = kept.select(col(partCol)).distinct()
          .collect().map(_.get(0)).toSet
        if (keptParts.nonEmpty)
          upsertPartitions(spark, table, kept.repartition(col(partCol)))
        // fully-emptied partitions: no rows to carry them through the
        // dynamic overwrite — drop their directories explicitly
        val emptied = parts.filterNot(keptParts)
        if (emptied.nonEmpty) {
          val (loc, fs) = locFs(spark, table)
          emptied.foreach { v =>
            val escaped = org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.escapePathName(v.toString)
            fs.delete(new org.apache.hadoop.fs.Path(loc, s"$partCol=$escaped"), true)
            ()
          }
          spark.sql(s"MSCK REPAIR TABLE $table DROP PARTITIONS")
          spark.catalog.refreshTable(table)
        }
      } finally kept.unpersist(blocking = false)
    } finally tb.unpersist(blocking = false)
  }

  /** Compact one partition's small files into `numFiles` (default 1)
    * by rewriting the partition through [[upsertPartitions]]. Small
    * files are the slow death of a partitioned warehouse (per-file
    * open cost, namenode pressure, starved vectorized readers);
    * periodic compaction of hot partitions restores scan efficiency
    * without touching any other partition's files.
    */
  def compactPartition(spark: SparkSession, table: String,
                       partCol: String, partValue: String,
                       numFiles: Int = 1): Unit = {
    val t = spark.table(table)
    // string literal coerces to the partition column's type; the
    // equality prunes to the one partition directory
    val slice = t.where(t.col(partCol) === partValue)
    upsertPartitions(spark, table, slice.repartition(numFiles))
  }

  /** Provide `table` as an external partitioned layout that is
    * MAINTAINED by writers rather than derived once: the table starts
    * EMPTY (mode "created") and accumulates rows through
    * [[upsertPartitions]]-style merges — the shape of a sketch table
    * a stream keeps current (q183's hourly HLL registers). The
    * fingerprint still keys the table to the SOURCE corpus
    * generation: surviving rows are re-registered only while the
    * source is unchanged ("files" + MSCK), and a regenerated corpus
    * drops the stale sketches and restarts empty — maintained rows
    * derived from data that no longer exists must never serve.
    * Like every ensure* variant, the fingerprint is checked at
    * REGISTRATION time: once the table is in this session's catalog
    * it is trusted for the session (the "catalog" fast path) — a
    * corpus regenerated UNDER a live session is outside the
    * supported lifecycle for all warehouse artifacts here.
    */
  def ensureMaintainedPartitionedTable(spark: SparkSession, table: String,
                                       srcPath: String, schemaDdl: String,
                                       partCol: String): String =
    provision(spark, table) {
      guarded(spark, table, srcPath) { loc =>
        createPartitioned(spark, table, schemaDdl, partCol, loc)
        spark.sql(s"MSCK REPAIR TABLE $table")
        "files"
      } { loc =>
        createPartitioned(spark, table, schemaDdl, partCol, loc)
        "created"
      }
    }

  /** Fixture-table name patterns SUPERSEDED by a format-version bump
    * (the memory-note discipline: a persisted artifact whose FORMAT
    * changed gets a new table name so fingerprint-matching can never
    * serve the old layout). The old directories are dead bytes the
    * moment the bump lands — this registry is what [[dropSuperseded]]
    * sweeps, and appending to it is part of every future bump.
    */
  private[graft] val SupersededFixtures: Seq[scala.util.matching.Regex] = Seq(
    "graft_ev_gens_v[23]_[0-9a-f]+".r,  // v4: delta log + CDF
    "graft_ev_insopt_[0-9a-f]+".r,      // v2: dataChange markers
    "graft_ev_evolve_[0-9a-f]+".r,      // v2: delta log format
    "graft_ev_del_[0-9a-f]+".r,         // v2: CDF on the delete commit
    "graft_ev_clone_[0-9a-f]+".r,       // v2: re-cloned from gens v4
    "graft_ev_sgens_(v2_)?[0-9a-f]+".r, // v3: streaming committer CDF
    "graft_ev_restore_[0-9a-f]+".r,     // v2: restore writes CDF
    // v2: per-file stats moved INTO the log's commit objects — the
    // old tables' logs carry no stats and their `_zstats`/`_z2stats`
    // SIBLING directories are dead with them
    "graft_li_genzone_[0-9a-f]+(_zstats)?".r,
    "graft_li_genzonep_[0-9a-f]+(_zstats)?".r,
    "graft_li_genzone2_[0-9a-f]+(_z2stats)?".r,
    "graft_li_genzone2p_[0-9a-f]+(_z2stats)?".r)

  /** Delete superseded fixture directories (and any catalog entries
    * under those names) from the warehouse — the cruft sweep that
    * stops format-version bumps from accumulating dead bytes forever.
    * Idempotent; returns the directories removed. Runs at the top of
    * [[graft.Verify]] so every round's artifact dump starts clean.
    */
  def dropSuperseded(spark: SparkSession): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val doomed = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath).filter(p =>
        SupersededFixtures.exists(_.pattern.matcher(p.getName).matches()))
    doomed.foreach { p =>
      if (spark.catalog.tableExists(p.getName))
        spark.sql(s"DROP TABLE IF EXISTS ${p.getName}")
      fs.delete(p, true)
      ()
    }
    doomed.map(_.getName).sorted
  }

  /** Provide `table` as an external HIVE-PARTITIONED parquet layout
    * (`table/partCol=value/…`) with the same fingerprinted,
    * cross-session economics as [[ensureBucketedTable]]. Partitioned
    * layouts are the complement of bucketed ones: bucketing co-
    * locates JOIN keys, partitioning prunes SCAN ranges — a reader
    * filtering on the partition column opens only the matching
    * directories (PartitionFilters never touch row groups at all).
    * Re-registration runs one DDL + MSCK REPAIR to rediscover the
    * surviving partition directories in the catalog.
    */
  def ensurePartitionedTable(spark: SparkSession, table: String,
                             srcPath: String, partCol: String)
                            (build: => DataFrame): String =
    provision(spark, table) {
      guarded(spark, table, srcPath) { loc =>
        createPartitioned(spark, table, survivingDdl(spark, loc, build.schema.toDDL),
          partCol, loc)
        // rediscover the partition directories a previous JVM wrote
        spark.sql(s"MSCK REPAIR TABLE $table")
        "files"
      } { loc =>
        build.write
          .option("path", loc.toString) // external: DROP TABLE keeps files
          .partitionBy(partCol)
          .mode("overwrite").saveAsTable(table)
        "written"
      }
    }
}
