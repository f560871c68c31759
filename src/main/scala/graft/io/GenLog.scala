package graft.io

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** A generation log: the minimal transaction-log storage protocol
  * (the Delta/Iceberg core idea, executed small). The directory is
  * APPEND-ONLY — maintenance writes add files and never delete — and
  * a log directory at the root records, per generation, the file-set
  * DELTA that generation committed. Everything else falls out of that
  * one inversion:
  *
  *   - READERS RESOLVE THE LOG, NOT THE DIRECTORY. A query pins a
  *     generation's file list, so concurrent/later writes are
  *     invisible (snapshot isolation without locks).
  *   - LOGICAL OVERWRITE: restating a partition adds the new files
  *     and marks the old ones removed IN THE LOG — the bytes stay, so
  *     every earlier generation still reads bit-identically (time
  *     travel across overwrites).
  *   - CRASH SAFETY: data files land before the log entry; a crash
  *     between leaves orphans no reader can see. Log objects are
  *     INSTALLED ATOMICALLY: a commit is written to a uuid-named temp
  *     and claimed into place by an atomic create-if-absent (hard
  *     link on a local FS, non-overwriting rename on HDFS), so a
  *     visible `N.commit` is always complete and a crashed writer
  *     leaves only an ignorable temp. Readers NEVER mutate the log —
  *     recovery is the writer's job alone, which is what makes
  *     concurrent readers safe by construction.
  *   - VACUUM: the retained state installs FIRST (a checkpoint at the
  *     retention cut), then dropped log objects and unreferenced data
  *     files (overwritten history and crash orphans) are deleted — a
  *     crash between the two leaves collectable garbage, never a log
  *     that advertises vanished files. Unreferenced files younger
  *     than the retention horizon ([[DefaultRetentionMs]]) are NOT
  *     collected: a concurrently STAGING writer's pre-commit files
  *     are indistinguishable from orphans by listing alone, and the
  *     age bound is what keeps them safe (Delta's
  *     `deletedFileRetentionDuration`, same reasoning).
  *
  * == Log layout (the Delta/Iceberg shape, executed small) ==
  *
  * `<loc>/_genlog/` holds one object per commit plus periodic
  * checkpoints:
  *
  *   - `%020d.commit` — ONE generation's delta: its gen id, the
  *     partitions it touches (for writer-vs-writer conflict
  *     detection), added file paths with their row counts (footer
  *     metadata, recorded at commit time so live-row accounting never
  *     re-reads data), removed file paths, deletion-vector sidecar
  *     deltas, the table schema when this commit changes it, and a
  *     pointer to the commit's change files (CDF). Commit cost is
  *     O(batch), never O(table).
  *   - `%020d.checkpoint` — the RESOLVED state as of that version
  *     (live set, DV live set, row counts, current schema, and the
  *     gen→version INDEX of every resolvable generation), written
  *     every [[CheckpointInterval]] commits and at every vacuum cut.
  *     A snapshot resolve reads the nearest checkpoint ≤ the target
  *     plus the commit tail after it — O(interval), never
  *     O(history) — and the gen index makes `contains`/AS-OF version
  *     lookup O(tail) instead of O(surviving log objects).
  *
  * == Writer-vs-writer optimistic concurrency ==
  *
  * The version number IS the lock: a writer prepares its delta
  * against the latest snapshot it read, then attempts to claim
  * `(latest+1).commit` by atomic create-if-absent. Losing the race
  * means another writer committed first — the loser re-reads the
  * intervening commits and
  *
  *   - SKIPS if its own gen id landed (a replayed batch),
  *   - RETRIES at the next version if its delta is still valid:
  *     an INSERT-kind commit (pure adds — [[appendInsert]]) is valid
  *     under ANY concurrent commit and never aborts; a RESTATING
  *     commit retries only past commits that touched DISJOINT
  *     partitions,
  *   - ABORTS with [[java.util.ConcurrentModificationException]] if
  *     it restates a partition ANY intervening commit touched —
  *     including a blind insert: a restatement's contract is "this
  *     partition's rows are exactly my batch", and an insert that
  *     landed first would survive the restatement's removes and
  *     violate it (Delta's ConcurrentAppendException, same case).
  *   - ABORTS if the race window's commits were vacuumed (history
  *     truncated past the writer's snapshot): disjointness can no
  *     longer be proven, and claiming a vacuumed version number would
  *     silently corrupt the chain. Never retried blind.
  *
  * A full restatement ([[recluster]]) declares the wildcard partition
  * `*`, which conflicts with every concurrent RESTATER — while a
  * concurrent insert still commits (its rows simply add on top of the
  * new layout; they were never part of the rewrite's input).
  *
  * == Schema enforcement ==
  *
  * The log records the table schema; [[appendBatch]] validates the
  * batch against it BEFORE anything lands — a renamed or retyped
  * column aborts with nothing written (the CHECK-constraint seam).
  * Widening (new columns) must be requested explicitly
  * (`evolve = true`, the q206 path); [[recluster]] replaces the
  * schema wholesale (a full rewrite defines the table, Delta's
  * overwriteSchema).
  *
  * Batch contract for [[appendBatch]]: the frame carries its
  * partition column(s) — ONE OR MORE; a (day, region) table nests
  * `day=…/region=…` directories and its conflict tokens are the full
  * tuple paths — and RESTATES every partition tuple it contains
  * completely: the previous generation's files for exactly those
  * tuples are marked removed. partitionBy guarantees one tuple per
  * file, tokens are STRUCTURAL (read from the file's own directory
  * chain — [[partTokenOf]]), a batch at a different partition DEPTH
  * than the live layout aborts loudly (layout migration is
  * [[recluster]]'s job), and file attribution is EXACT: the write
  * lands in a private staging directory and renames into place, so
  * removal-by-path never strands rows and physically interleaved
  * stagings never mis-attribute files (see [[writeAttributed]]).
  */
object GenLog {

  /** The log directory name under the table root. */
  final val LogDir = "_genlog"

  /** A checkpoint is written every this-many commits. */
  final val CheckpointInterval = 10

  /** The wildcard partition a full restatement declares: conflicts
    * with every concurrent restater.
    */
  final val AllParts = "*"

  /** The deletion-vector sidecar directory under the table root. */
  final val DvDir = "_dv"

  /** The conflict-scope token verbs that REMOVE deletion vectors
    * declare ([[materializeDeletes]], [[compactDeletionVectors]]): a
    * vector-removing commit computed against sidecars another
    * vector-remover replaced must abort, not retry — a retried
    * compaction would re-add sidecars a settlement already drained
    * (answers stay right, the vectors are inert, but the debt metric
    * would read non-zero on a settled table). Vector ADDERS
    * ([[deleteWhereMoR]]) do not declare it: blind sidecar adds
    * commute with each other and with compaction, and their races
    * with a settlement are already covered by the affected files'
    * partition tokens.
    */
  final val DvParts = "__dv_rewrite__"

  /** The change-file (CDF) directory under the table root: one
    * subdirectory per change-writing commit, referenced from the
    * commit object — never discovered by listing.
    */
  final val ChangesDir = "_changes"

  /** Private staging area for in-flight writes (invisible to the
    * data listing; swept by vacuum past the retention horizon).
    */
  final val StagedDir = "_staged"

  /** Change-feed column: 'delete' (row left the table) or 'insert'
    * (row entered). An update is a delete+insert pair at the same
    * commit version — [[netKeyedChanges]] reassembles it.
    */
  final val ChangeTypeCol = "_change_type"

  /** Change-feed column: the commit version the change landed in. */
  final val ChangeVersionCol = "_commit_version"

  /** Vacuum's default file-age horizon: unreferenced files younger
    * than this are presumed to belong to an in-flight (staged but not
    * yet committed) writer and survive the sweep. Tests pass 0 to
    * collect immediately; production keeps days (Delta defaults to
    * 7).
    */
  final val DefaultRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** One committed generation's delta. `parts` are
    * `col=escapedValue` tokens — `/`-joined tuples on a multi-column
    * layout — (or [[AllParts]]); insert-kind
    * commits ([[appendInsert]]) declare theirs too — restaters must
    * conflict against them — but never abort as losers. `dataChange`
    * is false for LAYOUT-ONLY commits (re-clustering, compaction, DV
    * settlement) whose adds restate rows already delivered —
    * incremental consumers ([[readAppendedSince]]) skip them, exactly
    * Delta's dataChange=false contract. `rows`/`dvRows` carry footer
    * row counts for the added files (live-row accounting without
    * data reads). `schema` is the table schema AFTER this commit,
    * present only when it changes. `cdf` names this commit's change
    * directory under [[ChangesDir]]. `stats` carries each ADDED
    * file's per-column (min, max) envelope and `blooms` its key
    * Bloom bits (when the table's [[configureStats]] spec asks for
    * them): per-file skipping statistics live IN the commit object —
    * transactional with the data, Delta/Iceberg-style — so a
    * snapshot's stats can never lag its files. `ts` is the commit
    * wall-clock timestamp (epoch millis), stamped at claim time.
    */
  private[graft] final case class Commit(version: Long, gen: String,
      parts: Seq[String], adds: Seq[String], removes: Seq[String],
      dataChange: Boolean = true,
      dvAdds: Seq[String] = Nil, dvRemoves: Seq[String] = Nil,
      insert: Boolean = false,
      rows: Map[String, Long] = Map.empty,
      dvRows: Map[String, Long] = Map.empty,
      schema: Option[String] = None,
      cdf: Option[String] = None,
      op: String = "write",
      ts: Long = 0L,
      stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      blooms: Map[String, Array[Long]] = Map.empty,
      cmap: Option[Map[String, String]] = None)

  /** A resolved snapshot as of `version` (the commit or checkpoint
    * that produced it, `gen` its generation): the live data and
    * deletion-vector sets, the known per-file row counts, the table
    * schema, per-file skipping stats and Blooms, the column map, and
    * the gen→version index of every generation resolvable at
    * `version` — exactly what a checkpoint persists. `checkpointUsed`
    * and `commitsParsed` record how a resolve was served: the
    * checkpoint it started from (None = replayed from empty) and the
    * commit objects applied on top (the checkpoint+tail economics,
    * observable). [[applied]] is the ONE fold step: every snapshot
    * resolve and the full-history scan ([[genStates]]) take it.
    */
  private[graft] final case class Snapshot(version: Long, gen: String,
      live: Seq[String] = Nil, dvLive: Seq[String] = Nil,
      rows: Map[String, Long] = Map.empty,
      dvRows: Map[String, Long] = Map.empty,
      schema: Option[String] = None,
      stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      blooms: Map[String, Array[Long]] = Map.empty,
      colMap: Map[String, String] = Map.empty,
      genIndex: Seq[(Long, String)] = Vector.empty,
      checkpointUsed: Option[Long] = None, commitsParsed: Int = 0) {

    /** This snapshot with commit `c` applied on top. */
    def applied(c: Commit): Snapshot = Snapshot(c.version, c.gen,
      (live.toSet -- c.removes ++ c.adds).toSeq.sorted,
      (dvLive.toSet -- c.dvRemoves ++ c.dvAdds).toSeq.sorted,
      rows -- c.removes ++ c.rows, dvRows -- c.dvRemoves ++ c.dvRows,
      c.schema.orElse(schema), stats -- c.removes ++ c.stats,
      blooms -- c.removes ++ c.blooms, c.cmap.getOrElse(colMap),
      genIndex :+ (c.version -> c.gen), checkpointUsed, commitsParsed + 1)
  }

  /** The snapshot of a virgin table (version 0, nothing live). */
  private val Empty = Snapshot(0L, "")

  // ----------------------------------------------------------------
  // filesystem plumbing
  // ----------------------------------------------------------------

  private def fsOf(spark: SparkSession, loc: String): (Path, FileSystem) = {
    val p = new Path(loc)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def commitPath(dir: Path, v: Long) =
    new Path(dir, f"$v%020d.commit")

  private def checkpointPath(dir: Path, v: Long) =
    new Path(dir, f"$v%020d.checkpoint")

  /** All data files currently on disk (orphans included). Underscore
    * directories are metadata namespaces (`_genlog`, `_dv`,
    * `_changes`, `_staged`), never table data — the Hive hidden-path
    * convention.
    */
  private def listDataFiles(spark: SparkSession, loc: String): Set[String] = {
    val (p, fs) = fsOf(spark, loc)
    if (!fs.exists(p)) return Set.empty
    def walk(s: FileStatus): Seq[String] =
      if (s.isDirectory) {
        if (s.getPath.getName.startsWith("_")) Nil
        else fs.listStatus(s.getPath).toSeq.flatMap(walk)
      } else Seq(s.getPath.toUri.getPath)
    walk(fs.getFileStatus(p)).filter(_.endsWith(".parquet")).toSet
  }

  /** All deletion-vector sidecar files on disk (orphans included) —
    * recursive: each MoR commit writes its vectors under a private
    * `_dv/<token>/` subdirectory (exact attribution by construction).
    */
  private def listDvFiles(spark: SparkSession, loc: String): Set[String] = {
    val (p, fs) = fsOf(spark, loc)
    val dv = new Path(p, DvDir)
    if (!fs.exists(dv)) return Set.empty
    def walk(s: FileStatus): Seq[String] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else Seq(s.getPath.toUri.getPath)
    walk(fs.getFileStatus(dv)).filter(_.endsWith(".parquet")).toSet
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Parquet footer row count — O(1) metadata per file, never a data
    * read. This is where the log's row accounting comes from. The
    * loop is driver-side over ONE COMMIT'S files (O(batch), not
    * O(table)); a production writer would lift the counts from the
    * write tasks' stats for zero extra I/O — the commit-object
    * contract is identical either way.
    */
  private def footerRowCount(spark: SparkSession, file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(file), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  private def footerRows(spark: SparkSession, files: Seq[String]): Map[String, Long] =
    files.map(f => f -> footerRowCount(spark, f)).toMap

  /** Install `body` at `dst` by atomic create-if-absent; returns
    * whether THIS call won the claim. On a local FS the claim is a
    * hard link (atomic, EEXIST on collision — java.io.File#renameTo
    * would silently REPLACE an existing dst, so rename cannot claim
    * here). On HDFS-like schemes it is FileSystem.rename, which their
    * contract defines as atomic and non-overwriting for files; a
    * false return with no existing dst is a TRANSIENT failure, not a
    * lost race, and fails loudly instead of looping. Any other scheme
    * (S3A renames by copy+delete — neither atomic nor
    * non-overwriting) is REFUSED: the whole OCC safety argument rests
    * on this primitive, so it degrades loudly, never silently.
    */
  private def installIfAbsent(fs: FileSystem, dir: Path, body: String,
                              dst: Path): Boolean = {
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val scheme = Option(dst.toUri.getScheme).getOrElse(fs.getScheme)
    val claimed = scheme match {
      case "file" =>
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      case "hdfs" | "viewfs" =>
        val ok = fs.rename(tmp, dst)
        if (!ok && !fs.exists(dst))
          sys.error(s"claim rename $tmp -> $dst failed with no existing " +
            "dst — transient filesystem failure, not a lost race; aborting " +
            "instead of retrying the same version forever")
        ok
      case other =>
        fs.delete(tmp, false)
        throw new UnsupportedOperationException(
          s"GenLog commit claims need an atomic non-overwriting rename or " +
            s"link; scheme '$other' provides neither (object-store rename " +
            "is copy+delete) — front it with a locking/catalog service")
    }
    fs.delete(tmp, false)
    claimed
  }

  // ----------------------------------------------------------------
  // serialization — line-oriented, sentinel-terminated. Paths and gen
  // ids may contain anything but line terminators (validated at
  // commit time); count-prefixed lines parse the count then take the
  // REST as the path, so ':' in paths is safe.
  // ----------------------------------------------------------------

  private def sentinelBody(lines: Seq[String]): String =
    lines.mkString("", "\n", "\n") + s"#end:${lines.size}\n"

  /** Lines iff the trailing sentinel proves the object is complete —
    * defense in depth; the atomic install should make torn objects
    * impossible.
    */
  private def parseLines(content: String): Option[Seq[String]] = {
    val lines = content.split("\n").filter(_.nonEmpty).toSeq
    if (lines.isEmpty) return None
    val (entries, sentinel) = (lines.init, lines.last)
    if (sentinel != s"#end:${entries.size}") None else Some(entries)
  }

  private def countedLines(tag: String, m: Map[String, Long]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (p, n) => s"$tag:$n:$p" }

  private def parseCounted(lines: Seq[String], tag: String): Map[String, Long] =
    lines.collect { case l if l.startsWith(tag + ":") =>
      val rest = l.drop(tag.length + 1)
      val i = rest.indexOf(':')
      rest.drop(i + 1) -> rest.take(i).toLong
    }.toMap

  /** Per-file column envelopes: one `st:<lo>:<hi>:<col>:<path>` line
    * per (file, column) — the count-prefixed discipline (the path is
    * the colon-safe REST; column names are validated colon-free at
    * compute time).
    */
  private def statLines(m: Map[String, Map[String, (Long, Long)]]): Seq[String] =
    m.toSeq.sortBy(_._1).flatMap { case (p, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => s"st:$lo:$hi:$c:$p" }
    }

  private def parseStats(lines: Seq[String])
      : Map[String, Map[String, (Long, Long)]] =
    lines.collect { case l if l.startsWith("st:") =>
      val a = l.drop(3)
      val i1 = a.indexOf(':'); val i2 = a.indexOf(':', i1 + 1)
      val i3 = a.indexOf(':', i2 + 1)
      (a.substring(i3 + 1), a.substring(i2 + 1, i3),
        (a.substring(0, i1).toLong, a.substring(i1 + 1, i2).toLong))
    }.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap

  /** Per-file Bloom bits: one `bl:<base64 words>:<path>` line per
    * file (base64's alphabet is colon-free, so the path stays the
    * REST). Which column the Bloom indexes is the table's
    * [[configureStats]] spec — fixed at table creation.
    */
  private def bloomLines(m: Map[String, Array[Long]]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (p, words) =>
      val bytes = graft.functions.LongArraySketch.encode(words)
      s"bl:${java.util.Base64.getEncoder.encodeToString(bytes)}:$p"
    }

  private def parseBlooms(lines: Seq[String]): Map[String, Array[Long]] =
    lines.collect { case l if l.startsWith("bl:") =>
      val a = l.drop(3)
      val i = a.indexOf(':')
      a.drop(i + 1) -> graft.functions.LongArraySketch.decode(
        java.util.Base64.getDecoder.decode(a.take(i)))
    }.toMap

  private def commitBody(c: Commit): String =
    sentinelBody(s"gen:${c.gen}" +:
      (Seq(s"op:${c.op}", s"ts:${c.ts}") ++
        (if (c.dataChange) Nil else Seq("nodata:1")) ++
        (if (c.insert) Seq("ins:1") else Nil) ++
        c.schema.map("schema:" + _).toSeq ++
        c.cdf.map("cdf:" + _).toSeq ++
        c.parts.map("part:" + _) ++
        c.adds.map("add:" + _) ++ c.removes.map("rm:" + _) ++
        c.dvAdds.map("dvadd:" + _) ++ c.dvRemoves.map("dvrm:" + _) ++
        countedLines("rows", c.rows) ++ countedLines("dvrows", c.dvRows) ++
        statLines(c.stats) ++ bloomLines(c.blooms) ++
        // the column map needs a presence MARKER: Some(empty) is a
        // real state (recluster resetting the map to identity), not
        // "unchanged"
        c.cmap.map(_ => "cmapset:1").toSeq ++
        c.cmap.toSeq.flatMap(_.toSeq.sortBy(_._1).map {
          case (l, p) => s"cmap:$l:$p" })))

  /** Every `tag`-prefixed line's rest, in order. */
  private def fields(lines: Seq[String], tag: String): Seq[String] =
    lines.collect { case l if l.startsWith(tag) => l.drop(tag.length) }

  /** The first `tag`-prefixed line's rest, if any. */
  private def field(lines: Seq[String], tag: String): Option[String] =
    fields(lines, tag).headOption

  /** A line every well-formed object carries: without it the object
    * is malformed and the read fails loudly.
    */
  private def required(lines: Seq[String], tag: String, what: String): String =
    field(lines, tag).getOrElse(sys.error(s"$what has no ${tag.init} line"))

  private def parseCommit(v: Long, content: String): Option[Commit] =
    parseLines(content).map { lines =>
      Commit(v, required(lines, "gen:", s"commit $v"), fields(lines, "part:"),
        fields(lines, "add:"), fields(lines, "rm:"),
        dataChange = !lines.contains("nodata:1"),
        dvAdds = fields(lines, "dvadd:"), dvRemoves = fields(lines, "dvrm:"),
        insert = lines.contains("ins:1"),
        rows = parseCounted(lines, "rows"),
        dvRows = parseCounted(lines, "dvrows"),
        schema = field(lines, "schema:"), cdf = field(lines, "cdf:"),
        op = field(lines, "op:").getOrElse("write"),
        ts = required(lines, "ts:", s"commit $v").toLong,
        stats = parseStats(lines),
        blooms = parseBlooms(lines),
        cmap =
          if (!lines.contains("cmapset:1")) None
          else Some(parseCmap(lines)))
    }

  private def parseCmap(lines: Seq[String]): Map[String, String] =
    fields(lines, "cmap:").map { rest =>
      val i = rest.indexOf(':')
      rest.take(i) -> rest.drop(i + 1)
    }.toMap

  private def checkpointBody(s: Snapshot): String = {
    val (liveSet, dvSet) = (s.live.toSet, s.dvLive.toSet)
    sentinelBody(s"gen:${s.gen}" +:
      (s.schema.map("schema:" + _).toSeq ++
        s.colMap.toSeq.sortBy(_._1).map { case (l, pn) => s"cmap:$l:$pn" } ++
        s.genIndex.sortBy(_._1).map { case (v, g) => s"genver:$v:$g" } ++
        s.live.map("live:" + _) ++ s.dvLive.map("dvlive:" + _) ++
        countedLines("rows", s.rows.view.filterKeys(liveSet).toMap) ++
        countedLines("dvrows", s.dvRows.view.filterKeys(dvSet).toMap) ++
        statLines(s.stats.view.filterKeys(liveSet).toMap) ++
        bloomLines(s.blooms.view.filterKeys(liveSet).toMap)))
  }

  private def parseCheckpoint(v: Long, content: String): Option[Snapshot] =
    parseLines(content).map { lines =>
      val gen = required(lines, "gen:", s"checkpoint $v")
      required(lines, "genver:", s"checkpoint $v")
      Snapshot(v, gen, fields(lines, "live:").sorted,
        fields(lines, "dvlive:").sorted,
        parseCounted(lines, "rows"), parseCounted(lines, "dvrows"),
        field(lines, "schema:"), parseStats(lines), parseBlooms(lines),
        parseCmap(lines),
        fields(lines, "genver:").map { rest =>
          val i = rest.indexOf(':')
          (rest.take(i).toLong, rest.drop(i + 1))
        }.toVector,
        checkpointUsed = Some(v))
    }

  // ----------------------------------------------------------------
  // log state
  // ----------------------------------------------------------------

  /** One listing of a table's log directory: the commit and
    * checkpoint versions present. Temps (crashed writers pre-claim)
    * are ignored — readers never mutate the log.
    */
  private final case class Log(loc: String, fs: FileSystem, dir: Path,
                               commits: Seq[Long], checkpoints: Seq[Long]) {

    def latest: Long = (commits ++ checkpoints).maxOption.getOrElse(0L)

    def commit(v: Long): Commit =
      parseCommit(v, readText(fs, commitPath(dir, v)))
        .getOrElse(sys.error(s"torn commit object at version $v in $dir"))

    def checkpoint(v: Long): Snapshot =
      parseCheckpoint(v, readText(fs, checkpointPath(dir, v)))
        .getOrElse(sys.error(s"torn checkpoint at version $v in $dir"))

    /** The committed version of `gen`, O(tail): the commit tail after
      * the latest checkpoint, then that checkpoint's gen→version
      * index. None if absent or vacuumed past the index's memory.
      */
    def versionOf(gen: String): Option[Long] = {
      val ck = checkpoints.lastOption
      commits.filter(_ > ck.getOrElse(0L)).reverse
        .collectFirst { case v if commit(v).gen == gen => v }
        .orElse(ck.flatMap(checkpoint(_).genIndex
          .collectFirst { case (v, g) if g == gen => v }))
    }

    def versionOrThrow(gen: String): Long = versionOf(gen).getOrElse(
      throw new IllegalArgumentException(
        s"generation '$gen' not in $loc/$LogDir (vacuumed or never committed)"))
  }

  private def listLog(loc: String, fs: FileSystem, dir: Path): Log = {
    val names =
      if (!fs.exists(dir)) Nil else fs.listStatus(dir).toSeq.map(_.getPath.getName)
    def versionsOf(suffix: String) = names
      .filter(_.endsWith(suffix)).map(_.stripSuffix(suffix).toLong).sorted
    Log(loc, fs, dir, versionsOf(".commit"), versionsOf(".checkpoint"))
  }

  /** THE way to the log: one fresh listing of `loc`'s log directory. */
  private def logOf(spark: SparkSession, loc: String): Log = {
    val (p, fs) = fsOf(spark, loc)
    listLog(loc, fs, new Path(p, LogDir))
  }

  /** Ordered full state for every RESOLVABLE generation: a single
    * forward pass from the earliest resolvable point (commit 1, or
    * the earliest checkpoint whose commit chain is unbroken — i.e.
    * after a vacuum cut). O(surviving log objects) — the full-history
    * listing; [[resolveGen]] is the O(interval) path a single
    * snapshot read takes.
    */
  private[graft] def genStates(spark: SparkSession, loc: String): Seq[Snapshot] = {
    val log = logOf(spark, loc)
    // history truncated by a vacuum: start at the earliest surviving
    // checkpoint — the retention cut's resolved state
    val start =
      if (log.commits.headOption.contains(1L)) None
      else Some(log.checkpoint(log.checkpoints.headOption.getOrElse(return Nil)))
    val from = start.fold(0L)(_.version)
    val tail = log.commits.filter(_ > from)
    require(tail == ((from + 1) to tail.lastOption.getOrElse(from)),
      s"broken commit chain in ${log.dir}: have $tail after version $from")
    start.toSeq ++
      tail.scanLeft(start.getOrElse(Empty))((s, v) => s.applied(log.commit(v))).tail
  }

  /** All resolvable generations, oldest first: (gen id, live files).
    * The compatibility surface specs and maintenance jobs list
    * history through.
    */
  def generations(spark: SparkSession, loc: String): Seq[(String, Seq[String])] =
    genStates(spark, loc).map(s => (s.gen, s.live))

  def contains(spark: SparkSession, loc: String, gen: String): Boolean =
    versionOfGen(spark, loc, gen).isDefined

  /** Resolve ONE generation checkpoint+tail: locate its version via
    * the gen index (O(tail)), start from the nearest checkpoint at or
    * below it and apply only the commit tail after it —
    * O([[CheckpointInterval]]) log reads for a current snapshot
    * regardless of history length. Falls back to a from-empty replay
    * when the target predates every checkpoint (short young history).
    * Throws for a gen id that is absent or vacuumed.
    */
  private[graft] def resolveGen(spark: SparkSession, loc: String,
                                gen: String): Snapshot = {
    val log = logOf(spark, loc)
    val target = log.versionOrThrow(gen)
    val earliest =
      if (log.commits.headOption.contains(1L)) 1L
      else log.checkpoints.headOption.getOrElse(Long.MaxValue)
    if (target < earliest)
      throw new IllegalArgumentException(
        s"generation '$gen' (v$target) predates the log's surviving " +
          s"history in $loc/$LogDir — vacuumed")
    resolveVersion(log, target)
  }

  private def resolveVersion(log: Log, target: Long): Snapshot = {
    val ck = log.checkpoints.filter(_ <= target).lastOption
    val tail = log.commits.filter(v => v > ck.getOrElse(0L) && v <= target)
    val expected = (ck.getOrElse(0L) + 1) to target
    require(ck.nonEmpty || log.commits.headOption.contains(1L),
      s"version $target predates the log's surviving history in ${log.dir}")
    require(tail == expected,
      s"broken commit chain resolving version $target in ${log.dir}: " +
        s"have $tail, need $expected")
    tail.foldLeft(ck.fold(Empty)(log.checkpoint))((s, v) => s.applied(log.commit(v)))
  }

  // ----------------------------------------------------------------
  // the commit protocol
  // ----------------------------------------------------------------

  private def validateGen(gen: String): Unit =
    require(gen.nonEmpty && !gen.exists(c => c == '\n' || c == '\r'),
      s"generation id must be non-empty and line-terminator-free: '$gen'")

  private def partsOverlap(a: Seq[String], b: Seq[String]): Boolean =
    a.contains(AllParts) || b.contains(AllParts) ||
      a.exists(x => b.exists(tokensOverlap(x, _)))

  /** Commit a prepared delta with optimistic-concurrency retry.
    * `snapshotVersion` is the version the delta was computed against
    * (0 for an empty table). Returns the installed version, or the
    * existing one if `gen` turned out to be already committed by a
    * racing writer. Conflict semantics are the object scaladoc's:
    * insert-kind deltas always retry; restaters retry past disjoint
    * commits and abort on partition overlap (a landed INSERT's
    * partitions count — its rows would survive the loser's removes);
    * a race window truncated by vacuum aborts rather than guessing.
    */
  private def commitDelta(spark: SparkSession, loc: String, c: Commit,
                          snapshotVersion: Long): Long = {
    var attempt = snapshotVersion + 1
    while (true) {
      val log = logOf(spark, loc)
      val latest = log.latest
      if (latest >= attempt) {
        // commits landed since the snapshot (or the last loop):
        // examine every version in [attempt, latest]
        val range = attempt to latest
        val missing = range.filterNot(log.commits.contains)
        if (missing.nonEmpty) {
          // vacuum truncated part of the race window — disjointness
          // is unprovable against vanished deltas. Skip if our own
          // gen survives in the index; abort otherwise, never guess.
          log.versionOf(c.gen).foreach(v => return v)
          throw new java.util.ConcurrentModificationException(
            s"generation '${c.gen}' was staged against v$snapshotVersion " +
              s"but the log's history was vacuumed past it (versions " +
              s"${missing.mkString(",")} gone) — recompute against the " +
              "current snapshot and retry")
        }
        val landed = range.map(log.commit)
        landed.find(_.gen == c.gen) match {
          case Some(winner) => return winner.version // replayed batch
          case None =>
        }
        if (!c.insert) {
          val clash = landed.filter(l => partsOverlap(l.parts, c.parts))
          if (clash.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"generation '${c.gen}' conflicts with concurrently committed " +
                s"${clash.map(l => s"'${l.gen}' (v${l.version})").mkString(", ")} " +
                s"on partitions ${c.parts.mkString(",")} — recompute against " +
                "the new snapshot and retry")
        }
        attempt = latest + 1 // delta still valid: retry at the head
      }
      if (installIfAbsent(log.fs, log.dir,
          commitBody(c.copy(version = attempt,
            ts = System.currentTimeMillis())),
          commitPath(log.dir, attempt))) {
        maybeCheckpoint(spark, loc, attempt)
        return attempt
      }
      // lost the claim race: loop re-lists and re-examines
    }
    sys.error("unreachable")
  }

  /** Write a checkpoint at `v` when the interval says so. Resolved
    * from disk (checkpoint+tail), NOT from the writer's in-memory
    * state — a disjoint concurrent commit may have landed between the
    * writer's snapshot and its claim. The resolve carries the prior
    * checkpoint's gen→version index forward through the tail.
    * Claim-if-absent: a racing checkpointer's duplicate is dropped.
    */
  private def maybeCheckpoint(spark: SparkSession, loc: String, v: Long): Unit =
    if (v % CheckpointInterval == 0) {
      val log = logOf(spark, loc)
      installIfAbsent(log.fs, log.dir, checkpointBody(resolveVersion(log, v)),
        checkpointPath(log.dir, v))
      ()
    }

  /** The latest snapshot, or [[Empty]] (version 0) for a virgin table. */
  private def latestFull(spark: SparkSession, loc: String): Snapshot = {
    val log = logOf(spark, loc)
    if (log.latest == 0L) Empty else resolveVersion(log, log.latest)
  }

  // ----------------------------------------------------------------
  // attributed writes, change files, schema enforcement
  // ----------------------------------------------------------------

  /** The partition token of a data file: the chain of `col=value`
    * directory components between the table root and the file, joined
    * with '/' — exact (it IS the path partitionBy wrote), already
    * escaped, and STRUCTURAL: no caller has to re-state the table's
    * partition columns to name a file's partition, so the conflict
    * tokens of a (day, type)-partitioned table are the full
    * `day_k=…/etype_k=…` tuples by construction. A file outside any
    * `col=value` chain maps to the wildcard (conservative: conflicts
    * with every restater).
    */
  private def partTokenOf(root: Path, f: String): String = {
    val rootPath = root.toUri.getPath.stripSuffix("/")
    val comps = scala.collection.mutable.ListBuffer.empty[String]
    var p = new Path(f).getParent
    while (p != null && p.toUri.getPath != rootPath && p.getName.contains("=")) {
      comps.prepend(p.getName)
      p = p.getParent
    }
    if (comps.isEmpty) AllParts
    else if (p != null && p.toUri.getPath == rootPath) comps.mkString("/")
    // a SHALLOW CLONE's live files sit under a FOREIGN root (the
    // source table's directory): their token is the trailing
    // `col=value` chain — the clone shares the source's partition
    // scheme, so the chain names the same tuple
    else if (!new Path(f).toUri.getPath.startsWith(rootPath + "/"))
      comps.mkString("/")
    // an own file whose chain does not reach the root: wildcard
    // (conservative — conflicts with everything, removes nothing)
    else AllParts
  }

  /** Do two conflict tokens overlap? Equal tuples do; so does a
    * PREFIX relation (`day_k=X` restates every type under day X, so
    * it must conflict with `day_k=X/etype_k=click`); the wildcard
    * overlaps everything.
    */
  private def tokensOverlap(a: String, b: String): Boolean =
    a == b || a == AllParts || b == AllParts ||
      a.startsWith(b + "/") || b.startsWith(a + "/")

  /** Write `df` partitioned by `partCols` (one or more levels —
    * `day_k=…/etype_k=…` directories for a two-column key) under
    * `loc` with EXACT file attribution: the write lands in a private
    * staging directory (`_staged/<uuid>` — invisible to the data
    * listing), the staged files are listed (only this writer's files
    * can be there), and each renames into its final partition
    * directory. Task-generated file names are globally unique, so
    * physically INTERLEAVED stagings never collide, and attribution
    * needs no before/after listing diff, no quiescence assumption,
    * and no O(table) listing on the commit path. A crash mid-rename
    * leaves invisible orphans plus a stale staging directory; vacuum
    * sweeps both past the retention horizon. Returns the final file
    * paths, sorted.
    */
  private def writeAttributed(spark: SparkSession, loc: String, df: DataFrame,
                              partCols: Seq[String],
                              numFiles: Option[Int] = None): Seq[String] = {
    require(partCols.nonEmpty, "writeAttributed needs a partition column")
    val (p, fs) = fsOf(spark, loc)
    val stage = new Path(p, s"$StagedDir/w-${UUID.randomUUID()}")
    val rep = numFiles.map(df.repartition(_))
      .getOrElse(df.repartition(partCols.map(col): _*))
    rep.write.partitionBy(partCols: _*).parquet(stage.toString)
    def walk(s: FileStatus): Seq[Path] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath)
      else Nil
    val staged = walk(fs.getFileStatus(stage))
    val out = staged.map { f =>
      // the partition chain between the stage root and the file must
      // be exactly one `col=value` component per partition column
      var d = f.getParent
      val chain = scala.collection.mutable.ListBuffer.empty[String]
      while (d != null && d.toUri.getPath != stage.toUri.getPath) {
        chain.prepend(d.getName)
        d = d.getParent
      }
      require(chain.size == partCols.size &&
        chain.zip(partCols).forall { case (c, k) => c.startsWith(k + "=") },
        s"unexpected staged layout under $stage: $f")
      val destDir = new Path(p, chain.mkString("/"))
      fs.mkdirs(destDir)
      val dst = new Path(destDir, f.getName)
      require(fs.rename(f, dst), s"staging rename failed: $f -> $dst")
      dst.toUri.getPath
    }
    fs.delete(stage, true)
    out.sorted
  }

  /** The per-table skipping-statistics configuration object, stored
    * as `_genlog/_stats_spec` (Delta's dataSkipping /
    * bloom-filter-index table properties, executed small).
    */
  final val StatsSpecFile = "_stats_spec"

  private[graft] final case class StatsSpec(cols: Seq[String],
                                            bloomCol: Option[String])

  /** Declare which columns every commit records per-file SKIPPING
    * STATISTICS for: `cols` get (min, max) envelopes (as longs —
    * integral columns directly, timestamps as epoch micros), and
    * `bloomCol` gets a per-file 8192-bit Bloom of its value hashes
    * (the point-lookup complement: a scattered key's envelope spans
    * the domain in every file, so only membership bits can prune it).
    * Set ONCE at table creation, BEFORE the first commit: the spec is
    * table configuration, and every write verb then maintains the
    * stats inside its own commit object — transactional with the
    * data, no separate absorption step, no crash window where a
    * snapshot's files outrun its stats. Stats cost one aggregate over
    * each commit's ADDED files (∝ the batch, the same class as its
    * CDF write).
    */
  def configureStats(spark: SparkSession, loc: String, cols: Seq[String],
                     bloomCol: Option[String] = None): Unit = {
    require((cols ++ bloomCol).nonEmpty, "configureStats needs at least one column")
    (cols ++ bloomCol).foreach(c => require(!c.contains(":") && !c.contains("\n"),
      s"stats column name must be colon- and newline-free: '$c'"))
    val (p, fs) = fsOf(spark, loc)
    val dir = new Path(p, LogDir)
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, StatsSpecFile), true)
    try out.write((s"cols:${cols.mkString(",")}\n" +
      bloomCol.map(c => s"bloom:$c\n").getOrElse("")).getBytes("UTF-8"))
    finally out.close()
  }

  private def statsSpecOf(spark: SparkSession, loc: String): Option[StatsSpec] = {
    val (p, fs) = fsOf(spark, loc)
    val f = new Path(p, s"$LogDir/$StatsSpecFile")
    if (!fs.exists(f)) return None
    val lines = readText(fs, f).split("\n").filter(_.nonEmpty)
    Some(StatsSpec(
      lines.collectFirst { case l if l.startsWith("cols:") =>
        l.drop(5).split(",").toSeq.filter(_.nonEmpty) }.getOrElse(Nil),
      lines.collectFirst { case l if l.startsWith("bloom:") => l.drop(6) }))
  }

  /** One aggregate over `added` computing the table's configured
    * per-file statistics: each tracked column's (min, max) envelope
    * (timestamps normalize to epoch micros — exact integer
    * arithmetic, no zone ambiguity) and the Bloom column's bit words.
    * Returns empty maps when the table has no spec. An all-null
    * tracked column fails LOUDLY naming the file — an envelope cannot
    * be stated for it, and a silent skip would make the completeness
    * contract ("every live file has stats") unverifiable.
    */
  private def computeFileStats(spark: SparkSession, loc: String,
                               added: Seq[String])
      : (Map[String, Map[String, (Long, Long)]], Map[String, Array[Long]]) = {
    val empty = (Map.empty[String, Map[String, (Long, Long)]],
      Map.empty[String, Array[Long]])
    if (added.isEmpty) return empty
    val spec = statsSpecOf(spark, loc).getOrElse(return empty)
    val df = morScan(spark, added, Nil, Map.empty, Some(loc))
    (spec.cols ++ spec.bloomCol).foreach(c =>
      require(df.columns.contains(c),
        s"stats column '$c' is not in the batch schema at $loc"))
    def norm(c: String): Column = df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(c).cast("timestamp"))
      case _ => col(c).cast("long")
    }
    val aggs: Seq[Column] =
      spec.cols.flatMap(c => Seq(min(norm(c)), max(norm(c)))) ++
        spec.bloomCol.map(c => graft.functions.BloomSketch.bloomAgg(
          graft.functions.TextKernels.hash60StrCol(col(c).cast("string")) %
            graft.functions.TextFns.P)).toSeq
    // collected at metadata scale (one row per added file); file keys
    // normalize through URI DECODING to the log's plain-path form
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val stats = rows.map { r =>
      val f = plainPath(r.getString(0))
      f -> spec.cols.zipWithIndex.map { case (c, i) =>
        require(!r.isNullAt(1 + 2 * i) && !r.isNullAt(2 + 2 * i),
          s"file $f has an all-null (or non-integral) stats column '$c' — " +
            "no envelope can be recorded for it")
        c -> (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i))
      }.toMap
    }.toMap
    val blooms =
      if (spec.bloomCol.isEmpty) Map.empty[String, Array[Long]]
      else rows.map { r =>
        val f = plainPath(r.getString(0))
        f -> r.getSeq[Long](1 + 2 * spec.cols.size).toArray
      }.toMap
    (stats, blooms)
  }

  /** The tail every file-writing verb ends with: `c` with its added
    * files' footer row counts and the table's configured skipping
    * statistics filled in, ready for [[commitDelta]].
    */
  private def withAddStats(spark: SparkSession, loc: String, c: Commit): Commit = {
    val (st, bl) = computeFileStats(spark, loc, c.adds)
    c.copy(rows = footerRows(spark, c.adds), stats = st, blooms = bl)
  }

  /** Persist a commit's change rows (CDF) under `_changes/<token>/`
    * and return the token the commit records. Change rows are FULL
    * logical rows (partition column included) tagged
    * [[ChangeTypeCol]] = 'delete' (row left the table as of this
    * commit) or 'insert' (row entered); an update is the delete +
    * insert pair. Cost ∝ changed rows — never the table.
    */
  private def writeChanges(spark: SparkSession, loc: String,
                           deletes: Option[DataFrame],
                           inserts: Option[DataFrame]): Option[String] = {
    val frames =
      deletes.map(_.withColumn(ChangeTypeCol, lit("delete"))).toSeq ++
        inserts.map(_.withColumn(ChangeTypeCol, lit("insert"))).toSeq
    if (frames.isEmpty) return None
    val all = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    val token = s"c-${UUID.randomUUID()}"
    all.write.parquet(s"$loc/$ChangesDir/$token")
    Some(token)
  }

  /** Rename a frame's PHYSICAL column names to their logical ones
    * through the column map (logical -> physical). Columns absent
    * from the frame no-op, so physical-only frames pass unchanged.
    */
  private def toLogical(df: DataFrame, colMap: Map[String, String]): DataFrame =
    colMap.foldLeft(df) { case (d, (l, pn)) =>
      if (l == pn) d else d.withColumnRenamed(pn, l) }

  /** The write-side inverse: logical names back to the physical ones
    * stored in files (and partition directories).
    */
  private def toPhysical(df: DataFrame, colMap: Map[String, String]): DataFrame =
    colMap.foldLeft(df) { case (d, (l, pn)) =>
      if (l == pn) d else d.withColumnRenamed(l, pn) }

  private def physicalName(c: String, colMap: Map[String, String]): String =
    colMap.getOrElse(c, c)

  /** The latest snapshot's column map — for consumers that read data
    * files directly (the streaming source's adds mode) and must serve
    * the stream under the table's CURRENT logical names (Delta's
    * streaming-schema rule).
    */
  private[graft] def latestColMap(spark: SparkSession,
                                  loc: String): Map[String, String] =
    latestFull(spark, loc).colMap

  /** The row-position columns [[morScan]] keeps on request: each
    * row's data file and its row index inside that file — exactly
    * what a deletion-vector sidecar stores.
    */
  private final val PosFile = "__graft_dv_f"
  private final val PosRow = "__graft_dv_i"

  /** THE merge-on-read reader: `files` merged across evolving schemas
    * (q206 — widened columns read as NULL where history predates
    * them), renamed physical→logical through `colMap`, and
    * anti-joined against the `dvLive` deletion vectors' (file, row)
    * positions — deleted rows vanish at read time, no data file is
    * touched, and a vector row whose file left the live set matches
    * nothing (inert until vacuum). Every read of table rows goes
    * through here: the snapshot reads, the append feeds, and every
    * rewrite — a copy-on-write rewrite computed from the RAW files
    * would carry MoR-deleted rows into the new files and resurrect
    * them (the old file leaves the live set, so its vectors go
    * inert). `basePath` (the table root) recovers the partition
    * columns from the directories: rewrites pass it, the public reads
    * do not. With `positions = true` the frame keeps each row's
    * [[PosFile]]/[[PosRow]] columns.
    */
  private[graft] def morScan(spark: SparkSession, files: Seq[String],
                             dvLive: Seq[String], colMap: Map[String, String],
                             basePath: Option[String] = None,
                             positions: Boolean = false): DataFrame = {
    val data = toLogical(basePath.fold(spark.read)(spark.read.option("basePath", _))
      .option("mergeSchema", "true").parquet(files: _*), colMap)
    if (dvLive.isEmpty && !positions) return data
    val withPos = data.withColumn(PosFile, col("_metadata.file_path"))
      .withColumn(PosRow, col("_metadata.row_index"))
    val live =
      if (dvLive.isEmpty) withPos
      else withPos.join(spark.read.parquet(dvLive: _*)
        .select(col("file_path").as(PosFile), col("row_index").as(PosRow)),
        Seq(PosFile, PosRow), "left_anti")
    if (positions) live else live.drop(PosFile, PosRow)
  }

  /** A scan's file URI in the log's plain-path form (URI-decoded). */
  private def plainPath(uri: String): String =
    new Path(new java.net.URI(uri)).toUri.getPath

  /** The distinct files named by `df`'s one path column, sorted. */
  private def distinctFiles(df: DataFrame): Seq[String] =
    df.distinct().collect().map(r => plainPath(r.getString(0))).toSeq.sorted

  /** Validate a batch schema against the table's recorded one BEFORE
    * anything lands. Name+type map comparison (order- and
    * nullability-insensitive — reads are by name). Returns the schema
    * line the commit must carry: Some(json) when this commit
    * establishes or widens the schema, None when unchanged. A missing
    * or retyped column ALWAYS aborts (a rename looks like
    * missing+added and aborts on the missing side); added columns
    * need `evolve = true` — the q206 widening path.
    */
  private def enforceSchema(current: Option[String], batch: StructType,
                            evolve: Boolean, gen: String): Option[String] = {
    current match {
      case None => Some(batch.json) // first commit (or pre-schema log)
      case Some(js) =>
        val cur = DataType.fromJson(js).asInstanceOf[StructType]
        val curM = cur.fields.map(f => f.name -> f.dataType).toMap
        val batM = batch.fields.map(f => f.name -> f.dataType).toMap
        val missing = (curM.keySet -- batM.keySet).toSeq.sorted
        val retyped = (curM.keySet & batM.keySet).toSeq.sorted
          .filter(k => curM(k) != batM(k))
        if (missing.nonEmpty || retyped.nonEmpty)
          throw new IllegalArgumentException(
            s"schema enforcement: batch '$gen' does not match the table " +
              s"schema — missing: [${missing.mkString(", ")}], retyped: " +
              s"[${retyped.map(k => s"$k: ${curM(k).simpleString} -> " +
                s"${batM(k).simpleString}").mkString(", ")}] — nothing " +
              "was written (a RENAME is a metadata commit — " +
              "GenLog.renameColumn — old files serve untouched; a RETYPE " +
              "goes through an explicit recluster migration)")
        val added = cur.fields.map(_.name).toSet
        val newFields = batch.fields.filterNot(f => added(f.name))
        if (newFields.isEmpty) None
        else if (!evolve)
          throw new IllegalArgumentException(
            s"schema enforcement: batch '$gen' adds columns " +
              s"[${newFields.map(_.name).mkString(", ")}] — pass " +
              "evolve = true (the schema-evolution path) to widen the " +
              "table; nothing was written")
        else Some(StructType(cur.fields ++ newFields).json)
    }
  }

  // ----------------------------------------------------------------
  // writer verbs
  // ----------------------------------------------------------------

  /** A prepared-but-uncommitted generation: the data files are on
    * disk (invisible — no reader resolves them), the delta is
    * computed against `snapshotVersion`. [[commitStaged]] makes it
    * visible. The two-phase split IS the concurrency protocol: the
    * expensive write happens outside any critical section, and only
    * the O(batch)-sized commit contends. File attribution is exact
    * ([[writeAttributed]]), so stagings may physically interleave.
    */
  private[graft] final case class Staged(commit: Commit, snapshotVersion: Long) {
    def adds: Seq[String] = commit.adds
  }

  /** Phase one of [[appendBatch]]: validate the batch schema, write
    * the batch's data files (staged + renamed — exact attribution),
    * and compute its delta against the CURRENT snapshot, without
    * committing. The batch's partitions come from the files it
    * actually wrote (already escaped — partitionBy wrote the
    * directories), so removal-by-path never strands rows of an
    * untouched partition. With `cdf = true` the commit's change rows
    * persist beside it: the restated partitions' prior rows as
    * deletes, the batch's rows as inserts — read back from the
    * written files, cost ∝ restated data.
    */
  private[graft] def stageAppend(spark: SparkSession, loc: String, gen: String,
                                 df: DataFrame, partCols: Seq[String],
                                 evolve: Boolean = false,
                                 cdf: Boolean = false): Staged = {
    validateGen(gen)
    val (root, _) = fsOf(spark, loc)
    val prev = latestFull(spark, loc)
    val schemaLine = enforceSchema(prev.schema, df.schema, evolve, gen)
    // the batch arrives in LOGICAL names; files store PHYSICAL ones
    // (the column map's contract — renames never rewrite data)
    val added = writeAttributed(spark, loc, toPhysical(df, prev.colMap),
      partCols.map(physicalName(_, prev.colMap)))
    val parts = added.map(partTokenOf(root, _)).distinct.sorted
    // removal is EXACT-token only: a tuple restatement replaces files
    // of exactly its tuples. A coarser-layout file (a whole-day file
    // under a now-(day,type) batch) must NOT be removed — dropping it
    // would destroy its other tuples' rows — and silently ADDING
    // beside it would duplicate the restated rows, so a depth
    // mismatch aborts: migrating layouts is recluster's job.
    val liveTokens = prev.live.map(f => f -> partTokenOf(root, f))
    val mixed = liveTokens.collect { case (f, t)
      if parts.exists(pt => pt != t && tokensOverlap(pt, t)) => f }
    require(mixed.isEmpty,
      s"batch '$gen' restates partitions [${parts.take(3).mkString(", ")}…] " +
        s"at a different depth than the live layout (e.g. ${mixed.head}) — " +
        "a partition-scheme change must go through recluster; nothing of " +
        "this batch is visible (its staged files await vacuum)")
    val removed = liveTokens.collect { case (f, t) if parts.contains(t) => f }
    val cdfTok =
      if (!cdf) None
      else writeChanges(spark, loc,
        deletes =
          if (removed.isEmpty) None
          // preimages through the vectors: an MoR-deleted row of a
          // restated file was not logically in the table and must not
          // appear as a delete event
          else Some(morScan(spark, removed, prev.dvLive, prev.colMap, Some(loc))),
        inserts =
          if (added.isEmpty) None
          else Some(morScan(spark, added, Nil, prev.colMap, Some(loc))))
    Staged(withAddStats(spark, loc, Commit(0L, gen, parts, added, removed,
      schema = schemaLine, cdf = cdfTok, op = "append")), prev.version)
  }

  /** Phase two: install a staged generation's commit, with the object
    * scaladoc's optimistic-concurrency semantics (skip own gen, retry
    * past disjoint writers, abort on overlap or on a vacuumed race
    * window). Returns the installed version.
    */
  private[graft] def commitStaged(spark: SparkSession, loc: String,
                                  s: Staged): Long =
    commitDelta(spark, loc, s.commit, s.snapshotVersion)

  /** Phase two for an INSERT-kind staged delta (the [[appendInsert]]
    * semantics: declares its partitions so restaters conflict, but
    * never aborts as the loser). Exposed for the insert-vs-restater
    * race specs, which need both writers staged deterministically.
    * The staged cdf token (if any) is DROPPED, not carried: a delta
    * staged via [[stageAppend]] with cdf=true recorded the restated
    * partitions' prior rows as delete preimages, and an insert-kind
    * commit applies no removes — carrying the token would make
    * [[readChangeFeed]] report phantom deletes. The orphaned change
    * directory is unreferenced and vacuum sweeps it.
    */
  private[graft] def commitStagedInsert(spark: SparkSession, loc: String,
                                        s: Staged): Long =
    commitDelta(spark, loc, s.commit.copy(removes = Nil, insert = true,
      cdf = None, op = "insert"), s.snapshotVersion)

  /** Commit `df` as generation `gen`: append its files, mark the
    * previous generation's files for the RESTATED partitions removed,
    * record the delta. Skips if `gen` is already committed (crash
    * replay: orphan files from the failed attempt stay invisible and
    * vacuum collects them — the gen-id probe is O(tail) through the
    * checkpoint index). Schema is enforced before anything lands
    * (`evolve` gates widening); `cdf = true` persists the commit's
    * change rows for [[readChangeFeed]]. Concurrent-writer semantics
    * are the object scaladoc's.
    *
    * Under a MULTI-COLUMN partition key the batch restates every
    * `(c1, c2, …)` TUPLE it contains — partition directories nest
    * (`c1=…/c2=…/`), conflict tokens are the full tuple paths, and a
    * one-tuple restatement leaves every other tuple's files untouched
    * (the real 100 TB shape: tables partition by (date, region), not
    * one column).
    */
  def appendBatch(spark: SparkSession, loc: String, gen: String,
                  df: DataFrame, partCols: Seq[String],
                  evolve: Boolean = false, cdf: Boolean = false): Unit = {
    validateGen(gen)
    if (contains(spark, loc, gen)) return
    commitStaged(spark, loc,
      stageAppend(spark, loc, gen, df, partCols, evolve, cdf))
    ()
  }

  /** [[appendBatch]] with COMMIT-TIME CONSTRAINTS (SQL CHECK
    * semantics, Delta's constraint contract): each named predicate
    * must not evaluate FALSE on any batch row (NULL passes, as in
    * SQL CHECK); violations abort with per-constraint counts BEFORE
    * anything lands — not a data file, not a log object — so a bad
    * upstream batch can never become a generation readers see or
    * vacuum must clean. One validation aggregate over the batch; an
    * EMPTY batch trivially satisfies every constraint (the aggregate
    * sums coalesce to zero) and commits an empty delta.
    */
  def appendBatchChecked(spark: SparkSession, loc: String, gen: String,
                         df: DataFrame, partCols: Seq[String],
                         checks: Seq[(String, Column)],
                         evolve: Boolean = false,
                         cdf: Boolean = false): Unit = {
    require(checks.nonEmpty, "appendBatchChecked needs at least one constraint")
    val aggs = checks.map { case (_, p) =>
      coalesce(sum(when(!coalesce(p, lit(true)), 1L).otherwise(0L)), lit(0L))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val bad = checks.zipWithIndex.collect {
      case ((n, _), i) if r.getLong(i) > 0 => s"$n (${r.getLong(i)} rows)"
    }
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"constraint violation in batch '$gen': ${bad.mkString(", ")} — " +
          "nothing was written")
    appendBatch(spark, loc, gen, df, partCols, evolve, cdf)
  }

  /** Commit `df` as a FULL RESTATEMENT under a (possibly new)
    * partition column: every previous file leaves the live set, the
    * new files are the generation. This is partition EVOLUTION /
    * re-clustering through the log — the physical layout changes
    * (day files → week files), the logical rows don't, earlier
    * generations keep reading their own layout, and the dropped
    * fine-grained files become vacuum-collectable history. Declares
    * the wildcard partition, so it conflicts with every concurrent
    * RESTATER (an insert still lands — its rows add on top). The
    * rewrite REPLACES the table schema (Delta's overwriteSchema):
    * a whole-table rewrite defines the table. Partition EVOLUTION
    * between depths goes through here too (the one verb allowed to
    * change the table's partition scheme, because a full rewrite
    * defines the table).
    */
  def recluster(spark: SparkSession, loc: String, gen: String,
                df: DataFrame, partCols: Seq[String]): Unit = {
    validateGen(gen)
    if (contains(spark, loc, gen)) return
    val prev = latestFull(spark, loc)
    val added = writeAttributed(spark, loc, df, partCols)
    val schemaLine =
      if (prev.schema.contains(df.schema.json)) None else Some(df.schema.json)
    commitDelta(spark, loc, withAddStats(spark, loc,
      Commit(0L, gen, Seq(AllParts), added, prev.live, dataChange = false,
        schema = schemaLine, op = "recluster",
        // the rewrite's files store the frame's own names: the map
        // resets to identity (a full rewrite defines the table)
        cmap = if (prev.colMap.isEmpty) None else Some(Map.empty))),
      prev.version)
    ()
  }

  /** Commit `df` as PURE INSERTS under `partCols`: the files ADD to
    * their partitions without restating them — previous files stay
    * live, partitions accumulate one file per insert generation (the
    * append-only ingest mode; [[compactPartitionThroughLog]] is the
    * matching OPTIMIZE). The caller contracts that the batch's rows
    * are key-disjoint from every live row — inserts, not upserts
    * ([[mergeByKey]] is the upsert).
    *
    * Because an insert REMOVES nothing, its delta stays valid under
    * ANY concurrent commit — even a full restatement: its rows were
    * never part of the rewrite's input and simply add on top. An
    * insert therefore NEVER aborts as the loser, only retries to the
    * next version. It still DECLARES its partitions: a concurrent
    * RESTATER of the same partition must abort (the insert's file
    * would survive its removes and break the "restates completely"
    * contract — Delta's ConcurrentAppendException). That asymmetry —
    * inserts commute with everything, restatements conflict with
    * anything that touched their partitions — is the protocol
    * expressing real semantics instead of a global lock. A
    * multi-column key gets tuple directories + tuple conflict tokens
    * (see [[appendBatch]]).
    */
  def appendInsert(spark: SparkSession, loc: String, gen: String,
                   df: DataFrame, partCols: Seq[String],
                   cdf: Boolean = false): Unit = {
    validateGen(gen)
    if (contains(spark, loc, gen)) return
    val (root, _) = fsOf(spark, loc)
    val prev = latestFull(spark, loc)
    val schemaLine = enforceSchema(prev.schema, df.schema, evolve = false, gen)
    val added = writeAttributed(spark, loc, toPhysical(df, prev.colMap),
      partCols.map(physicalName(_, prev.colMap)))
    val parts = added.map(partTokenOf(root, _)).distinct.sorted
    val cdfTok =
      if (!cdf || added.isEmpty) None
      else writeChanges(spark, loc, deletes = None,
        inserts = Some(morScan(spark, added, Nil, prev.colMap, Some(loc))))
    commitDelta(spark, loc, withAddStats(spark, loc,
      Commit(0L, gen, parts, added, Nil, insert = true, schema = schemaLine,
        cdf = cdfTok, op = "insert")), prev.version)
    ()
  }

  /** Commit an UPSERT (MERGE INTO) as generation `gen`: rows of
    * `updates` replace live rows with equal `keyCols` and insert
    * where no such row exists. Copy-on-write at FILE granularity:
    * one pass over the live files finds the files holding matched
    * keys (a semi-join against the updates' keys — distributed; the
    * collect is the affected-file names), those files' UNMATCHED rows
    * rewrite beside the full updates frame, and the commit removes
    * exactly the affected files. Untouched files stay live
    * byte-identically; AS-OF-before-merge still reads the old rows.
    * Cost ∝ affected files + updates, never the table — Delta's
    * MERGE, executed small. Matched rows replace WHOLESALE, so the
    * updates frame must cover the live schema (a narrower frame
    * would silently drop the kept rows' extra columns — enforced,
    * not assumed). Declares the affected files' partitions plus the
    * rewrite's output partitions for conflict detection.
    */
  def mergeByKey(spark: SparkSession, loc: String, gen: String,
                 updates: DataFrame, keyCols: Seq[String],
                 partCols: Seq[String], cdf: Boolean = false): Unit = {
    validateGen(gen)
    if (contains(spark, loc, gen)) return
    val (root, _) = fsOf(spark, loc)
    val st = latestFull(spark, loc)
    require(st.live.nonEmpty, s"mergeByKey on an empty table at $loc — use appendBatch")
    val keys = updates.select(keyCols.map(col): _*).distinct()
    // everything runs on the MoR VIEW: a raw-file read would count
    // MoR-deleted rows as matches, carry them into the rewrite, and
    // resurrect them when the old file (and with it the vectors'
    // reach) leaves the live set
    val affected = distinctFiles(morScan(spark, st.live, st.dvLive, st.colMap,
      Some(loc), positions = true).join(keys, keyCols, "left_semi").select(col(PosFile)))
    def affectedView() = morScan(spark, affected, st.dvLive, st.colMap, Some(loc))
    // surviving rows of the affected files (cast-aligned: the
    // basePath read infers the partition column's type from the
    // directory names, the updates frame carries the writer's)
    val kept =
      if (affected.isEmpty) None
      else {
        val keptBase = affectedView().join(keys, keyCols, "left_anti")
        val narrower = keptBase.columns.filterNot(updates.columns.contains)
        require(narrower.isEmpty,
          s"mergeByKey updates frame must cover the live schema — missing " +
            s"columns: [${narrower.mkString(", ")}]; matched rows replace " +
            "wholesale, so a narrower frame would drop those columns from " +
            "the rewritten files (widen the updates, or evolve the table " +
            "through appendBatch first)")
        Some(keptBase.select(updates.columns.toIndexedSeq
          .map(c => col(c).cast(updates.schema(c).dataType)): _*))
      }
    val cdfTok =
      if (!cdf) None
      else writeChanges(spark, loc,
        deletes =
          if (affected.isEmpty) None
          else Some(affectedView().join(keys, keyCols, "left_semi")),
        inserts = Some(updates))
    val added = writeAttributed(spark, loc,
      toPhysical(kept.map(_.unionByName(updates)).getOrElse(updates),
        st.colMap),
      partCols.map(physicalName(_, st.colMap)))
    val parts = (added.map(partTokenOf(root, _)) ++
      affected.map(partTokenOf(root, _))).distinct.sorted
    commitDelta(spark, loc, withAddStats(spark, loc,
      Commit(0L, gen, parts, added, affected, cdf = cdfTok, op = "merge")),
      st.version)
    ()
  }

  /** OPTIMIZE one partition through the log: the partition's live
    * files rewrite as `numFiles` (default 1) in a new generation —
    * rows identical, siblings untouched, the small files the
    * append-only insert mode accumulates retained as history until
    * vacuum (AS-OF-before-compaction still reads them). The log twin
    * of [[Warehouse.compactPartition]]: there the partition overwrite
    * destroys the old files; here every earlier generation keeps
    * reading its own layout.
    */
  def compactPartitionThroughLog(spark: SparkSession, loc: String, gen: String,
                                 partCol: String, partValue: String,
                                 numFiles: Int = 1): Unit = {
    validateGen(gen)
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    if (contains(spark, loc, gen)) return
    val st = latestFull(spark, loc)
    val escaped = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(partValue)
    val target = st.live.filter(_.contains(s"/$partCol=$escaped/"))
    require(target.nonEmpty, s"no live files under $partCol=$escaped at $loc")
    // the MoR view under PHYSICAL names (the partition column is a
    // physical directory name): the rewrite must not resurrect rows
    // the live deletion vectors hide
    val added = writeAttributed(spark, loc,
      morScan(spark, target, st.dvLive, Map.empty, Some(loc)),
      Seq(partCol), numFiles = Some(numFiles))
    // declare the STRUCTURAL tuple tokens of the touched files (on a
    // multi-level table, `day_k=X` alone would not string-match a
    // concurrent restater's `day_k=X/etype_k=…` token — the prefix
    // rule in tokensOverlap needs the real tokens on both sides)
    val (root, _) = fsOf(spark, loc)
    val parts = (target ++ added).map(partTokenOf(root, _)).distinct.sorted
    commitDelta(spark, loc, withAddStats(spark, loc,
      Commit(0L, gen, parts, added, target, dataChange = false,
        op = "optimize")), st.version)
    ()
  }

  /** Generic LAYOUT-REWRITE commit: replace exactly the `target` live
    * files with `transform` applied to their rows, re-partitioned by
    * `partCols` — the building block behind partial re-clustering
    * ([[GenZoned.maybeReclusterPartial]]) and any file-scoped OPTIMIZE.
    * `transform` must be row-preserving (re-keying, re-sorting,
    * coalescing — never filtering), which is why the commit carries
    * dataChange=false: incremental consumers already have these rows.
    * Declares BOTH the target files' partitions and the rewrite's
    * output partitions for conflict detection (a concurrent
    * restatement of either side would invalidate the rewrite).
    * Cost ∝ target files, never the table.
    */
  def replaceFiles(spark: SparkSession, loc: String, gen: String,
                   target: Seq[String], partCols: Seq[String])
                  (transform: DataFrame => DataFrame): Unit = {
    validateGen(gen)
    if (contains(spark, loc, gen)) return
    val (root, _) = fsOf(spark, loc)
    val st = latestFull(spark, loc)
    require(target.nonEmpty, "replaceFiles needs at least one target file")
    require(target.forall(st.live.contains),
      s"replaceFiles targets must be live files of the latest generation")
    // the MoR view under PHYSICAL names (the transform's contract)
    val out = transform(morScan(spark, target, st.dvLive, Map.empty, Some(loc)))
    val added = writeAttributed(spark, loc, out, partCols)
    val parts = (target.map(partTokenOf(root, _)) ++
      added.map(partTokenOf(root, _))).distinct.sorted
    commitDelta(spark, loc, withAddStats(spark, loc,
      Commit(0L, gen, parts, added, target.sorted, dataChange = false,
        op = "replaceFiles")), st.version)
    ()
  }

  /** COLUMN MAPPING: rename a column as a METADATA-ONLY commit —
    * zero data files written, old files serve untouched (Delta's
    * column mapping, executed small). The log's schema record keeps
    * LOGICAL names; the commit's column map entry records which
    * PHYSICAL name (the one stored in every existing and future
    * file) the new logical name projects from. Reads rename
    * physical→logical at scan time; writes rename logical→physical
    * before landing, so pre- and post-rename files stay
    * byte-compatible and merge in one scan. AS-OF-before-the-rename
    * resolves the OLD schema and map — history keeps its own names.
    * Wildcard conflict scope (a concurrent writer's staged batch was
    * validated against the old schema — it must abort and restage,
    * Delta's ConcurrentMetadataException); dataChange=false (no row
    * moved — feeds and incremental consumers skip it). Partition
    * directories keep their physical names forever, so partition
    * tokens and OCC are rename-stable by construction. Limits, by
    * design: [[configureStats]] column names and [[replaceFiles]]/
    * [[compactPartitionThroughLog]] transforms address PHYSICAL
    * names (they read the merge-on-read view below the mapping).
    */
  def renameColumn(spark: SparkSession, loc: String, gen: String,
                   from: String, to: String): Unit = {
    validateGen(gen)
    require(!to.contains(":") && !to.contains("\n") && to.nonEmpty,
      s"column name must be non-empty, colon- and newline-free: '$to'")
    if (contains(spark, loc, gen)) return
    val cur = latestFull(spark, loc)
    val js = cur.schema.getOrElse(throw new IllegalArgumentException(
      s"renameColumn on a table with no recorded schema at $loc — " +
        "commit a batch first"))
    val schema = DataType.fromJson(js).asInstanceOf[StructType]
    require(schema.fieldNames.contains(from),
      s"renameColumn: no column '$from' in the table schema at $loc " +
        s"(have ${schema.fieldNames.mkString(", ")})")
    require(!schema.fieldNames.contains(to),
      s"renameColumn: column '$to' already exists at $loc")
    val renamed = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val newMap = (cur.colMap - from) +
      (to -> physicalName(from, cur.colMap))
    commitDelta(spark, loc,
      Commit(0L, gen, Seq(AllParts), Nil, Nil, dataChange = false,
        schema = Some(renamed.json), cmap = Some(newMap),
        op = "renameColumn"), cur.version)
    ()
  }

  /** RESTORE: make the table's latest state equal generation
    * `toGen`'s, as a NEW generation — the rollback that never erases
    * (Delta RESTORE): nothing is copied or written, the commit simply
    * re-lists the old generation's files (they are still on disk —
    * that is what the retention window is FOR) and removes the
    * current ones from live. Every intermediate generation stays
    * AS-OF readable, so the mistake being rolled back remains
    * auditable; dataChange=true because consumers see the table's
    * rows change (a restore invalidates feed cursors — consumers
    * re-seed, the documented Delta caveat). Wildcard conflict scope:
    * a restore invalidates any concurrent writer's snapshot by
    * definition. The restored schema is the target generation's.
    *
    * With `cdf = true` the rollback itself feeds the change stream:
    * change rows come from the FILE-LIST DIFF alone — rows of files
    * only the current state holds are deletes, rows of files only the
    * target holds are inserts (each side read through its own
    * deletion vectors, so MoR state diffs correctly) — cost ∝
    * DIFFERING files, never the table. Rows restated identically
    * across layouts surface as equal delete+insert pairs, which
    * [[netKeyedChanges]] drops, so keyed consumers see exactly the
    * net rollback. Without cdf, a restore poisons feed ranges that
    * cross it (the loud [[readChangeFeed]] contract) — consumers
    * re-seed, the documented Delta caveat.
    */
  def restore(spark: SparkSession, loc: String, newGen: String,
              toGen: String, cdf: Boolean = false): Unit = {
    validateGen(newGen)
    if (contains(spark, loc, newGen)) return
    val target = resolveGen(spark, loc, toGen)
    val (p, fs) = fsOf(spark, loc)
    (target.live ++ target.dvLive).foreach { f =>
      require(fs.exists(new Path(f)),
        s"restore target file vacuumed: $f — '$toGen' is outside the retention window")
    }
    val cur = latestFull(spark, loc)
    val schemaLine = if (target.schema == cur.schema) None else target.schema
    val cdfTok =
      if (!cdf) None
      else {
        def side(files: Seq[String], s: Snapshot): Option[DataFrame] =
          if (files.isEmpty) None
          else Some(morScan(spark, files, s.dvLive, s.colMap, Some(loc)))
        val curOnly = cur.live.filterNot(target.live.toSet)
        val tgtOnly = target.live.filterNot(cur.live.toSet)
        // each side speaks ITS state's logical names (the deletes are
        // rows leaving the current state, the inserts rows of the
        // restored one)
        writeChanges(spark, loc,
          deletes = side(curOnly, cur),
          inserts = side(tgtOnly, target))
      }
    commitDelta(spark, loc,
      Commit(0L, newGen, Seq(AllParts), target.live, cur.live,
        dvAdds = target.dvLive, dvRemoves = cur.dvLive,
        rows = target.rows, dvRows = target.dvRows,
        schema = schemaLine, cdf = cdfTok, op = "restore",
        // the re-listed files' stats were recorded by THEIR commits:
        // the target resolution still carries them — no rescan
        stats = target.stats, blooms = target.blooms,
        cmap = if (target.colMap == cur.colMap) None
               else Some(target.colMap)), cur.version)
    ()
  }

  /** Commit a DELETE as generation `gen`: rows of the LATEST snapshot
    * matching `pred` leave the table by REWRITE-ON-DELETE of only the
    * files that contain them — untouched files stay in the live set
    * byte-identically, earlier generations still serve the deleted
    * rows (AS-OF-before-delete is the legal-hold read), and with
    * `cdf = true` the deleted rows persist as the commit's change
    * files (the feed [[readChangeFeed]] serves — O(changes), never a
    * snapshot diff).
    *
    * Mechanics: one pass over the live files finds the AFFECTED file
    * set (`input_file_name` + the predicate — distributed, collect
    * bounded by the affected-file count); the affected files'
    * surviving rows (`pred` false or NULL) rewrite as new files under
    * the same partition scheme (`basePath` read recovers the
    * partition column a partitioned write strips from the files); the
    * commit removes the affected files and adds the rewrites. A file
    * whose every row matches simply rewrites to nothing. Cost ∝
    * affected files, never the table — the Delta/Iceberg
    * copy-on-write DELETE, executed small. Declares the affected
    * files' partitions for conflict detection.
    */
  def deleteWhere(spark: SparkSession, loc: String, gen: String,
                  pred: Column, partCols: Seq[String],
                  cdf: Boolean = false): Unit = {
    validateGen(gen)
    if (contains(spark, loc, gen)) return
    val (root, _) = fsOf(spark, loc)
    val st = latestFull(spark, loc)
    require(st.live.nonEmpty, s"deleteWhere on an empty table at $loc")
    val hit = coalesce(pred, lit(false))
    // matching and the rewrite both run on the MoR VIEW: a raw-file
    // read would keep MoR-deleted rows in the rewrite (resurrecting
    // them once the old file's vectors go inert) and mark files
    // affected on dead rows alone
    val affected = distinctFiles(morScan(spark, st.live, st.dvLive, st.colMap,
      Some(loc), positions = true).where(hit).select(col(PosFile)))
    if (affected.isEmpty) {
      // nothing matches: commit an empty delta so the generation
      // exists (the snapshot is the previous one's live set)
      commitDelta(spark, loc, Commit(0L, gen, Nil, Nil, Nil, op = "delete"),
        st.version)
      return
    }
    val parts = affected.map(partTokenOf(root, _)).distinct.sorted
    def affectedView() = morScan(spark, affected, st.dvLive, st.colMap, Some(loc))
    val cdfTok =
      if (!cdf) None
      else writeChanges(spark, loc,
        deletes = Some(affectedView().where(hit)),
        inserts = None)
    val added = writeAttributed(spark, loc,
      toPhysical(affectedView().where(!hit), st.colMap),
      partCols.map(physicalName(_, st.colMap)))
    commitDelta(spark, loc, withAddStats(spark, loc,
      Commit(0L, gen, parts, added, affected, cdf = cdfTok, op = "delete")),
      st.version)
    ()
  }

  /** Commit a MERGE-ON-READ delete as generation `gen`: instead of
    * rewriting the affected files (the [[deleteWhere]] copy-on-write
    * path), the matched rows' (file, row-position) pairs land in a
    * DELETION-VECTOR sidecar (`_dv/<token>/` — exact attribution by
    * construction) and the commit adds it to the DV live set —
    * readers anti-join the vectors at scan time ([[read]]). The write
    * cost is O(matched positions) regardless of how many rows the
    * affected files hold — the Delta deletion-vector / Iceberg
    * position-delete trade: delete-heavy workloads defer the rewrite;
    * [[materializeDeletes]] settles the debt when [[dvDebt]] says the
    * read amplification is no longer worth it, and
    * [[compactDeletionVectors]] merges sidecar fragments in between.
    * Matching runs on the MoR VIEW (existing vectors applied), so
    * repeated deletes never double-enter positions. Declares the
    * affected files' partitions for conflict detection.
    */
  def deleteWhereMoR(spark: SparkSession, loc: String, gen: String,
                     pred: Column, cdf: Boolean = false): Unit = {
    validateGen(gen)
    if (contains(spark, loc, gen)) return
    val (root, _) = fsOf(spark, loc)
    val st = latestFull(spark, loc)
    require(st.live.nonEmpty, s"deleteWhereMoR on an empty table at $loc")
    val hit = coalesce(pred, lit(false))
    val matched = morScan(spark, st.live, st.dvLive, st.colMap, Some(loc),
        positions = true).where(hit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val affected = distinctFiles(matched.select(col(PosFile)))
      if (affected.isEmpty) {
        commitDelta(spark, loc,
          Commit(0L, gen, Nil, Nil, Nil, op = "deleteMoR"), st.version)
        return
      }
      val parts = affected.map(partTokenOf(root, _)).distinct.sorted
      val cdfTok =
        if (!cdf) None
        else writeChanges(spark, loc,
          deletes = Some(matched.drop(PosFile, PosRow)), inserts = None)
      val token = s"d-${UUID.randomUUID()}"
      matched.select(col(PosFile).as("file_path"), col(PosRow).as("row_index"))
        .coalesce(1).write.parquet(s"$loc/$DvDir/$token")
      val dvAdds = listDvFiles(spark, loc)
        .filter(_.contains(s"/$DvDir/$token/")).toSeq.sorted
      commitDelta(spark, loc,
        Commit(0L, gen, parts, Nil, Nil, dvAdds = dvAdds,
          dvRows = footerRows(spark, dvAdds), cdf = cdfTok,
          op = "deleteMoR"), st.version)
      ()
    } finally { matched.unpersist(blocking = false); () }
  }

  /** Settle the deletion-vector debt as generation `gen`: every data
    * file the live vectors reference rewrites WITHOUT its deleted
    * rows (copy-on-write, at last), the vectors leave the DV live
    * set, and the table is vector-free again. dataChange=false — the
    * MoR view's rows are identical before and after; this commit
    * moves read amplification, never answers. Cost ∝ affected files,
    * exactly the rewrite the MoR delete deferred.
    */
  def materializeDeletes(spark: SparkSession, loc: String, gen: String,
                         partCols: Seq[String]): Unit = {
    validateGen(gen)
    if (contains(spark, loc, gen)) return
    val (root, _) = fsOf(spark, loc)
    val st = latestFull(spark, loc)
    require(st.dvLive.nonEmpty, s"no deletion vectors to materialize at $loc")
    val affected = distinctFiles(spark.read.parquet(st.dvLive: _*)
      .select(col("file_path"))).filter(st.live.contains)
    val parts = affected.map(partTokenOf(root, _)).distinct.sorted
    val added =
      if (affected.isEmpty) Nil
      else writeAttributed(spark, loc,
        morScan(spark, affected, st.dvLive, Map.empty, Some(loc)), partCols)
    commitDelta(spark, loc, withAddStats(spark, loc,
      Commit(0L, gen, parts :+ DvParts, added, affected, dataChange = false,
        dvRemoves = st.dvLive, op = "materializeDeletes")), st.version)
    ()
  }

  /** The deletion-vector DEBT: live vector rows / live data rows —
    * the read-amplification metric every MoR table needs (each
    * scan anti-joins the vectors, so debt IS the extra work). Row
    * counts come from the log's commit metadata (footer counts
    * recorded at write time); a file with no recorded count is
    * footer-read on demand — still metadata-only, never a data scan.
    */
  def dvDebt(spark: SparkSession, loc: String): Double = {
    val st = latestFull(spark, loc)
    if (st.dvLive.isEmpty) return 0.0
    def total(files: Seq[String], known: Map[String, Long]): Double =
      files.map(f => known.getOrElse(f, footerRowCount(spark, f)).toDouble).sum
    val data = total(st.live, st.rows)
    if (data == 0) 1.0 else total(st.dvLive, st.dvRows) / data
  }

  /** Settle the DV debt IF it crossed `bound` (the q214 WidthBound
    * pattern, settlement edition): the metadata metric decides, the
    * rewrite is [[materializeDeletes]]. Returns whether it ran —
    * idempotent through the gen-id guard.
    */
  def maybeMaterialize(spark: SparkSession, loc: String, gen: String,
                       partCols: Seq[String], bound: Double): Boolean = {
    if (contains(spark, loc, gen)) return true
    if (dvDebt(spark, loc) <= bound) false
    else { materializeDeletes(spark, loc, gen, partCols); true }
  }

  /** Merge the live deletion-vector sidecars into ONE (the
    * in-between maintenance for delete-heavy tables: each MoR delete
    * adds a sidecar, every scan opens all of them — compaction keeps
    * the count flat without paying the data-file rewrite
    * [[materializeDeletes]] costs). dataChange=false; declares only
    * the [[DvParts]] token — data-file commits never conflict with it
    * (DV application is idempotent and a vector row whose file left
    * the live set is inert), but a concurrent VECTOR-REMOVING commit
    * (a settlement) does: a retried compaction would re-add the
    * drained sidecars and corrupt the debt metric. Returns whether a
    * compaction committed (false when ≤ 1 sidecar is live).
    */
  def compactDeletionVectors(spark: SparkSession, loc: String,
                             gen: String): Boolean = {
    validateGen(gen)
    if (contains(spark, loc, gen)) return true
    val st = latestFull(spark, loc)
    if (st.dvLive.size <= 1) return false
    val token = s"d-${UUID.randomUUID()}"
    spark.read.parquet(st.dvLive: _*)
      .coalesce(1).write.parquet(s"$loc/$DvDir/$token")
    val dvAdds = listDvFiles(spark, loc)
      .filter(_.contains(s"/$DvDir/$token/")).toSeq.sorted
    commitDelta(spark, loc,
      Commit(0L, gen, Seq(DvParts), Nil, Nil, dataChange = false,
        dvAdds = dvAdds, dvRemoves = st.dvLive,
        dvRows = footerRows(spark, dvAdds), op = "compactDeletionVectors"),
      st.version)
    true
  }

  // ----------------------------------------------------------------
  // readers
  // ----------------------------------------------------------------

  /** Read the table AS OF `gen` — exactly the files that generation
    * committed, regardless of every later append/overwrite/delete.
    * The partition column comes back as a DATA column because the
    * writer stores it in-file too (callers include it in `df`).
    */
  def read(spark: SparkSession, loc: String, gen: String): DataFrame =
    frameOf(spark, resolveGen(spark, loc, gen), s"generation '$gen'")

  /** A snapshot's rows through [[morScan]] (no partition column —
    * the public reads never recover it); an empty snapshot aborts,
    * naming `what`.
    */
  private def frameOf(spark: SparkSession, r: Snapshot, what: String): DataFrame = {
    if (r.live.isEmpty) throw new IllegalArgumentException(s"$what is empty")
    morScan(spark, r.live, r.dvLive, r.colMap)
  }

  def readLatest(spark: SparkSession, loc: String): DataFrame = {
    val r = latestFull(spark, loc)
    require(r.version > 0, s"no generations committed at $loc")
    frameOf(spark, r, s"generation '${r.gen}'")
  }

  /** One live file's commit-recorded statistics: row count plus each
    * tracked column's (min, max) envelope as longs (timestamps in
    * epoch micros).
    */
  final case class FileStat(file: String, rows: Long,
                            cols: Map[String, (Long, Long)])

  /** The LATEST snapshot's per-file statistics, from the log alone —
    * a checkpoint+tail metadata resolve, never a data read. This is
    * the skipping surface (GenZoned prices and prunes from
    * it): stats travel IN commit objects, so they are transactional
    * with the files — a crash can never leave a snapshot whose stats
    * lag its live set, and there is no absorption step to forget.
    */
  def snapshotStats(spark: SparkSession, loc: String): Seq[FileStat] = {
    val r = latestFull(spark, loc)
    r.live.map(f => FileStat(f,
      r.rows.getOrElse(f, footerRowCount(spark, f)),
      r.stats.getOrElse(f, Map.empty)))
  }

  /** The live files whose commit-recorded Bloom MAY contain the key
    * whose hash is `keyHash` (the build/probe idiom: hash60 % P on
    * the stringified key). No false negatives by construction; a live
    * file with NO recorded Bloom is kept (conservative — it cannot be
    * proven clean). Driver-side O(live files × NumHashes) bit probes.
    */
  def bloomMatchedFiles(spark: SparkSession, loc: String,
                        keyHash: Long): Seq[String] =
    bloomMatched(latestFull(spark, loc), keyHash)

  private def bloomMatched(r: Snapshot, keyHash: Long): Seq[String] =
    r.live.filter { f =>
      r.blooms.get(f).forall { words =>
        (0 until graft.functions.BloomSketch.NumHashes).forall { i =>
          val pos = graft.functions.BloomSketch.position(keyHash, i)
          ((words(pos >> 6) >> (pos & 63)) & 1L) == 1L
        }
      }
    }

  /** Read only the live files whose commit-recorded Bloom may contain
    * the probe key — point-lookup file skipping on a LOGGED table
    * (q201's treatment, now transactional with the data), read
    * exactly as [[readLatest]] reads those files: through the live
    * deletion vectors and under the current logical names. Callers
    * re-apply the exact equality; an empty candidate set
    * short-circuits against the latest snapshot's schema.
    */
  def readBloomPruned(spark: SparkSession, loc: String,
                      keyHash: Long): DataFrame = {
    val r = latestFull(spark, loc)
    val files = bloomMatched(r, keyHash)
    if (files.isEmpty) readLatest(spark, loc).where(lit(false))
    else morScan(spark, files, r.dvLive, r.colMap)
  }

  /** The surviving commits' (version, gen, timestamp-millis) triples,
    * oldest first, with MONOTONIC ADJUSTMENT: raw stamps come from
    * the commit object's `ts` line, and each commit's served
    * timestamp is forced to at least its
    * predecessor's + 1 ms, so version order and timestamp order can
    * never disagree even across writer clock skew (Delta's
    * monotonization, same rule). Driver-side O(surviving commits) —
    * the same metadata class as [[history]]; timestamp resolution is
    * an audit/AS-OF surface, not a hot path.
    */
  def commitTimestamps(spark: SparkSession, loc: String): Seq[(Long, String, Long)] = {
    val log = logOf(spark, loc)
    stamped(log.commits.map(log.commit))
  }

  private def stamped(cs: Seq[Commit]): Seq[(Long, String, Long)] =
    cs.headOption.toSeq.flatMap { first =>
      cs.tail.scanLeft((first.version, first.gen, first.ts)) {
        case ((_, _, prev), c) => (c.version, c.gen, math.max(c.ts, prev + 1))
      }
    }

  /** TIMESTAMP AS OF: read the table as of wall-clock `tsMillis` —
    * the snapshot of the LATEST commit whose (monotonically adjusted)
    * timestamp is ≤ `tsMillis` (Delta's `TIMESTAMP AS OF` semantics:
    * "what did the table look like yesterday 14:00"). A timestamp
    * later than every commit clamps to the latest snapshot; a
    * timestamp EARLIER than the first surviving commit aborts — the
    * answer would need history that was vacuumed (or never existed),
    * and guessing would silently serve the wrong snapshot. After a
    * vacuum, resolution starts at the first surviving COMMIT: the
    * retention-cut checkpoint's own commit time went with its log
    * object, so timestamps inside the cut are unprovable (Delta's
    * commit-retention rule, same shape).
    */
  def readAsOfTimestamp(spark: SparkSession, loc: String,
                        tsMillis: Long): DataFrame = {
    val tss = commitTimestamps(spark, loc)
    require(tss.nonEmpty, s"no commits at $loc")
    if (tsMillis < tss.head._3)
      throw new IllegalArgumentException(
        s"timestamp $tsMillis predates the log's surviving history at " +
          s"$loc (earliest surviving commit is v${tss.head._1} at " +
          s"${tss.head._3}) — vacuumed, or before the table existed")
    val target = tss.takeWhile(_._3 <= tsMillis).last._1
    frameOf(spark, resolveVersion(logOf(spark, loc), target),
      s"the snapshot at timestamp $tsMillis (v$target)")
  }

  /** INCREMENTAL CONSUMPTION: the rows APPENDED after `sinceGen`, as
    * the union of every later data-changing commit's added files —
    * never a table diff. Layout-only commits (re-clustering,
    * compaction: `dataChange=false`) are skipped even though they add
    * files, because their adds restate rows already delivered — and
    * the original small files they displaced stay readable until
    * vacuum, so a consumer mid-stream never loses data to an
    * OPTIMIZE. This is the append-feed a downstream training-data
    * pipeline tails (Delta's streaming-source contract): cost ∝ new
    * data since the consumer's cursor, never the table. Scope:
    * row-accurate for append-only tables (appendInsert); restating
    * writers' updates/deletes surface through [[readChangeFeed]],
    * not this feed. A cursor vacuumed out of the surviving history
    * fails loudly — the consumer must re-seed, never silently skip.
    */
  def readAppendedSince(spark: SparkSession, loc: String,
                        sinceGen: String): DataFrame = {
    val log = logOf(spark, loc)
    val sinceVer = log.versionOrThrow(sinceGen)
    val range = (sinceVer + 1) to log.commits.lastOption.getOrElse(sinceVer)
    require(range.forall(log.commits.contains),
      s"cursor '$sinceGen' (v$sinceVer) predates the log's surviving " +
        s"history at $loc — vacuum truncated the feed; re-seed the consumer")
    val files = range.map(log.commit)
      .filter(_.dataChange).flatMap(_.adds).distinct
    if (files.isEmpty) readLatest(spark, loc).where(lit(false))
    // the feed serves the table's CURRENT logical names (files store
    // physical ones; a renamed table's consumers see the new name —
    // Delta's streaming-schema rule)
    else morScan(spark, files, Nil, latestColMap(spark, loc))
  }

  /** The committed version of `gen`, O(tail) through the checkpoint
    * gen index — exposed for cursor seeding (a streaming consumer
    * starting "after generation g") and the stream-source specs.
    */
  private[graft] def versionOfGen(spark: SparkSession, loc: String,
                                  gen: String): Option[Long] =
    logOf(spark, loc).versionOf(gen)

  /** The parsed commits with version > `afterVersion`, oldest first —
    * the micro-batch DISCOVERY read of a streaming source over the
    * log ([[graft.streaming.GenLogStream.readSource]]): one log-dir
    * listing plus O(new commits) object reads, never a snapshot
    * resolve. A cursor the vacuum truncated past fails LOUDLY (the
    * missing versions are unprovable — the consumer must re-seed,
    * never silently skip), exactly [[readAppendedSince]]'s contract.
    */
  private[graft] def commitsAfter(spark: SparkSession, loc: String,
                                  afterVersion: Long): Seq[Commit] = {
    val log = logOf(spark, loc)
    // checkpoints bound the range too: a vacuum that truncated EVERY
    // commit past the cursor leaves only the retention-cut checkpoint,
    // and "no new commits" would then be a silent lie
    val range = (afterVersion + 1) to math.max(log.latest, afterVersion)
    val missing = range.filterNot(log.commits.contains)
    require(missing.isEmpty,
      s"stream cursor v$afterVersion predates the log's surviving history " +
        s"at $loc (versions ${missing.mkString(",")} vacuumed) — re-seed " +
        "the consumer")
    range.map(log.commit)
  }

  /** The COMMIT-TIME change feed between two generations: the union
    * of the range's change files (`_changes/<token>/`, written by the
    * committing verb — [[appendBatch]]/[[appendInsert]]/
    * [[deleteWhere]]/[[deleteWhereMoR]]/[[mergeByKey]] with
    * `cdf = true`), each tagged with its [[ChangeVersionCol]].
    * Cost ∝ CHANGED rows in the range — never a snapshot resolve,
    * never a table diff: `df.inputFiles` on the result lists only
    * `_changes` paths (spec-pinned). Layout-only commits contribute
    * nothing by construction. A data-changing commit in range that
    * did NOT record change files fails loudly (the writer committed
    * without cdf — the feed would silently lie otherwise), as does a
    * range vacuum truncated.
    */
  def readChangeFeed(spark: SparkSession, loc: String,
                     fromGen: String, toGen: String): DataFrame = {
    val log = logOf(spark, loc)
    val (lo, hi) = (log.versionOrThrow(fromGen), log.versionOrThrow(toGen))
    require(lo <= hi, s"change feed range is backwards: " +
      s"'$fromGen' (v$lo) after '$toGen' (v$hi)")
    val range = (lo + 1) to hi
    val missing = range.filterNot(log.commits.contains)
    require(missing.isEmpty,
      s"change feed v${lo + 1}..v$hi at $loc has vacuumed commits " +
        s"(${missing.mkString(",")}) — re-seed the consumer")
    val cs = range.map(log.commit)
    val silent = cs.filter(c => c.dataChange && c.cdf.isEmpty &&
      (c.adds.nonEmpty || c.removes.nonEmpty || c.dvAdds.nonEmpty ||
        c.dvRemoves.nonEmpty))
    require(silent.isEmpty,
      s"commits ${silent.map(c => s"'${c.gen}' (v${c.version})").mkString(", ")} " +
        s"changed data without change files — the writer committed with " +
        "cdf = false; this table cannot serve a commit-time feed for that range")
    val frames = cs.flatMap(c => c.cdf.map(tok =>
      spark.read.parquet(s"$loc/$ChangesDir/$tok")
        .withColumn(ChangeVersionCol, lit(c.version))))
    if (frames.isEmpty)
      readLatest(spark, loc).limit(0)
        .withColumn(ChangeTypeCol, lit(""))
        .withColumn(ChangeVersionCol, lit(0L))
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** NET the change feed per key: what a keyed consumer applies.
    * Within a key, events order by (version, delete-before-insert);
    * the net change is (first event's preimage if it was a delete,
    * last event's postimage if it was an insert) — so an
    * insert-then-update chain nets to one insert, an
    * update-then-delete to one delete, and both a restated-but-equal
    * value AND a key born-and-deleted inside the range net to nothing
    * (dropped). ONE partial+final aggregate, no window, no
    * shuffle beyond the keys. Contract: the table is key-unique per
    * snapshot (one row per key), which every rollup/dimension store
    * is. Returns keyCols + `n_old` (value before the range, NULL if
    * the key is new) + `n_new` (value after, NULL if deleted).
    */
  def netKeyedChanges(feed: DataFrame, keyCols: Seq[String],
                      valueCol: String): DataFrame = {
    val rank = when(col(ChangeTypeCol) === lit("delete"), lit(0)).otherwise(lit(1))
    val ev = struct(col(ChangeVersionCol).as("v"), rank.as("r"),
      col(valueCol).as("x"))
    feed.groupBy(keyCols.map(col): _*)
      .agg(min(ev).as("__first"), max(ev).as("__last"))
      .select(keyCols.map(col) ++ Seq(
        when(col("__first.r") === 0, col("__first.x")).as("n_old"),
        when(col("__last.r") === 1, col("__last.x")).as("n_new")): _*)
      .where((col("n_old").isNotNull || col("n_new").isNotNull) &&
        (col("n_old").isNull || col("n_new").isNull ||
          col("n_old") =!= col("n_new")))
  }

  /** DESCRIBE HISTORY: one row per surviving log object, newest
    * first — the audit surface every lake table carries (Delta's
    * DESCRIBE HISTORY, executed small). Versions vacuumed into the
    * retention-cut checkpoint surface as one `checkpoint` row (their
    * per-commit deltas are gone by design); every surviving commit
    * reports its operation, conflict scope, file/row deltas, and
    * whether it changed data, evolved the schema, or wrote change
    * files. Driver-side O(surviving log objects) — metadata only.
    */
  def history(spark: SparkSession, loc: String): DataFrame = {
    val log = logOf(spark, loc)
    val cutRows: Seq[(Long, String, String, Boolean, Boolean, Int, Int, Long,
      Int, Int, Boolean, Boolean, Option[Long])] =
      if (log.commits.headOption.contains(1L)) Nil
      else log.checkpoints.headOption.map { cv =>
        val ck = log.checkpoint(cv)
        // the cut's own commit time went with its vacuumed log object
        (cv, ck.gen, "checkpoint", true, false, ck.live.size, 0,
          ck.rows.values.sum, ck.dvLive.size, 0, false, ck.schema.isDefined,
          Option.empty[Long])
      }.toSeq
    val cs = log.commits.map(log.commit)
    val commitRows = cs.zip(stamped(cs)).map { case (c, (v, _, ts)) =>
      (v, c.gen, c.op, c.dataChange, c.insert, c.adds.size, c.removes.size,
        c.rows.values.sum, c.dvAdds.size, c.dvRemoves.size, c.cdf.isDefined,
        c.schema.isDefined, Option(ts))
    }
    import spark.implicits._
    (cutRows ++ commitRows).sortBy(-_._1)
      .toDF("version", "gen", "operation", "data_change", "insert_kind",
        "n_added_files", "n_removed_files", "n_added_rows", "n_dv_adds",
        "n_dv_removes", "wrote_change_files", "schema_changed",
        "timestamp_ms")
  }

  /** SHALLOW CLONE: commit generation `clone_<gen>` at `destLoc`
    * whose live set IS the source snapshot's file list — zero data
    * copied, the manifest is the clone (Delta shallow clone /
    * Iceberg snapshot ref). The clone is immediately writable as an
    * independent table: its later commits write under `destLoc` and
    * restate by removing SOURCE paths from its own live set — the
    * source's files and log are never touched, and the clone's
    * vacuum cannot collect source bytes (it only lists its own
    * directory). Lifecycle caveat, as in every shallow-clone system:
    * the SOURCE's vacuum can delete files the clone still
    * references — clone from snapshots inside the source's retention
    * window. The clone commit writes no change files (it is a new
    * table; its feed starts after the clone).
    */
  def cloneSnapshot(spark: SparkSession, srcLoc: String, gen: String,
                    destLoc: String): Unit = {
    val gname = s"clone_$gen"
    if (contains(spark, destLoc, gname)) return
    val src = resolveGen(spark, srcLoc, gen)
    val prev = latestFull(spark, destLoc)
    commitDelta(spark, destLoc,
      Commit(0L, gname, Seq(AllParts), src.live, prev.live,
        dvAdds = src.dvLive, dvRemoves = prev.dvLive,
        rows = src.rows, dvRows = src.dvRows, schema = src.schema,
        op = "clone", stats = src.stats, blooms = src.blooms,
        cmap = if (src.colMap.isEmpty) None else Some(src.colMap)),
      prev.version)
    ()
  }

  /** Retain the last `keepLastN` generations: the retained state
    * installs FIRST (a checkpoint at the retention cut, so the cut
    * generation resolves without its dropped predecessors), then the
    * dropped log objects and the files referenced by no retained
    * generation — overwritten history AND crash orphans — are
    * deleted. Returns the deleted data/DV paths.
    *
    * `minAgeMs` is the FILE-AGE horizon (default
    * [[DefaultRetentionMs]]): an unreferenced file younger than it
    * survives the sweep, because a concurrently STAGING writer's
    * pre-commit files are indistinguishable from orphans by listing —
    * the age bound is the entire safety argument (Delta's
    * deletedFileRetentionDuration). The same horizon guards crashed
    * writers' log temps, stale `_staged` directories, and
    * unreferenced `_changes` directories. Tests pass 0 to collect
    * immediately.
    *
    * CLOCK ASSUMPTION: "older than the horizon" is judged by the
    * file's MODIFICATION TIME against the vacuum host's LOCAL clock —
    * exact on a local FS or HDFS (one clock), but on an object store
    * a skewed writer clock can make a just-staged file LOOK older
    * than it is and be collected inside the horizon. Delta carries
    * the same exposure; the defence is the same: keep the retention
    * horizon generous relative to plausible skew ([[DefaultRetentionMs]]
    * is 7 days — clock drift is measured in seconds-to-minutes, so
    * the default dwarfs it by 3–4 orders of magnitude). Shortening
    * `minAgeMs` toward zero trades that margin away and is safe only
    * where writers and the vacuum share a clock (tests do).
    *
    * A crash between install and deletion leaves only collectable
    * garbage; retained generations read exactly what they always
    * read. Log truncation also bounds the gen-id idempotence memory:
    * a batch replayed after its generation was vacuumed out of every
    * surviving index re-commits (the Delta txn-id retention caveat).
    */
  def vacuum(spark: SparkSession, loc: String, keepLastN: Int,
             minAgeMs: Long = DefaultRetentionMs): Seq[String] = {
    require(keepLastN >= 1,
      s"vacuum must retain at least one generation, got keepLastN=$keepLastN")
    val kept = genStates(spark, loc).takeRight(keepLastN)
    val (p, fs) = fsOf(spark, loc)
    val dir = new Path(p, LogDir)
    val now = System.currentTimeMillis()
    def oldEnough(path: Path): Boolean =
      try now - fs.getFileStatus(path).getModificationTime >= minAgeMs
      catch { case _: java.io.FileNotFoundException => false }
    kept.headOption.foreach { cut =>
      // 1. retained state installs first (idempotent claim). The cut
      // checkpoint's gen index carries only the cut itself — every
      // later retained generation stays indexed via the surviving
      // commit tail.
      installIfAbsent(fs, dir,
        checkpointBody(cut.copy(genIndex = Seq(cut.version -> cut.gen))),
        checkpointPath(dir, cut.version))
      // 2. drop pre-cut log objects + the cut's now-redundant commit
      val log = logOf(spark, loc)
      log.commits.filter(_ <= cut.version).foreach { v =>
        fs.delete(commitPath(dir, v), false); ()
      }
      log.checkpoints.filter(_ < cut.version).foreach { v =>
        fs.delete(checkpointPath(dir, v), false); ()
      }
      // crashed writers' pre-claim temps — past the horizon only (a
      // LIVE claim in flight is younger by definition)
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(t => t.getName.startsWith(".tmp-") && oldEnough(t))
        .foreach { t => fs.delete(t, false); () }
    }
    // 3. collect data files AND deletion vectors no retained
    //    generation references — past the age horizon only
    val referenced = kept.flatMap(_.live).toSet
    val referencedDv = kept.flatMap(_.dvLive).toSet
    val doomed = ((listDataFiles(spark, loc) -- referenced) ++
      (listDvFiles(spark, loc) -- referencedDv))
      .filter(f => oldEnough(new Path(f))).toSeq.sorted
    doomed.foreach { f => fs.delete(new Path(f), false); () }
    // 4. stale staging directories (crashed writers) past the horizon
    val staged = new Path(p, StagedDir)
    if (fs.exists(staged))
      fs.listStatus(staged).toSeq.map(_.getPath).filter(oldEnough)
        .foreach { d => fs.delete(d, true); () }
    // 5. change directories no SURVIVING commit references, past the
    //    horizon (a vacuumed commit's feed went with its log object)
    val changes = new Path(p, ChangesDir)
    if (fs.exists(changes)) {
      val log = logOf(spark, loc)
      val liveTokens = log.commits.map(log.commit).flatMap(_.cdf).toSet
      fs.listStatus(changes).toSeq.map(_.getPath)
        .filter(d => !liveTokens.contains(d.getName) && oldEnough(d))
        .foreach { d => fs.delete(d, true); () }
    }
    doomed
  }
}
