package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{rnd, rndSql}
import graft.functions.VecFns
import graft.operators.KMeansCodebook
import graft.sources.Tables

/** IVF ANN over a TRAINED coarse quantizer — q59's shape with the
  * deterministic-sample codebook replaced by k-means centroids
  * (KMeansCodebook: fixed init, fixed iterations, fixed-point
  * updates, so the DuckDB oracle replays the training bit-for-bit by
  * unrolling the iterations as CTEs). Data-following cells tighten
  * recall at the same nprobe versus the untrained sample quantizer —
  * AnnSpec measures exactly that against the q36 brute-force truth.
  */
object AnnTrained {

  final val Cells = 16
  final val Iters = 2
  final val Probe = 2
  final val Dim = 64

  private val QueryFilter = "vec_id % 50 = 0"

  /** The (query_id, cell) probe frame: probes rank their `nprobe`
    * nearest cells of the broadcast codebook on the skinny
    * (query, cell, cos) triples — embeddings never shuffle. ONE
    * implementation behind q70's sweep and the q182/q187 store
    * probes (AnnSpec's recount is independently written on purpose).
    * `v` must carry (vec_id, embedding, nrm); `cents` is
    * KMeansCodebook.centsFrame's (cid, e_c, n_c).
    */
  private[queries] def probeCells(v: DataFrame, cents: DataFrame,
      queryFilter: String, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_c").desc, col("cid").asc)
    v.filter(expr(queryFilter)).join(broadcast(cents))
      .select(col("vec_id").as("query_id"), col("cid"),
        (VecFns.dotCol(col("embedding"), col("e_c")) / (col("nrm") * col("n_c")))
          .as("cos_c"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= nprobe)
      .select(col("query_id"), col("cid").as("cell"))
  }

  def q70(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    val cents =
      KMeansCodebook.centsFrame(spark,
        KMeansCodebook.trained(spark, dir, Cells, Iters))
    val assign = KMeansCodebook.assignCells(v, cents)
    // probes search their nprobe nearest trained cells
    val probes = probeCells(v, cents, QueryFilter, Probe)
    val q = v.filter(expr(QueryFilter))
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    assign.join(broadcast(probes), "cell")
      .where(col("vec_id") =!= col("query_id"))
      .join(v, "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("cell"), col("vec_id"),
        rnd(VecFns.dotCol(col("embedding"), col("e_q")) / (col("nrm") * col("n_q")), 4)
          .as("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The trained-IVF search oracle, parameterized on the probe set
    * and on a STORE filter: q70 (full query sweep over the
    * session-trained codebook) and q182 (partition-pruned storage
    * probe) share the same contract — assignment, probe ranking, and
    * exact in-cell scoring are identical; q182 only changes WHERE the
    * corpus side is read from. `storeFilter` narrows the STORE'S
    * contents (q213's tombstoned rows) without touching `v` itself —
    * the codebook CTEs train on the full corpus (the quantizer is
    * frozen; deletion never retrains it) and the probe set is drawn
    * from the full corpus too.
    */
  private def ivfSql(queryFilter: String, storeFilter: String = "true",
                     iters: Int = Iters): String = {
    def cosC(e: String, n: String) =
      s"${VecFns.dotSql(e, "c.e_c")} / ($n * c.n_c)"
    val cents = s"cents$iters"
    s"""WITH v AS (SELECT vec_id, embedding,
       |  ${VecFns.normSql("embedding")} AS nrm FROM embeddings),
       |${KMeansCodebook.centsSql(Cells, iters, Dim)},
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT v.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.cid ASC) AS rk
       |    FROM v CROSS JOIN $cents c WHERE $storeFilter) WHERE rk = 1
       |),
       |probe AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT v.vec_id AS query_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.cid ASC) AS rk
       |    FROM v CROSS JOIN $cents c WHERE $queryFilter) WHERE rk <= $Probe
       |),
       |q AS (SELECT vec_id AS query_id, embedding AS e_q, nrm AS n_q
       |      FROM v WHERE $queryFilter)
       |SELECT query_id, probe.cell AS cell, v.vec_id,
       |  ${rndSql(s"${VecFns.dotSql("v.embedding", "q.e_q")} / (v.nrm * q.n_q)", 4)} AS cosine,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY ${rndSql(s"${VecFns.dotSql("v.embedding", "q.e_q")} / (v.nrm * q.n_q)", 4)} DESC, v.vec_id ASC) AS INT) AS rank
       |FROM assign JOIN probe USING (cell)
       |  JOIN v ON assign.vec_id = v.vec_id
       |  JOIN q USING (query_id)
       |WHERE v.vec_id <> query_id
       |QUALIFY rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  val q70Sql: String = ivfSql(QueryFilter)

  // ---------------------------------------------------------------
  // q182_ann_partition_pruned — the IVF cell id as the STORAGE
  // partition key, executed (q85's scaladoc and SCALE_NOTES assert
  // this shape; this runs it): embeddings live in a warehouse layout
  // partitioned by the trained coarse cell (`…/cell=7/…`), so a
  // probe batch's scan carries the probed cells as PartitionFilters
  // and opens ONLY nprobe-union directories — vectors in unprobed
  // cells are never read, not even their footers (AnnSpec asserts
  // the pruned file count). This is the serving path of a
  // billion-scale vector store: the codebook (k×dim doubles,
  // driver-sized by definition) assigns the probe cells, the cell
  // list is a literal in the scan predicate, and per-probe cost is
  // proportional to the probed cells' contents, not the corpus.
  //
  // The collect() bounding argument: the only driver-side values are
  // the ≤k distinct probed cell ids (bounded by the codebook size,
  // never by data). Norms are STORED beside the vectors — computed
  // once at build, reread exactly (doubles round-trip parquet), so
  // the serving scan does no norm recompute.
  //
  // Same oracle contract as q70 (ivfSql): DuckDB replays training,
  // assignment, probe ranking, and exact in-cell scoring from the
  // flat file — identical results prove the partitioned layout is
  // pure storage, exactly like q146 proves it for day partitions.
  // ---------------------------------------------------------------
  /** The store-probe batch (q182 AND q187 share it — one definition,
    * no drift): a handful of query ids whose probed-cell union is a
    * strict subset of the cells, so pruning is observable at every SF.
    */
  private[queries] val StoreProbeFilter = "vec_id % 500 = 0"

  /** Cell-partitioned embeddings as a fingerprinted warehouse
    * artifact: (vec_id, embedding, nrm) under `cell=<cid>/`
    * directories, one file per cell (the build repartitions on the
    * partition column — the q146 small-files rule). Cells come from
    * the PERSISTED codebook, so a later JVM re-registers both
    * artifacts and never re-trains or re-assigns.
    */
  /** The store's row frame — (vec_id, embedding, nrm, cell) for every
    * corpus vector matching `filter`, assigned by the PERSISTED
    * (frozen) codebook. One definition behind the full build, the
    * incremental base, and the append wave: the filter pushes to the
    * embeddings scan, so an append wave reads and assigns ONLY its own
    * vectors.
    */
  private def cellRows(spark: SparkSession, dir: String,
                       filter: String): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .where(expr(filter))
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    val cents = KMeansCodebook.centsFrame(spark,
      KMeansCodebook.persisted(spark, dir, Cells, Iters))
    KMeansCodebook.assignCells(v, cents)
      .join(v, "vec_id")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
  }

  def ensureCellPartitionedEmbeddings(spark: SparkSession, dir: String): String = {
    val t = s"graft_emb_cell_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensurePartitionedTable(spark, t,
      s"$dir/embeddings.parquet", "cell") {
      cellRows(spark, dir, "true").repartition(col("cell"))
    }
    t
  }

  // ---------------------------------------------------------------
  // q190_ann_store_incremental — the q182 store MAINTAINED instead of
  // rebuilt (VERDICT r12 item 2): the corpus splits into a base
  // generation and an append wave (vec_id % 8 = 0 — the q185/q186
  // deterministic split), the base builds the cell-partitioned layout
  // once, and the wave is ABSORBED by the vector-store ingestion
  // path: the codebook stays frozen (reread from its warehouse
  // artifact — nothing retrains), ONLY the wave's vectors are scanned
  // and assigned (the filter reaches the parquet scan), and
  // [[graft.io.Warehouse.upsertMergeByKey]] rewrites only the wave's
  // cell directories — untouched cells keep their files byte-for-byte
  // (IncrementalStoreSpec asserts exactly that at the file level).
  // The ingest log makes absorption exactly-once across sessions, so
  // repeated probes never re-pay the merge. Because assignment under
  // a frozen codebook is a pure per-vector function, the maintained
  // store's CONTENT equals the one-shot rebuild's — so the probe
  // below shares q182's oracle verbatim: the hash-compare certifies
  // incremental == rebuild, the store twin of q185's merge == rebuild
  // for sketches. At 100 TB this is the difference between a nightly
  // full re-layout of the vector corpus and touching ~nprobe cells
  // per ingested shard.
  // ---------------------------------------------------------------
  /** The maintained (base + absorbed append wave) cell store. */
  def ensureIncrementalCellStore(spark: SparkSession, dir: String): String = {
    val t = s"graft_emb_cellinc_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensurePartitionedTable(spark, t,
      s"$dir/embeddings.parquet", "cell") {
      cellRows(spark, dir, "vec_id % 8 != 0").repartition(col("cell"))
    }
    graft.io.Warehouse.absorbOnce(spark, t, "append_mod8") {
      graft.io.Warehouse.upsertMergeByKey(spark, t,
        cellRows(spark, dir, "vec_id % 8 = 0"), "cell", "vec_id")
    }
    t
  }

  def q190(spark: SparkSession, dir: String): DataFrame =
    probeStore(spark, dir, ensureIncrementalCellStore(spark, dir))

  def q182(spark: SparkSession, dir: String): DataFrame =
    probeStore(spark, dir, ensureCellPartitionedEmbeddings(spark, dir))

  /** q182/q190's probe over an explicit store table — the serving
    * path is identical; only where the cells were WRITTEN differs.
    */
  private def probeStore(spark: SparkSession, dir: String,
                         t: String): DataFrame =
    probeFrame(spark, dir, Iters, cells =>
      spark.table(t)
        .where(col("cell").isin(cells.map(c => c: java.lang.Integer): _*)))

  /** The ONE serving path behind every store probe (catalog table,
    * generation-pinned file list, evolved codebook): rank the probe
    * batch's nprobe cells under the `iters`-trained codebook, hand
    * the ≤ Cells probed ids to `storeOf` (which prunes HOWEVER its
    * storage supports — PartitionFilters for catalog tables, manifest
    * path filtering for log-pinned reads), then score exactly in the
    * pruned cells.
    */
  private def probeFrame(spark: SparkSession, dir: String, iters: Int,
                         storeOf: Seq[Int] => DataFrame): DataFrame = {
    val cents = KMeansCodebook.centsFrame(spark,
      KMeansCodebook.persisted(spark, dir, Cells, iters))
    // probes arrive from OUTSIDE the store (here: the flat file, a
    // tiny filtered read) and rank their nprobe cells against the
    // broadcast codebook — the skinny (query, cell) frame
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    // the probe frame is ≤ queries × nprobe rows — compute it ONCE,
    // collect it (bounded), and re-lift as a local relation serving
    // BOTH consumers below (the cell pruning and the broadcast
    // membership join), instead of paying the probe scan twice
    val spark2 = spark
    import spark2.implicits._
    val probePairs = probeCells(v, cents, StoreProbeFilter, Probe)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val probesDf = probePairs.toDF("query_id", "cell")
    // ≤ Cells distinct ids — bounded by the codebook, never by data;
    // as LITERALS they land in PartitionFilters, which a join on cell
    // (runtime values) could not guarantee without DPP
    val cells = probePairs.map(_._2).distinct.sorted
    val q = v.filter(expr(StoreProbeFilter))
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    storeOf(cells)
      .join(broadcast(probesDf), "cell")
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("cell"), col("vec_id"),
        rnd(VecFns.dotCol(col("embedding"), col("e_q")) / (col("nrm") * col("n_q")), 4)
          .as("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= 3)
      .orderBy(col("query_id"), col("rank"))
  }

  val q182Sql: String = ivfSql(StoreProbeFilter)

  // ---------------------------------------------------------------
  // q197_stream_vector_ingest — the cell store fed by a STREAM: the
  // corpus arrives as micro-batches (4 staged wave files,
  // maxFilesPerTrigger=1) and a foreachBatch seam assigns each batch
  // under the FROZEN persisted codebook and appends it into the
  // cell-partitioned layout — exactly-once via a per-batch
  // partition-pruned data probe plus a stream_complete marker
  // (streaming/VectorIngest.scala). Because assignment is a pure
  // per-vector function and waves are vec_id-disjoint, the streamed
  // store's content equals q182's one-shot build — the probe shares
  // q182's oracle verbatim, and VectorIngestSpec pins content
  // equality, replay convergence (re-streaming appends nothing), and
  // that every batch wrote its own files (no store rewrite).
  // At 100 TB this is the online half of the vector-store story:
  // q182 serves, q190 absorbs planned waves, q197 absorbs a live
  // feed — same layout, same probe path, same oracle.
  // ---------------------------------------------------------------
  def q197(spark: SparkSession, dir: String): DataFrame =
    probeStore(spark, dir,
      graft.streaming.VectorIngest.ensureStreamedCellStore(spark, dir))

  // ---------------------------------------------------------------
  // q200_store_optimize — compaction as a first-class, ORACLED
  // operation: q197's rewrite-free ingestion deliberately leaves one
  // file per batch per cell; q200 compacts the HOT cell back to one
  // file (targeted — production compaction runs where read latency
  // pays for the rewrite, never table-wide) and then serves the same
  // probe. Sharing q182's oracle makes "OPTIMIZE changes layout,
  // never answers" a hash-certified property instead of a scaladoc
  // claim; VectorIngestSpec pins the file-count collapse, the
  // untouched sibling cells, and the exactly-once marker. This closes
  // the maintained-table lifecycle: ingest (q197) → compact (q200) →
  // probe, all three oracled.
  // ---------------------------------------------------------------
  def q200(spark: SparkSession, dir: String): DataFrame =
    probeStore(spark, dir,
      graft.streaming.VectorIngest.ensureCompactedHotCell(spark, dir))

  // ---------------------------------------------------------------
  // q213_store_tombstones — DELETION PROPAGATED INTO THE MAINTAINED
  // STORE: a tombstone set (every stored key with vec_id % 10 = 3,
  // each carrying its assigned cell) is absorbed by
  // Warehouse.deleteMergeByKey — ONLY the tombstones' cell
  // directories rewrite (existing rows anti-joined against the keys;
  // WarehouseMaintSpec pins untouched-partition file identity and the
  // emptied-partition drop), the codebook stays frozen (deletion
  // never retrains the quantizer), and the probe path is q182's
  // verbatim. The oracle narrows the IVF replay's STORE side by the
  // same predicate while training and probing on the full corpus —
  // the hash-compare certifies that deleted vectors are gone from
  // answers, surviving neighbors re-rank into their places, and
  // nothing else moved. Probe ids (% 500 = 0) are never tombstoned
  // (500 ≡ 0 mod 10), mirroring the serving contract that queries
  // arrive from outside the store. This is q211's change-feed delete
  // rows landing in a derived store: cost ∝ affected cells, never
  // the corpus.
  // ---------------------------------------------------------------
  final val TombFilter = "vec_id % 10 = 3"

  def ensureTombstonedCellStore(spark: SparkSession, dir: String): String = {
    val t = s"graft_emb_celltomb_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensurePartitionedTable(spark, t,
      s"$dir/embeddings.parquet", "cell") {
      cellRows(spark, dir, "true").repartition(col("cell"))
    }
    graft.io.Warehouse.absorbOnce(spark, t, "tomb_mod10_3") {
      // tombstones carry (key, partition): the store's own assignment
      // of each doomed key — a partition-pruned anti-join rewrite,
      // never a store scan
      val tombs = spark.table(t).where(expr(TombFilter))
        .select(col("vec_id"), col("cell"))
      graft.io.Warehouse.deleteMergeByKey(spark, t, tombs, "cell", "vec_id")
    }
    t
  }

  def q213(spark: SparkSession, dir: String): DataFrame =
    probeStore(spark, dir, ensureTombstonedCellStore(spark, dir))

  val q213Sql: String = ivfSql(StoreProbeFilter, "vec_id % 10 <> 3")

  // ---------------------------------------------------------------
  // q215/q216 — CODEBOOK EVOLUTION through the generation log: the
  // coarse quantizer retrains (one more Lloyd iteration — a genuinely
  // different codebook) and the store re-assigns under it as a NEW
  // GENERATION (GenLog.recluster with the cell as the partition key —
  // the vector-store instance of q209's partition evolution). Both
  // codebooks keep serving:
  //   - q215 reads AS OF the old generation and probes under the OLD
  //     codebook — q182's oracle VERBATIM, proving the retrain left
  //     history bit-identical (the old cell files are the same paths,
  //     never rewritten; CodebookEvoSpec pins it at the file level);
  //   - q216 reads the latest generation and probes under the NEW
  //     codebook — the same IVF oracle replayed at iters=3.
  // Cell pruning for a log-pinned read is MANIFEST pruning: the
  // probed cell ids filter the generation's file LIST by path (the
  // `cell_k=` directories), the Iceberg way — no catalog, no
  // directory listing, cost ∝ probed cells. At 100 TB this is the
  // re-index lifecycle every vector store needs: retrain, re-assign
  // as a generation, cut consumers over atomically, keep the old
  // index for rollback until vacuum.
  // ---------------------------------------------------------------
  final val ItersEvolved = 3

  private[graft] def evolvedStoreTable(dir: String): String =
    s"graft_emb_cellgen_${java.lang.Integer.toHexString(dir.hashCode)}"

  /** The store's rows under the `iters`-trained persisted codebook,
    * with the cell both as data and as the partition key (explicit
    * file-list reads lose directory keys — the GenLog caller
    * contract).
    */
  private[graft] def genStoreRows(spark: SparkSession, dir: String,
                                  iters: Int): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    val cents = KMeansCodebook.centsFrame(spark,
      KMeansCodebook.persisted(spark, dir, Cells, iters))
    KMeansCodebook.assignCells(v, cents)
      .join(v, "vec_id")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .withColumn("cell_k", col("cell").cast("string"))
  }

  def ensureEvolvedCellStore(spark: SparkSession, dir: String): String = {
    graft.io.Warehouse.ensureDir(spark, evolvedStoreTable(dir),
        s"$dir/embeddings.parquet") { loc =>
      graft.io.GenLog.appendBatch(spark, loc, s"cb_i$Iters",
        genStoreRows(spark, dir, Iters), Seq("cell_k"))
      graft.io.GenLog.recluster(spark, loc, s"cb_i$ItersEvolved",
        genStoreRows(spark, dir, ItersEvolved), Seq("cell_k"))
    }
  }

  /** Probe a generation-pinned store under its own codebook: the
    * probed cells prune the generation's FILE LIST by path (manifest
    * pruning), then the one serving path scores exactly.
    */
  private[graft] def probeGenStore(spark: SparkSession, dir: String,
                                   loc: String, gen: String,
                                   iters: Int): DataFrame =
    probeFrame(spark, dir, iters, cells => {
      val live = graft.io.GenLog.generations(spark, loc)
        .find(_._1 == gen)
        .getOrElse(throw new IllegalArgumentException(
          s"generation '$gen' not committed at $loc"))._2
      val files = live.filter(f => cells.exists(c => f.contains(s"/cell_k=$c/")))
      if (files.isEmpty)
        graft.io.GenLog.read(spark, loc, gen).where(lit(false))
      else spark.read.parquet(files: _*)
    })

  def q215(spark: SparkSession, dir: String): DataFrame =
    probeGenStore(spark, dir, ensureEvolvedCellStore(spark, dir),
      s"cb_i$Iters", Iters)

  def q216(spark: SparkSession, dir: String): DataFrame =
    probeGenStore(spark, dir, ensureEvolvedCellStore(spark, dir),
      s"cb_i$ItersEvolved", ItersEvolved)

  val q216Sql: String = ivfSql(StoreProbeFilter, iters = ItersEvolved)

  def declared: Seq[Query] = Seq(
    Query("q70_ann_ivf_kmeans", q70, q70Sql),
    Query("q182_ann_partition_pruned", q182, q182Sql),
    // q190 shares q182's oracle: the maintained store's content equals
    // the rebuild's, and the hash-compare is what certifies it
    Query("q190_ann_store_incremental", q190, q182Sql),
    // q197 likewise: streamed-in content == one-shot build
    Query("q197_stream_vector_ingest", q197, q182Sql),
    // q200: compaction changes layout, never answers
    Query("q200_store_optimize", q200, q182Sql),
    // q213: the store minus the tombstoned keys, frozen codebook
    Query("q213_store_tombstones", q213, q213Sql),
    // q215: AS-OF the pre-retrain generation — q182's oracle verbatim
    // certifies the retrain left history bit-identical
    Query("q215_codebook_asof", q215, q182Sql),
    // q216: the evolved generation under the retrained codebook
    Query("q216_codebook_evolved", q216, q216Sql))
}
