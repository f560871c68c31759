package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{rnd, rndSql}
import graft.sources.Tables

/** Product quantization (PQ) encode — the embedding-compression step
  * of a 100 TB vector store: the 64-dim vector splits into
  * NumBlocks=4 16-dim sub-vectors, each assigned to its nearest
  * sub-codebook centroid by L2, so a vector stores as NumBlocks small
  * codes (here 4×4 bits) instead of 64 floats — a 64x compression
  * with bounded reconstruction error (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI'11 — re-derived
  * on DataFrames).
  *
  * Scale shape: sub-codebooks broadcast; per-block assignment ranks
  * on a skinny (vec_id, blk, cid, dist) frame — embeddings never
  * shuffle; the emitted (vec_id, codes) frame IS the compressed
  * store. Codebooks here are the deterministic vec_id < K sample per
  * block (the q59 pattern) so the oracle replays assignment exactly;
  * production trains each block with KMeansCodebook's machinery.
  */
object PqQueries {

  final val Dim = 64
  final val NumBlocks = 4
  final val BlockDim = Dim / NumBlocks
  final val Codes = 16

  /** Squared L2 distance between two float sub-vectors: strict
    * ascending fold of (a-b)^2 in DOUBLE — mirrored in [[distSql]].
    * Routes through the codegen'd [[graft.functions.VecFns.l2SqCol]]
    * (r17: the interpreted zip_with/aggregate HOF form ran per
    * (vector, centroid) pair across q75/q76/q85/q187/q191 — the PQ
    * family's dominant CPU; KernelSpec pins the two forms bit-equal,
    * so every d2 value and d2-ordered tie-break is unchanged).
    */
  private def dist2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.VecFns.l2SqCol(a, b)

  private def distSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, " +
      s"list_transform(generate_series(1, $BlockDim), " +
      s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))), " +
      s"(x, y) -> x + y)"

  // ---------------------------------------------------------------
  // q75_pq_encode — every vector's 4 block codes plus its total
  // squared reconstruction error. Output codes joined to one string
  // (pandas gate can't hash arrays).
  // ---------------------------------------------------------------
  /** Per-vector per-block sub-vectors: (vec_id, blk, sub). */
  private def subVectors(spark: SparkSession, dir: String): DataFrame = {
    val blkArr = array((0 until NumBlocks).map { b =>
      struct(lit(b).as("blk"),
        slice(col("embedding"), b * BlockDim + 1, BlockDim).as("sub"))
    }: _*)
    // fanOut: every PQ query's per-block L2 scoring runs map-side on
    // this frame and ran as single tasks over the one-file embeddings
    // scan (profiled 0.4 s serial in each of q75/q76/q85). Keyed by
    // vec_id, which is a subset of every downstream window /
    // aggregate key here, so the assignment window adds NO exchange
    // on top of this one.
    Tables.fanOut(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        col("vec_id"))
      .select(col("vec_id"), explode(blkArr).as("e"))
      .select(col("vec_id"), col("e.blk").as("blk"), col("e.sub").as("sub"))
  }

  /** Sub-codebooks (c_blk, cid, c_sub): the first Codes vectors' blocks. */
  private def codebooks(sub: DataFrame): DataFrame =
    sub.where(col("vec_id") < Codes)
      .select(col("blk").as("c_blk"), col("vec_id").cast("int").as("cid"),
        col("sub").as("c_sub"))

  /** PQ code assignment: (vec_id, blk, cid, d2) — nearest sub-centroid
    * per block, (d2 ASC, cid ASC) tie-break.
    */
  private def assignments(sub: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("blk"))
      .orderBy(col("d2").asc, col("cid").asc)
    sub.join(broadcast(cents), col("blk") === col("c_blk"))
      .select(col("vec_id"), col("blk"), col("cid"),
        dist2(col("sub"), col("c_sub")).as("d2"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
  }

  def q75(spark: SparkSession, dir: String): DataFrame = {
    val sub = subVectors(spark, dir)
    val assigned = assignments(sub, codebooks(sub))
    // collect per-block rows, sort by blk, then fold the error in that
    // pinned order — a plain SUM's merge order is nondeterministic in
    // doubles, which would break oracle bit-parity
    assigned.groupBy(col("vec_id"))
      .agg(array_sort(collect_list(
        struct(col("blk"), col("cid"), col("d2")))).as("arr"))
      .select(col("vec_id"),
        array_join(col("arr").getField("cid").cast("array<string>"), "_")
          .as("codes"),
        rnd(aggregate(col("arr"), lit(0.0), (acc, s) => acc + s.getField("d2")), 4)
          .as("recon_err"))
      .orderBy(col("vec_id"))
  }

  val q75Sql: String =
    s"""WITH sub AS (
       |  SELECT vec_id, blk,
       |    (embedding)[blk * $BlockDim + 1 : blk * $BlockDim + $BlockDim] AS sub
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${NumBlocks - 1})) AS blk) b),
       |cents AS (
       |  SELECT blk AS c_blk, CAST(vec_id AS INT) AS cid, sub AS c_sub
       |  FROM sub WHERE vec_id < $Codes),
       |assigned AS (
       |  SELECT vec_id, blk, cid, d2 FROM (
       |    SELECT s.vec_id, s.blk, c.cid, ${distSql("s.sub", "c.c_sub")} AS d2,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.blk
       |        ORDER BY ${distSql("s.sub", "c.c_sub")} ASC, c.cid ASC) AS rk
       |    FROM sub s JOIN cents c ON s.blk = c.c_blk) WHERE rk = 1)
       |SELECT vec_id,
       |  array_to_string(list(cid ORDER BY blk), '_') AS codes,
       |  ${rndSql("list_reduce(list_prepend(0.0::DOUBLE, list(d2 ORDER BY blk)), (x, y) -> x + y)", 4)} AS recon_err
       |FROM assigned GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // q76_pq_adc — asymmetric distance computation over the PQ codes:
  // each probe precomputes a (blk, cid) → distance table against the
  // sub-codebooks (Codes·NumBlocks doubles — broadcast), then every
  // candidate's approximate distance is FOUR TABLE LOOKUPS summed in
  // pinned blk order, never a 64-dim computation. This is why PQ
  // exists at 100 TB: the corpus is scanned as 4-byte codes and the
  // float embeddings are touched only by the probes. Top-3 neighbors
  // per probe by (adc ASC, vec_id ASC).
  // ---------------------------------------------------------------
  private val QueryFilter = "vec_id % 50 = 0"

  def q76(spark: SparkSession, dir: String): DataFrame = {
    val sub = subVectors(spark, dir)
    val cents = codebooks(sub)
    val codes = assignments(sub, cents)
      .select(col("vec_id"), col("blk"), col("cid"))
    // per-probe distance table: (query_id, blk, cid, t)
    val table = sub.where(expr(QueryFilter))
      .join(broadcast(cents), col("blk") === col("c_blk"))
      .select(col("vec_id").as("query_id"), col("blk").as("t_blk"),
        col("cid").as("t_cid"), dist2(col("sub"), col("c_sub")).as("t"))
    // per-block lookups sum as half-up 1e-9 fixed-point longs: exact
    // and associative under ANY aggregation order, so no per-pair
    // collect_list/array_sort/fold is needed to pin the order — the
    // ScaledSum/q112 discipline applied to the ADC hot loop
    val adc = codes.join(broadcast(table),
        col("blk") === col("t_blk") && col("cid") === col("t_cid") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(floor(col("t") * lit(1e9) + lit(0.5)).cast("long")).as("sadc"))
      .select(col("query_id"), col("vec_id"),
        (col("sadc").cast("double") / 1e9).as("adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    adc.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("vec_id"), rnd(col("adc"), 4).as("adc"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q76Sql: String =
    s"""WITH sub AS (
       |  SELECT vec_id, blk,
       |    (embedding)[blk * $BlockDim + 1 : blk * $BlockDim + $BlockDim] AS sub
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${NumBlocks - 1})) AS blk) b),
       |cents AS (
       |  SELECT blk AS c_blk, CAST(vec_id AS INT) AS cid, sub AS c_sub
       |  FROM sub WHERE vec_id < $Codes),
       |codes AS (
       |  SELECT vec_id, blk, cid FROM (
       |    SELECT s.vec_id, s.blk, c.cid, ${distSql("s.sub", "c.c_sub")} AS d2,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.blk
       |        ORDER BY ${distSql("s.sub", "c.c_sub")} ASC, c.cid ASC) AS rk
       |    FROM sub s JOIN cents c ON s.blk = c.c_blk) WHERE rk = 1),
       |tbl AS (
       |  SELECT s.vec_id AS query_id, s.blk AS t_blk, c.cid AS t_cid,
       |    ${distSql("s.sub", "c.c_sub")} AS t
       |  FROM sub s JOIN cents c ON s.blk = c.c_blk WHERE $QueryFilter),
       |adc AS (
       |  SELECT query_id, vec_id,
       |    SUM(CAST(floor(t * 1000000000.0 + 0.5) AS BIGINT))::DOUBLE
       |      / 1000000000.0 AS adc
       |  FROM codes JOIN tbl
       |    ON codes.blk = tbl.t_blk AND codes.cid = tbl.t_cid
       |   AND codes.vec_id <> tbl.query_id
       |  GROUP BY query_id, vec_id)
       |SELECT query_id, vec_id, ${rndSql("adc", 4)} AS adc,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc ASC, vec_id ASC) AS INT) AS rank
       |FROM adc QUALIFY rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q85_ivfpq_search — the full IVF-ADC composition (Jégou et al.
  // §5; FAISS's IVFPQ index re-derived on DataFrames): a coarse
  // quantizer prunes the corpus to nprobe cells, then PQ codes rank
  // the survivors by table lookup. This is THE billion-scale ANN
  // shape: at 100 TB the cell id is the storage partition key (each
  // probe reads nprobe partitions of 4-byte codes — partition-pruned,
  // payload-free), the float embeddings are touched only by the
  // probes and the (offline) codebook training, and the per-candidate
  // cost is NumBlocks table lookups, not a 64-dim product.
  //
  // The retrieval metric is cosine, like q36/q59's — so the ADC
  // tables hold per-block INNER PRODUCTS (asymmetric inner-product
  // quantization): Σ_blk ⟨sub_q, centroid(code)⟩ approximates
  // ⟨q, v⟩, normalized by the exact norms (a per-vector scalar the
  // compressed store keeps beside the codes). An L2-table variant is
  // the same plan with q76's distance tables.
  //
  // Honest recall note (measured on the driver's synthetic corpus at
  // sf0.001, truth = q36 exact-cosine top-3): the coarse stage alone
  // with exact in-cell scoring reaches 0.43; adding 4-bit PQ ranking
  // drops to ~0.03, and a parameter sweep (up to 16 blocks × 64
  // codes, with and without residual encoding) tops out at ~0.33.
  // The corpus is ISOTROPIC random — top-3 cosine margins sit below
  // the quantization noise floor, so low top-k agreement here is a
  // property of the data, not the plan (PQ presumes quantizable
  // structure; Jégou et al. §7 evaluate on structured descriptors).
  // On a real embedding corpus the same plan runs with trained,
  // larger codebooks; every distributed property (partition-pruned
  // cells, code-only scan, lookup-table scoring) is unchanged.
  // ---------------------------------------------------------------
  final val CoarseCells = 16
  final val NProbe = 4

  // per-block inner products route through the same codegen'd
  // dot-product expression (and its SQL twin) as every other cosine
  // path — ONE numeric contract, pinned once by KernelSpec
  private def dotBlk(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.VecFns.dotCol(a, b)

  private def dotBlkSql(a: String, b: String): String =
    graft.functions.VecFns.dotSql(a, b)

  def q85(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecFns
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    val cents = v.filter(col("vec_id") < CoarseCells)
      .select(col("vec_id").as("ccid"), col("embedding").as("e_c"),
        col("nrm").as("n_c"))
    // coarse assignment: argmax cosine over the broadcast codebook,
    // ranked on skinny (vec_id, ccid, cos) triples — embeddings stay put
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_c").desc, col("ccid").asc)
    val assign = v.join(broadcast(cents))
      .select(col("vec_id"), col("ccid"),
        (VecFns.dotCol(col("embedding"), col("e_c")) / (col("nrm") * col("n_c")))
          .as("cos_c"))
      .withColumn("rk", row_number().over(wAssign))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("ccid").as("cell"))
    // probes keep their NProbe nearest cells
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_c").desc, col("ccid").asc)
    val probeCells = v.filter(expr(QueryFilter)).join(broadcast(cents))
      .select(col("vec_id").as("query_id"), col("ccid"),
        (VecFns.dotCol(col("embedding"), col("e_c")) / (col("nrm") * col("n_c")))
          .as("cos_c"))
      .withColumn("rk", row_number().over(wProbe))
      .where(col("rk") <= NProbe)
      .select(col("query_id"), col("ccid").as("cell"))
    // PQ codes for the whole corpus; per-probe INNER-PRODUCT tables
    val sub = subVectors(spark, dir)
    val cents2 = codebooks(sub)
    val codes = assignments(sub, cents2)
      .select(col("vec_id"), col("blk"), col("cid"))
    val table = sub.where(expr(QueryFilter))
      .join(broadcast(cents2), col("blk") === col("c_blk"))
      .select(col("vec_id").as("t_qid"), col("blk").as("t_blk"),
        col("cid").as("t_cid"), dotBlk(col("sub"), col("c_sub")).as("t"))
    val qn = v.filter(expr(QueryFilter))
      .select(col("vec_id").as("query_id"), col("nrm").as("n_q"))
    // candidates = members of the probed cells only; then 4 lookups,
    // normalized by the exact norms (skinny (vec_id, nrm) columns)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("vec_id").asc)
    assign.join(broadcast(probeCells), "cell")
      .where(col("vec_id") =!= col("query_id"))
      .join(codes, "vec_id")
      .join(broadcast(table),
        col("blk") === col("t_blk") && col("cid") === col("t_cid") &&
          col("query_id") === col("t_qid"))
      .drop("t_qid")
      .groupBy(col("query_id"), col("cell"), col("vec_id"))
      .agg(sum(floor(col("t") * lit(1e9) + lit(0.5)).cast("long")).as("st"))
      .join(v.select(col("vec_id"), col("nrm")), "vec_id")
      .join(broadcast(qn), "query_id")
      .select(col("query_id"), col("cell"), col("vec_id"),
        ((col("st").cast("double") / 1e9) / (col("nrm") * col("n_q"))).as("acos"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("cell"), col("vec_id"),
        rnd(col("acos"), 4).as("acos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q85Sql: String = {
    import graft.functions.VecFns
    def cosC(e: String, n: String) =
      s"(${VecFns.dotSql(e, "c.e_c")} / ($n * c.n_c))"
    s"""WITH v AS (SELECT vec_id, embedding,
       |  ${VecFns.normSql("embedding")} AS nrm FROM embeddings),
       |c AS (SELECT vec_id AS ccid, embedding AS e_c, nrm AS n_c
       |      FROM v WHERE vec_id < $CoarseCells),
       |assign AS (
       |  SELECT vec_id, ccid AS cell FROM (
       |    SELECT v.vec_id, c.ccid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.ccid ASC) AS rk
       |    FROM v CROSS JOIN c) WHERE rk = 1),
       |probe AS (
       |  SELECT query_id, ccid AS cell FROM (
       |    SELECT v.vec_id AS query_id, c.ccid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.ccid ASC) AS rk
       |    FROM v CROSS JOIN c WHERE $QueryFilter) WHERE rk <= $NProbe),
       |sub AS (
       |  SELECT vec_id, blk,
       |    (embedding)[blk * $BlockDim + 1 : blk * $BlockDim + $BlockDim] AS sub
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${NumBlocks - 1})) AS blk) b),
       |cents AS (
       |  SELECT blk AS c_blk, CAST(vec_id AS INT) AS cid, sub AS c_sub
       |  FROM sub WHERE vec_id < $Codes),
       |codes AS (
       |  SELECT vec_id, blk, cid FROM (
       |    SELECT s.vec_id, s.blk, c.cid, ${distSql("s.sub", "c.c_sub")} AS d2,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.blk
       |        ORDER BY ${distSql("s.sub", "c.c_sub")} ASC, c.cid ASC) AS rk
       |    FROM sub s JOIN cents c ON s.blk = c.c_blk) WHERE rk = 1),
       |tbl AS (
       |  SELECT s.vec_id AS query_id, s.blk AS t_blk, c.cid AS t_cid,
       |    ${dotBlkSql("s.sub", "c.c_sub")} AS t
       |  FROM sub s JOIN cents c ON s.blk = c.c_blk WHERE $QueryFilter),
       |adc AS (
       |  SELECT tbl.query_id, assign.cell, codes.vec_id,
       |    SUM(CAST(floor(t * 1000000000.0 + 0.5) AS BIGINT))::BIGINT AS st
       |  FROM assign
       |  JOIN probe ON assign.cell = probe.cell
       |  JOIN codes ON codes.vec_id = assign.vec_id
       |  JOIN tbl ON codes.blk = tbl.t_blk AND codes.cid = tbl.t_cid
       |          AND tbl.query_id = probe.query_id
       |  WHERE assign.vec_id <> probe.query_id
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT adc.query_id, adc.cell, adc.vec_id,
       |    (adc.st::DOUBLE / 1000000000.0) / (cv.nrm * qv.nrm) AS acos
       |  FROM adc
       |  JOIN v cv ON cv.vec_id = adc.vec_id
       |  JOIN v qv ON qv.vec_id = adc.query_id)
       |SELECT query_id, cell, vec_id, ${rndSql("acos", 4)} AS acos,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY acos DESC, vec_id ASC) AS INT) AS rank
       |FROM scored QUALIFY rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // q171_sq8_quantize — scalar int8 quantization (SQ8), the OTHER
  // standard embedding-compression scheme next to PQ (q75/q76): each
  // dimension gets a symmetric max-abs scale (scale_d = max|x_d| /
  // 127) and every value stores as round(x / scale_d) in [-127, 127]
  // — 4x compression with per-element error bounded by scale_d / 2,
  // and, unlike PQ, exact per-dimension decode (FAISS's
  // ScalarQuantizer QT_8bit family; re-derived on DataFrames). The
  // audit emitted here is what a vector-store build job reports:
  // per-label value counts, mean/max absolute reconstruction error,
  // and a bit_xor signature over every (vec_id, dim, code) triple
  // pinning the complete codebook-free encode against the oracle.
  //
  // Scale shape: per-dimension stats are ONE partial+final aggregate
  // with exactly Dim=64 groups (map-side combined — executors each
  // reduce their slice to 64 partial maxima before any shuffle); the
  // 64-row scale table then BROADCASTS back, so the encode itself is
  // a map-only projection — corpus embeddings never shuffle, exactly
  // like q75's sub-codebook assignment. The audit rollup is one more
  // partial+final aggregate keyed by label (10 groups). At 100 TB:
  // two corpus scans (stats, encode+audit), zero corpus shuffles,
  // and the encode stream writes straight to the compressed store.
  //
  // Float parity: max(abs(x)) over float32 is exact (no summation);
  // scale and x/scale are single IEEE double ops mirrored
  // tree-for-tree in the oracle; round is half-away-from-zero in
  // both engines; error terms ride the 1e-7 fixed-point lattice and
  // sum as exact longs (max needs no lattice — order-free).
  // ---------------------------------------------------------------
  final val SqLevels = 127

  def q171(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.hash60
    val elem = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("d", "x")))
    val stats = elem.groupBy(col("d"))
      .agg(max(abs(col("x"))).as("maxabs"))
    val enc = elem.join(broadcast(stats), "d")
      .withColumn("xd", col("x").cast("double"))
      .withColumn("scale", col("maxabs").cast("double") / lit(127.0))
      .withColumn("code",
        when(col("maxabs") === 0f, 0L).otherwise(
          greatest(lit(-SqLevels.toLong), least(lit(SqLevels.toLong),
            round(col("xd") / (col("maxabs").cast("double") / lit(127.0)))
              .cast("long")))))
      .withColumn("err", abs(col("xd") - col("code").cast("double") * col("scale")))
      .withColumn("err_fp", floor(col("err") * 10000000.0 + 0.5).cast("long"))
      .withColumn("sig",
        // hash60StrCol kernel: one signature hash per (vec, dim)
        // element — 64× the vector count; value-identical swap
        graft.functions.TextKernels.hash60StrCol(
          concat_ws(":", col("vec_id"), col("d"), col("code"))))
    enc.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vals"),
        rnd(sum(col("err_fp")).cast("double") / lit(10000000.0)
          / count(lit(1)).cast("double"), 7).as("mean_abs_err"),
        rnd(max(col("err")), 7).as("max_abs_err"),
        expr("bit_xor(sig)").as("code_sig"))
      .orderBy(col("label"))
  }

  val q171Sql: String = {
    import graft.functions.TextFns.{hash60Sql, rndSql}
    s"""WITH elem AS (
       |  SELECT vec_id, label, i - 1 AS d, embedding[i] AS x
       |  FROM embeddings, generate_series(1, $Dim) t(i)),
       |stats AS (
       |  SELECT d, MAX(ABS(x)) AS maxabs FROM elem GROUP BY d),
       |enc AS (
       |  SELECT e.vec_id, e.label, e.d, e.x::DOUBLE AS xd,
       |    s.maxabs::DOUBLE / 127.0 AS scale,
       |    CASE WHEN s.maxabs = 0 THEN 0
       |      ELSE GREATEST(-$SqLevels, LEAST($SqLevels,
       |        round(e.x::DOUBLE / (s.maxabs::DOUBLE / 127.0))::BIGINT)) END AS code
       |  FROM elem e JOIN stats s USING (d)),
       |r AS (
       |  SELECT vec_id, label, d, code,
       |    ABS(xd - code::DOUBLE * scale) AS err
       |  FROM enc)
       |SELECT label, COUNT(*)::BIGINT AS n_vals,
       |  ${rndSql("SUM(floor(err * 10000000.0 + 0.5)::BIGINT)::DOUBLE / 10000000.0 / COUNT(*)::DOUBLE", 7)} AS mean_abs_err,
       |  ${rndSql("MAX(err)", 7)} AS max_abs_err,
       |  bit_xor(${hash60Sql("vec_id::VARCHAR || ':' || d::VARCHAR || ':' || code::VARCHAR")}) AS code_sig
       |FROM r GROUP BY label ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------
  // q173_rand_proj — sparse sign random projection (Achlioptas,
  // "Database-friendly random projections", PODS'01): project the
  // 64-dim embeddings to RpK=16 dims through a deterministic ±1
  // matrix, s(d,k) = parity of hash60("d:k") — the third standard
  // embedding-compression scheme beside PQ (q75/q76) and SQ8 (q171),
  // and the cheap front-end for LSH/sketched ANN. The audit is the
  // Johnson-Lindenstrauss check a pipeline reports: per-label mean/
  // min/max norm distortion ||y||²/(K·||x||²) (≈1 in expectation)
  // plus a bit_xor signature over every projected vector, pinning
  // the complete encode against the oracle.
  //
  // Scale shape: the sign matrix depends only on (d, k), so it is
  // baked into the PLAN as a 16x64 literal — the "broadcast the tiny
  // matrix" step done at compile time. Elements are quantized to an
  // exact 1e-7 integer lattice FIRST, so every projected coordinate
  // and both squared norms are exact integer folds (order-free,
  // overflow-safe: |y_fp| <= 64·|x|·1e7 ⇒ y_fp² <= ~4e17 per term,
  // 16 terms < 2^63) — the whole encode is ONE shuffle-free
  // map projection over the corpus; only the O(labels) audit rollup
  // exchanges. The oracle re-derives the same matrix from the same
  // md5 parity and sums the same integers.
  // ---------------------------------------------------------------
  final val RpK = 16
  final val RpFp = 10000000.0

  def q173(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.hash60
    val signs: Seq[Seq[Long]] = (0 until RpK).map { k =>
      (0 until Dim).map { d =>
        if (graft.functions.TextKernels.hash60(
          s"$d:$k".getBytes("UTF-8")) % 2 == 0L) 1L else -1L
      }
    }
    val base = Tables.embeddings(spark, dir)
      .withColumn("xfp", transform(col("embedding"),
        x => floor(x.cast("double") * RpFp + 0.5).cast("long")))
      .withColumn("yfp", transform(sequence(lit(0), lit(RpK - 1)), k =>
        aggregate(zip_with(col("xfp"), element_at(typedlit(signs), k + 1),
          (x, s) => x * s), lit(0L), (acc, v) => acc + v)))
      .withColumn("nx2", aggregate(col("xfp"), lit(0L), (a, v) => a + v * v))
      .withColumn("ny2", aggregate(col("yfp"), lit(0L), (a, v) => a + v * v))
      .filter(col("nx2") > 0L)
      .withColumn("dist",
        (col("ny2").cast("double") / lit(RpK.toDouble)) / col("nx2").cast("double"))
      .withColumn("dist_fp", floor(col("dist") * 1000000.0 + 0.5).cast("long"))
      .withColumn("sig",
        graft.functions.TextKernels.hash60StrCol(
          concat_ws(":", col("vec_id"), array_join(col("yfp"), ","))))
    base.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        rnd(sum(col("dist_fp")).cast("double") / lit(1000000.0)
          / count(lit(1)).cast("double"), 6).as("mean_dist"),
        rnd(min(col("dist")), 6).as("min_dist"),
        rnd(max(col("dist")), 6).as("max_dist"),
        expr("bit_xor(sig)").as("proj_sig"))
      .orderBy(col("label"))
  }

  val q173Sql: String = {
    import graft.functions.TextFns.{hash60Sql, rndSql}
    s"""WITH elem AS (
       |  SELECT vec_id, label, i - 1 AS d,
       |    floor(embedding[i]::DOUBLE * $RpFp + 0.5)::BIGINT AS xfp
       |  FROM embeddings, generate_series(1, $Dim) t(i)),
       |proj AS (
       |  SELECT vec_id, label, k,
       |    SUM(CASE WHEN ${hash60Sql("d::VARCHAR || ':' || k::VARCHAR")} % 2 = 0
       |        THEN xfp ELSE -xfp END)::BIGINT AS yfp
       |  FROM elem, generate_series(0, ${RpK - 1}) g(k)
       |  GROUP BY vec_id, label, k),
       |nx AS (SELECT vec_id, label, SUM(xfp * xfp)::BIGINT AS nx2
       |       FROM elem GROUP BY vec_id, label),
       |ny AS (SELECT vec_id, label, SUM(yfp * yfp)::BIGINT AS ny2,
       |         string_agg(yfp::VARCHAR, ',' ORDER BY k) AS ystr
       |       FROM proj GROUP BY vec_id, label),
       |v AS (
       |  SELECT nx.vec_id, nx.label,
       |    (ny2::DOUBLE / $RpK.0) / nx2::DOUBLE AS dist, ystr
       |  FROM nx JOIN ny USING (vec_id, label) WHERE nx2 > 0)
       |SELECT label, COUNT(*)::BIGINT AS n_vecs,
       |  ${rndSql("SUM(floor(dist * 1000000.0 + 0.5)::BIGINT)::DOUBLE / 1000000.0 / COUNT(*)::DOUBLE", 6)} AS mean_dist,
       |  ${rndSql("MIN(dist)", 6)} AS min_dist,
       |  ${rndSql("MAX(dist)", 6)} AS max_dist,
       |  bit_xor(${hash60Sql("vec_id::VARCHAR || ':' || ystr")}) AS proj_sig
       |FROM v GROUP BY label ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------
  // q187_pq_store_search — q85's LAST unexecuted storage claim, run:
  // "each probe reads nprobe partitions of 4-byte codes —
  // partition-pruned, payload-free." The compressed store is a
  // warehouse layout PARTITIONED by the TRAINED coarse cell (q182's
  // quantizer — both artifacts shared, nothing retrains) whose rows
  // are (vec_id, code, nrm): the four 4-bit PQ codes PACKED into one
  // INT (code = Σ cid_blk << 4·blk — the literal 2-byte code word; a
  // production store packs exactly this way), plus the norm scalar.
  // No float vector exists anywhere in the layout — AnnSpec asserts
  // the probe scan's ReadSchema carries no embedding column AND that
  // only the probed-cell directories are listed. Scoring unpacks the
  // nibbles in-plan ((code >> 4·blk) & 15) and joins the broadcast
  // per-probe ADC tables — NumBlocks lookups per candidate, exactly
  // q85's arithmetic, so the DuckDB oracle (which recomputes codes
  // and tables from the raw file, never seeing the packing) certifies
  // the whole store→unpack→score path by hash. Recall on this
  // isotropic corpus is data-limited exactly as q85's scaladoc
  // documents; the 100 TB property being pinned is the I/O shape:
  // per-probe-batch bytes = (probed cells' row count) × ~14 B.
  // ---------------------------------------------------------------
  import graft.operators.KMeansCodebook
  // coarse quantizer + probe batch: AnnTrained's single definitions
  // (q182's store and this one share the codebook artifact AND the
  // probe semantics — twin constants here would silently drift)

  /** The store's row frame — (vec_id, code, nrm, cell) for every
    * corpus vector matching `filter`, encoded under the FROZEN
    * quantizers (coarse codebook reread from its warehouse artifact;
    * PQ sub-codebooks are the deterministic first-[[Codes]] rows, a
    * pure function of the corpus). Shared by the full build, the
    * incremental base, and the append wave — the wave reads, assigns
    * and encodes only its own vectors (the filter reaches both scans).
    */
  private def codeRows(spark: SparkSession, dir: String,
                       filter: String): DataFrame = {
    import graft.functions.VecFns
    val v = Tables.embeddings(spark, dir)
      .where(expr(filter))
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    val cents = KMeansCodebook.centsFrame(spark,
      KMeansCodebook.persisted(spark, dir, AnnTrained.Cells, AnnTrained.Iters))
    val assign = KMeansCodebook.assignCells(v, cents)
    val sub = subVectors(spark, dir).where(expr(filter))
    val packed = assignments(sub, codebooks(subVectors(spark, dir)))
      .groupBy(col("vec_id"))
      .agg(sum(expr("shiftleft(CAST(cid AS BIGINT), blk * 4)"))
        .cast("int").as("code"))
    assign
      .join(packed, "vec_id")
      .join(v.select(col("vec_id"), col("nrm")), "vec_id")
      .select(col("vec_id"), col("code"), col("nrm"), col("cell"))
  }

  /** The packed-code cell store as a fingerprinted warehouse layout:
    * one file per cell directory, rows (vec_id, code, nrm).
    */
  def ensurePqCellStore(spark: SparkSession, dir: String): String = {
    val t = s"graft_pq_cell_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensurePartitionedTable(spark, t,
      s"$dir/embeddings.parquet", "cell") {
      codeRows(spark, dir, "true").repartition(col("cell"))
    }
    t
  }

  // ---------------------------------------------------------------
  // q191_pq_store_incremental — the q187 code store MAINTAINED: the
  // exact q190 ingestion path applied to the compressed layout. Base
  // (vec_id % 8 != 0) builds the cell-partitioned (vec_id, code, nrm)
  // store once; the append wave encodes ONLY its vectors under the
  // frozen coarse + PQ quantizers and upsertMergeByKey rewrites only
  // the wave's cell directories; the ingest log makes absorption
  // exactly-once across sessions. Encoding under frozen quantizers is
  // a pure per-vector function, so the maintained store's content
  // equals the one-shot rebuild's and the probe shares q187's oracle
  // verbatim — the hash-compare certifies incremental == rebuild for
  // the compressed store too. The 100 TB point: code rows are ~14 B,
  // so an ingested shard costs (shard × encode) + (affected cells'
  // code rows rewritten) — the corpus embeddings are read only for
  // the wave, and the float vectors still never enter the store.
  // ---------------------------------------------------------------
  def ensureIncrementalPqStore(spark: SparkSession, dir: String): String = {
    val t = s"graft_pq_cellinc_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.io.Warehouse.ensurePartitionedTable(spark, t,
      s"$dir/embeddings.parquet", "cell") {
      codeRows(spark, dir, "vec_id % 8 != 0").repartition(col("cell"))
    }
    graft.io.Warehouse.absorbOnce(spark, t, "append_mod8") {
      graft.io.Warehouse.upsertMergeByKey(spark, t,
        codeRows(spark, dir, "vec_id % 8 = 0"), "cell", "vec_id")
    }
    t
  }

  def q191(spark: SparkSession, dir: String): DataFrame =
    pqProbeStore(spark, dir, ensureIncrementalPqStore(spark, dir))

  def q187(spark: SparkSession, dir: String): DataFrame =
    pqProbeStore(spark, dir, ensurePqCellStore(spark, dir))

  /** q187/q191's probe over an explicit code store — identical
    * serving path, different write lineage.
    */
  private def pqProbeStore(spark: SparkSession, dir: String,
                           t: String): DataFrame = {
    import graft.functions.VecFns
    val cents = KMeansCodebook.centsFrame(spark,
      KMeansCodebook.persisted(spark, dir, AnnTrained.Cells, AnnTrained.Iters))
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    // probes rank their nprobe trained cells (q182's shared frame),
    // computed ONCE: collected (bounded by queries x nprobe) and
    // re-lifted as a local relation for the cell literals AND the
    // membership join
    val spark2 = spark
    import spark2.implicits._
    val probePairs = AnnTrained.probeCells(
        v, cents, AnnTrained.StoreProbeFilter, AnnTrained.Probe)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val probesDf = probePairs.toDF("query_id", "cell")
    val cells = probePairs.map(_._2).distinct.sorted
    // per-probe ADC inner-product tables (queries × 4 × 16 rows)
    val sub = subVectors(spark, dir)
    val cents2 = codebooks(sub)
    val tblAdc = sub.where(expr(AnnTrained.StoreProbeFilter))
      .join(broadcast(cents2), col("blk") === col("c_blk"))
      .select(col("vec_id").as("t_qid"), col("blk").as("t_blk"),
        col("cid").as("t_cid"), dotBlk(col("sub"), col("c_sub")).as("t"))
    val qn = v.filter(expr(AnnTrained.StoreProbeFilter))
      .select(col("vec_id").as("query_id"), col("nrm").as("n_q"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("vec_id").asc)
    // the ONLY corpus read: the pruned, payload-free code scan
    spark.table(t)
      .where(col("cell").isin(cells.map(c => c: java.lang.Integer): _*))
      .join(broadcast(probesDf), "cell")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cell"), col("vec_id"), col("nrm"),
        explode(array((0 until NumBlocks).map(b =>
          struct(lit(b).as("blk"),
            shiftright(col("code"), b * 4).bitwiseAND(lit(15))
              .cast("int").as("cid"))): _*)).as("u"))
      .select(col("query_id"), col("cell"), col("vec_id"), col("nrm"),
        col("u.blk").as("blk"), col("u.cid").as("cid"))
      .join(broadcast(tblAdc),
        col("blk") === col("t_blk") && col("cid") === col("t_cid") &&
          col("query_id") === col("t_qid"))
      .groupBy(col("query_id"), col("cell"), col("vec_id"), col("nrm"))
      .agg(sum(floor(col("t") * lit(1e9) + lit(0.5)).cast("long")).as("st"))
      .join(broadcast(qn), "query_id")
      .select(col("query_id"), col("cell"), col("vec_id"),
        ((col("st").cast("double") / 1e9) / (col("nrm") * col("n_q"))).as("acos"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("cell"), col("vec_id"),
        rnd(col("acos"), 4).as("acos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle: trained coarse assignment (KMeansCodebook's unrolled
    * CTEs — q70/q182's contract) composed with q85's PQ scoring, all
    * from the raw file; it never sees the store or the packing.
    */
  val q187Sql: String = {
    import graft.functions.VecFns
    def cosC(e: String, n: String) =
      s"${VecFns.dotSql(e, "c.e_c")} / ($n * c.n_c)"
    val coarse = s"cents${AnnTrained.Iters}"
    s"""WITH v AS (SELECT vec_id, embedding,
       |  ${VecFns.normSql("embedding")} AS nrm FROM embeddings),
       |${KMeansCodebook.centsSql(AnnTrained.Cells, AnnTrained.Iters, Dim)},
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT v.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.cid ASC) AS rk
       |    FROM v CROSS JOIN $coarse c) WHERE rk = 1),
       |probe AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT v.vec_id AS query_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.cid ASC) AS rk
       |    FROM v CROSS JOIN $coarse c WHERE ${AnnTrained.StoreProbeFilter}) WHERE rk <= ${AnnTrained.Probe}),
       |sub AS (
       |  SELECT vec_id, blk,
       |    (embedding)[blk * $BlockDim + 1 : blk * $BlockDim + $BlockDim] AS sub
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${NumBlocks - 1})) AS blk) b),
       |cents AS (
       |  SELECT blk AS c_blk, CAST(vec_id AS INT) AS cid, sub AS c_sub
       |  FROM sub WHERE vec_id < $Codes),
       |codes AS (
       |  SELECT vec_id, blk, cid FROM (
       |    SELECT s.vec_id, s.blk, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.blk
       |        ORDER BY ${distSql("s.sub", "c.c_sub")} ASC, c.cid ASC) AS rk
       |    FROM sub s JOIN cents c ON s.blk = c.c_blk) WHERE rk = 1),
       |tbl AS (
       |  SELECT s.vec_id AS query_id, s.blk AS t_blk, c.cid AS t_cid,
       |    ${dotBlkSql("s.sub", "c.c_sub")} AS t
       |  FROM sub s JOIN cents c ON s.blk = c.c_blk WHERE ${AnnTrained.StoreProbeFilter}),
       |adc AS (
       |  SELECT tbl.query_id, assign.cell, codes.vec_id,
       |    SUM(CAST(floor(t * 1000000000.0 + 0.5) AS BIGINT))::BIGINT AS st
       |  FROM assign
       |  JOIN probe ON assign.cell = probe.cell
       |  JOIN codes ON codes.vec_id = assign.vec_id
       |  JOIN tbl ON codes.blk = tbl.t_blk AND codes.cid = tbl.t_cid
       |          AND tbl.query_id = probe.query_id
       |  WHERE assign.vec_id <> probe.query_id
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT adc.query_id, adc.cell, adc.vec_id,
       |    (adc.st::DOUBLE / 1000000000.0) / (cv.nrm * qv.nrm) AS acos
       |  FROM adc
       |  JOIN v cv ON cv.vec_id = adc.vec_id
       |  JOIN v qv ON qv.vec_id = adc.query_id)
       |SELECT query_id, cell, vec_id, ${rndSql("acos", 4)} AS acos,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY acos DESC, vec_id ASC) AS INT) AS rank
       |FROM scored QUALIFY rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  def declared: Seq[Query] = Seq(
    Query("q75_pq_encode", q75, q75Sql),
    Query("q76_pq_adc", q76, q76Sql),
    Query("q85_ivfpq_search", q85, q85Sql),
    Query("q171_sq8_quantize", q171, q171Sql),
    Query("q173_rand_proj", q173, q173Sql),
    Query("q187_pq_store_search", q187, q187Sql),
    // q191 shares q187's oracle: maintained store content == rebuild
    Query("q191_pq_store_incremental", q191, q187Sql))
}
