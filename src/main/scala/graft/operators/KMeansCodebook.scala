package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VecFns
import graft.sources.Tables

/** Distributed Lloyd's k-means for the IVF coarse quantizer
  * (VERDICT round-2 item 3; SCALE_NOTES deferred 2): fixed
  * deterministic init (the vec_id < k sample the untrained quantizer
  * already used), a FIXED number of iterations, and — the piece that
  * makes it oracle-replayable — fixed-point centroid updates:
  * each element contributes floor(x * 2^20) as a BIGINT, so the
  * per-cell sums are exact integers and therefore independent of
  * Spark's partial-aggregation order. DuckDB unrolls the same
  * iterations in SQL and lands on bit-identical centroids.
  *
  * Scale shape per iteration (the classic distributed k-means):
  *   - assignment: broadcast the k×dim codebook, rank cells on the
  *     skinny (vec_id, cid, cos) frame — embeddings never shuffle;
  *   - update: posexplode to (cell, pos, elem), partial+final integer
  *     sum — one shuffle of k·dim·partitions integers;
  *   - k·dim doubles return to the driver (the codebook is driver-
  *     sized by definition; mllib's KMeans does the same).
  *
  * The 2^-20 quantisation of the update (not of the data) is far
  * below the coarse quantizer's resolution; assignment itself uses
  * full double cosine.
  */
object KMeansCodebook {

  final val Scale = 1L << 20

  /** codebook(cid)(pos); cells that lose all members keep their
    * previous centroid (mirrored by the oracle's LEFT JOIN+COALESCE).
    */
  def train(spark: SparkSession, dir: String, k: Int, iters: Int): Array[Array[Double]] = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), VecFns.normK(col("embedding")).as("nrm"))
    var cents: Array[Array[Double]] = v.filter(col("vec_id") < k)
      .orderBy(col("vec_id")).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)

    for (_ <- 1 to iters) {
      val centsDf = centsFrame(spark, cents)
      val assign = assignCells(v, centsDf)
      val sums = assign.join(v, "vec_id")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "elem")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("elem").cast("double") * Scale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) =
          r.getAs[Long]("s").toDouble / Scale.toDouble / r.getAs[Long]("n").toDouble
      }
      cents = next
    }
    cents
  }

  /** (cid, e_c double[], n_c) — norms computed on the driver with the
    * same ascending fold the oracle uses.
    */
  def centsFrame(spark: SparkSession, cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, cid) =>
      var ss = 0.0
      var i = 0
      while (i < c.length) { ss += c(i) * c(i); i += 1 }
      (cid, c.toSeq, math.sqrt(ss))
    }.toSeq.toDF("cid", "e_c", "n_c")
  }

  /** Nearest-centroid assignment: broadcast codebook, argmax cosine
    * with (cos DESC, cid ASC) tie-break on the skinny triple frame.
    * `v` must carry (vec_id, embedding, nrm).
    */
  def assignCells(v: DataFrame, centsDf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("cid").asc)
    v.join(broadcast(centsDf))
      .select(col("vec_id"), col("cid"),
        (VecFns.dotCol(col("embedding"), col("e_c")) / (col("nrm") * col("n_c"))).as("cos_c"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
  }

  // trained codebooks are deterministic per (session, dir, k, iters);
  // memoize them so bench passes don't retrain
  def trained(spark: SparkSession, dir: String, k: Int, iters: Int): Array[Array[Double]] =
    graft.CacheRegistry.memo(spark, ("kmeans.codebook", dir, k, iters))(
      train(spark, dir, k, iters))

  /** Warehouse table name of the persisted codebook — the ONE place
    * the naming scheme lives (stress cleanup and any other caller must
    * use this, never re-derive the string, or a rename silently
    * orphans their drop).
    */
  def tableName(dir: String, k: Int, iters: Int): String =
    s"graft_codebook_k${k}_i${iters}_" + Integer.toHexString(dir.hashCode)

  /** Cross-SESSION form of [[trained]]: the codebook as a
    * fingerprinted warehouse artifact (k rows of (cid,
    * centroid DOUBLE[])), the ANN analogue of the persisted LSH pair
    * set. Training is `iters` full passes over the embedding corpus —
    * at real scale the expensive part — while the artifact is k×dim
    * doubles; a later JVM re-registers the surviving files and skips
    * training entirely, and a corpus regeneration flips the
    * fingerprint and forces the retrain. Bit-identical across the
    * build/reread boundary because [[train]] is bit-deterministic
    * (fixed-point sums) and doubles round-trip parquet exactly.
    */
  def persisted(spark: SparkSession, dir: String, k: Int,
                iters: Int): Array[Array[Double]] = {
    import spark.implicits._
    val table = tableName(dir, k, iters)
    graft.io.Warehouse.ensureTable(spark, table,
      s"$dir/embeddings.parquet",
      "cid INT, centroid ARRAY<DOUBLE>") {
      trained(spark, dir, k, iters).zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "centroid")
        .coalesce(1)
    }
    spark.table(table).orderBy(col("cid")).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
  }

  // -----------------------------------------------------------------
  // DuckDB twin: unrolls the same init + iterations as chained CTEs.
  // -----------------------------------------------------------------

  /** CTEs `cents0..cents$iters` over a `v(vec_id, embedding, nrm)`
    * CTE; each centsN carries (cid, e_c DOUBLE[], n_c). Assignment and
    * update mirror [[train]] operation-for-operation.
    */
  def centsSql(k: Int, iters: Int, dim: Int): String = {
    def norm(e: String) =
      s"sqrt(list_reduce(list_prepend(0.0::DOUBLE, " +
        s"list_transform($e, x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b))"
    def cos(e: String, n: String) =
      s"${VecFns.dotSql(e, "c.e_c")} / ($n * c.n_c)"
    val init =
      s"""cents0 AS (
         |  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS e_c,
         |    nrm AS n_c
         |  FROM v WHERE vec_id < $k)""".stripMargin
    val steps = (1 to iters).map { t =>
      val prev = s"cents${t - 1}"
      s"""assign$t AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT v.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cos("v.embedding", "v.nrm")} DESC, c.cid ASC) AS rk
         |    FROM v CROSS JOIN $prev c) WHERE rk = 1),
         |sums$t AS (
         |  SELECT a.cell, p.pos,
         |    SUM(CAST(FLOOR(v.embedding[p.pos]::DOUBLE * $Scale) AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM assign$t a JOIN v ON a.vec_id = v.vec_id
         |  CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS pos) p
         |  GROUP BY a.cell, p.pos),
         |newc$t AS (
         |  SELECT cell AS cid,
         |    list(s::DOUBLE / $Scale.0 / n::DOUBLE ORDER BY pos) AS e_c
         |  FROM sums$t GROUP BY cell),
         |cents$t AS (
         |  SELECT p.cid, COALESCE(n.e_c, p.e_c) AS e_c,
         |    ${norm("COALESCE(n.e_c, p.e_c)")} AS n_c
         |  FROM $prev p LEFT JOIN newc$t n ON p.cid = n.cid)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }
}
