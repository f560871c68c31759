package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFns.{rnd, rndSql}
import graft.functions.VecFns
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table:
  * brute-force cosine top-k as the correctness baseline, and a
  * sign-random-projection LSH-bucketed variant as the scale path.
  *
  * Scale design: the query set is always the small side and is
  * BROADCAST — the corpus never shuffles for the probe join. The LSH
  * variant additionally cuts the scanned candidates per query from n
  * to n/2^planes; at 100 TB the bucket id would also be the parquet
  * partition key, turning each probe into partition-pruned reads.
  */
object Similarity {

  /** Deterministic probe set: every 50th vector. */
  private val QueryFilter = "vec_id % 50 = 0"

  // ---------------------------------------------------------------
  // q36_ann_bruteforce — exact cosine top-5 per probe vector.
  // Probe side broadcast; per-vector norms computed once pre-join;
  // ranking via row_number with a unique (cos, vec_id) tiebreak.
  // ---------------------------------------------------------------
  def q36(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    val q = v.filter(expr(QueryFilter))
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        rnd(VecFns.dotCol(col("embedding"), col("e_q")) / (col("nrm") * col("n_q")), 4)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val q36Sql: String =
    s"""WITH v AS (SELECT vec_id, embedding,
       |  ${VecFns.normSql("embedding")} AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS e_q, nrm AS n_q
       |      FROM v WHERE $QueryFilter)
       |SELECT query_id, vec_id,
       |  ${rndSql(s"${VecFns.dotSql("v.embedding", "q.e_q")} / (v.nrm * q.n_q)", 4)} AS cosine,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY ${rndSql(s"${VecFns.dotSql("v.embedding", "q.e_q")} / (v.nrm * q.n_q)", 4)} DESC, vec_id ASC) AS INT) AS rank
       |FROM v JOIN q ON v.vec_id <> q.query_id
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q37_ann_lsh — LSH-bucketed ANN: 6 sign-projection hyperplanes →
  // 64 buckets; probes only scan their own bucket. Hyperplanes are
  // plan-time literals (VecFns.planes) — zero per-row hash cost.
  // A probe whose bucket has no other member simply yields no rows
  // (the recall/latency trade LSH makes by construction).
  // ---------------------------------------------------------------
  def q37(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"),
        VecFns.lshBucket(col("embedding")).as("bucket"))
    val q = v.filter(expr(QueryFilter))
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"), col("bucket").as("q_bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    v.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("bucket"), col("vec_id"),
        rnd(VecFns.dotCol(col("embedding"), col("e_q")) / (col("nrm") * col("n_q")), 4)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .orderBy(col("query_id"), col("rank"))
  }

  val q37Sql: String =
    s"""WITH v AS (SELECT vec_id, embedding,
       |  ${VecFns.normSql("embedding")} AS nrm,
       |  ${VecFns.lshBucketSql("embedding")} AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS e_q, nrm AS n_q,
       |        bucket AS q_bucket
       |      FROM v WHERE $QueryFilter)
       |SELECT query_id, v.bucket AS bucket, vec_id,
       |  ${rndSql(s"${VecFns.dotSql("v.embedding", "q.e_q")} / (v.nrm * q.n_q)", 4)} AS cosine,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY ${rndSql(s"${VecFns.dotSql("v.embedding", "q.e_q")} / (v.nrm * q.n_q)", 4)} DESC, vec_id ASC) AS INT) AS rank
       |FROM v JOIN q ON v.bucket = q.q_bucket AND v.vec_id <> q.query_id
       |QUALIFY rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // q59_ann_ivf — IVF (inverted-file) ANN: a small coarse-quantizer
  // codebook partitions the corpus into cells; every vector is
  // assigned to its nearest centroid (one broadcast join — the
  // codebook is always tiny); each probe searches only its nprobe=2
  // nearest cells. The codebook here is a deterministic sample
  // (lowest vec_ids) so the oracle can mirror it — production trains
  // it offline with k-means, which changes the centroids, not the
  // query shape. Complement to q37: LSH cells are hash-random, IVF
  // cells follow the data distribution.
  //
  // Scale: assignment shuffles only (vec_id, cell, cos) triples —
  // the embedding column never moves for the argmin; at 100 TB `cell`
  // becomes the parquet partition key, so each probe reads nprobe
  // partitions (partition pruning) instead of the corpus.
  // ---------------------------------------------------------------
  final val IvfCells = 16
  final val IvfProbe = 2

  /** Deployment knobs (SCALE_NOTES deferred item): cells ≈ √n and
    * nprobe trade recall for scan fraction. Defaults are the declared
    * constants so the driver's oracle stays exact; a production
    * session overrides per workload:
    * `spark.graft.ann.ivf.cells` / `spark.graft.ann.ivf.nprobe`.
    */
  private def ivfCells(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.ann.ivf.cells")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(IvfCells)
  private def ivfProbe(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.ann.ivf.nprobe")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(IvfProbe)

  def q59(spark: SparkSession, dir: String): DataFrame = {
    val (cells, nprobe) = (ivfCells(spark), ivfProbe(spark))
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecFns.normK(col("embedding")).as("nrm"))
    val cents = v.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("e_c"),
        col("nrm").as("n_c"))
    // nearest centroid per vector: broadcast the codebook, rank on the
    // skinny (vec_id, cid, cos) frame — embeddings stay behind
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_c").desc, col("cid").asc)
    val assign = v.join(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (VecFns.dotCol(col("embedding"), col("e_c")) / (col("nrm") * col("n_c")))
          .as("cos_c"))
      .withColumn("rk", row_number().over(wAssign))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    // probes search their nprobe nearest cells
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_c").desc, col("cid").asc)
    val probeCells = v.filter(expr(QueryFilter)).join(broadcast(cents))
      .select(col("vec_id").as("query_id"), col("cid"),
        (VecFns.dotCol(col("embedding"), col("e_c")) / (col("nrm") * col("n_c")))
          .as("cos_c"))
      .withColumn("rk", row_number().over(wProbe))
      .where(col("rk") <= nprobe)
      .select(col("query_id"), col("cid").as("cell"))
    val q = v.filter(expr(QueryFilter))
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    assign.join(broadcast(probeCells), "cell")
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

  val q59Sql: String = {
    def cosC(e: String, n: String) =
      s"${VecFns.dotSql(e, "c.e_c")} / ($n * c.n_c)"
    s"""WITH v AS (SELECT vec_id, embedding,
       |  ${VecFns.normSql("embedding")} AS nrm FROM embeddings),
       |c AS (SELECT vec_id AS cid, embedding AS e_c, nrm AS n_c
       |      FROM v WHERE vec_id < $IvfCells),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT v.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.cid ASC) AS rk
       |    FROM v CROSS JOIN c) WHERE rk = 1
       |),
       |probe AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT v.vec_id AS query_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosC("v.embedding", "v.nrm")} DESC, c.cid ASC) AS rk
       |    FROM v CROSS JOIN c WHERE $QueryFilter) WHERE rk <= $IvfProbe
       |),
       |q AS (SELECT vec_id AS query_id, embedding AS e_q, nrm AS n_q
       |      FROM v WHERE $QueryFilter)
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

  // ---------------------------------------------------------------
  // q111_ann_recall — the ANN evaluation harness as a query: recall@3
  // of the LSH (q37) and IVF (q59) paths against the brute-force
  // ground truth (q36), per probe. This is the measurement every
  // embedding pipeline runs before trusting an index; here it is a
  // composition of the three declared queries (its oracle literally
  // nests their SQL), so the eval stays in lock-step with the indexes
  // it grades.
  //
  // Scale shape: the inputs are top-k frames (probes × k rows) — the
  // recall join is trivially small; the cost lives in the underlying
  // index scans, which carry their own scale audits. At 100 TB the
  // truth side comes from a sampled probe set, exactly QueryFilter.
  // ---------------------------------------------------------------
  final val RecallK = 3

  def q111(spark: SparkSession, dir: String): DataFrame = {
    val truth = q36(spark, dir).where(col("rank") <= RecallK)
      .select(col("query_id"), col("vec_id"))
    val lsh = q37(spark, dir)
      .select(col("query_id"), col("vec_id"), lit(1).as("lsh_hit"))
    val ivf = q59(spark, dir)
      .select(col("query_id"), col("vec_id"), lit(1).as("ivf_hit"))
    truth.join(lsh, Seq("query_id", "vec_id"), "left")
      .join(ivf, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("lsh_hit")).as("lsh_hits"),
        count(col("ivf_hit")).as("ivf_hits"))
      .select(col("query_id"), col("lsh_hits"), col("ivf_hits"),
        rnd(col("lsh_hits").cast("double") / RecallK, 4).as("lsh_recall"),
        rnd(col("ivf_hits").cast("double") / RecallK, 4).as("ivf_recall"))
      .orderBy(col("query_id"))
  }

  val q111Sql: String =
    s"""WITH bf AS ($q36Sql),
       |truth AS (SELECT query_id, vec_id FROM bf WHERE rank <= $RecallK),
       |lsh AS ($q37Sql),
       |ivf AS ($q59Sql)
       |SELECT t.query_id, COUNT(l.vec_id) AS lsh_hits,
       |  COUNT(i.vec_id) AS ivf_hits,
       |  ${rndSql(s"COUNT(l.vec_id)::DOUBLE / $RecallK", 4)} AS lsh_recall,
       |  ${rndSql(s"COUNT(i.vec_id)::DOUBLE / $RecallK", 4)} AS ivf_recall
       |FROM truth t
       |LEFT JOIN lsh l ON t.query_id = l.query_id AND t.vec_id = l.vec_id
       |LEFT JOIN ivf i ON t.query_id = i.query_id AND t.vec_id = i.vec_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q36_ann_bruteforce", q36, q36Sql),
    Query("q37_ann_lsh", q37, q37Sql),
    Query("q59_ann_ivf", q59, q59Sql),
    Query("q111_ann_recall", q111, q111Sql))
}
