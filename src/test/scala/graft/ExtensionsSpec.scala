package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFns, TextKernels}
import graft.sources.Tables

/** The SQL surface registered by GraftExtensions must equal the
  * column-API kernels bit-for-bit.
  */
class ExtensionsSpec extends SparkTestBase {

  private lazy val docs =
    Tables.documents(spark, Sf).select(col("doc_id"), col("text")).limit(50)

  test("graft_hash60 / graft_minhash_sig / graft_bigram_set SQL == kernel columns") {
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_hash60(text) AS h, graft_bigram_set(text) AS sh,
        |  graft_minhash_sig(text) AS sig, graft_tf_embedding(text) AS emb
        |FROM ext_docs""".stripMargin)
    val viaCol = docs.select(col("doc_id"),
      TextFns.hash60(col("text")).as("h"),
      TextKernels.bigramSetCol(col("text")).as("sh"),
      TextKernels.minhashSigCol(col("text")).as("sig"),
      TextKernels.tfEmbeddingCol(col("text")).as("emb"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("graft_rep_metrics SQL == TextKernels column") {
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_rep_metrics(text) AS m FROM ext_docs")
    val viaCol = docs.select(col("doc_id"),
      graft.functions.TextKernels.repMetricsCol(col("text")).as("m"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("graft_byte_stats SQL == BinKernels column") {
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_byte_stats(encode(text, 'UTF-8')) AS s FROM ext_docs")
    val viaCol = docs.select(col("doc_id"),
      graft.functions.BinKernels.byteStatsCol(encode(col("text"), "UTF-8")).as("s"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("graft_simhash60 / graft_kmv_distinct / graft_countmin SQL == column API") {
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_simhash60(text) AS sh FROM ext_docs")
    val viaCol = docs.select(col("doc_id"),
      TextKernels.simhash60Col(col("text")).as("sh"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)

    val fsSql = spark.sql(
      "SELECT doc_id, graft_fp_simhash16(text) AS fs FROM ext_docs")
    val fsCol = docs.select(col("doc_id"),
      TextKernels.fpSimhash16Col(col("text")).as("fs"))
    assert(fsSql.exceptAll(fsCol).isEmpty && fsCol.exceptAll(fsSql).isEmpty)

    Tables.documents(spark, Sf)
      .select(col("source"), (TextFns.hash60(col("text")) % TextFns.P).as("h"))
      .createOrReplaceTempView("ext_hashes")
    val aggSql = spark.sql(
      """SELECT source, graft_kmv_distinct(h) AS kmv, graft_countmin(h) AS cms
        |FROM ext_hashes GROUP BY source""".stripMargin)
    val aggCol = spark.table("ext_hashes").groupBy("source")
      .agg(graft.functions.KmvSketch.kmvDistinct(col("h")).as("kmv"),
        graft.functions.CountMinSketch.countMin(col("h")).as("cms"))
    assert(aggSql.count() > 0)
    assert(aggSql.exceptAll(aggCol).isEmpty && aggCol.exceptAll(aggSql).isEmpty)
  }

  test("graft_dot SQL == codegen dot column (bitwise)") {
    Tables.embeddings(spark, Sf).limit(100).createOrReplaceTempView("ext_emb")
    val viaSql = spark.sql(
      "SELECT vec_id, graft_dot(embedding, embedding) AS d FROM ext_emb")
    val viaCol = Tables.embeddings(spark, Sf).limit(100).select(col("vec_id"),
      graft.functions.VecFns.dotCol(col("embedding"), col("embedding")).as("d"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("graft_minhash_merge aggregates through SQL") {
    Tables.documents(spark, Sf)
      .select(col("source"), TextKernels.minhashSigCol(col("text")).as("sig"))
      .createOrReplaceTempView("ext_sigs")
    val viaSql = spark.sql(
      """SELECT source, graft_minhash_merge(sig) AS merged
        |FROM ext_sigs GROUP BY source""".stripMargin)
    val viaCol = Tables.documents(spark, Sf)
      .select(col("source"), TextKernels.minhashSigCol(col("text")).as("sig"))
      .groupBy("source")
      .agg(graft.functions.MinHashMerge.minhashMerge(col("sig")).as("merged"))
    assert(viaSql.count() > 0)
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
  }

  test("graft_bpe_encode SQL == bpeEncodeCol on the toy merge table") {
    import spark.implicits._
    Seq("hug", "pug", "pun", "bun", "hugs", "gg", "u").toDF("w")
      .createOrReplaceTempView("ext_bpe")
    // the classic toy table: (u,g) (u,n) (h,ug) (p,un)
    val viaSql = spark.sql(
      """SELECT w, graft_bpe_encode(w,
        |  array('u g', 'u n', 'h ug', 'p un')) AS seg FROM ext_bpe""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaSql == Map(
      "hug" -> "hug", "pug" -> "p·ug", "pun" -> "pun", "bun" -> "b·un",
      "hugs" -> "hug·s", "gg" -> "g·g", "u" -> "u"))
  }

  test("graft_misra_gries aggregates through SQL; exact below capacity") {
    import spark.implicits._
    // vocabulary below capacity → the MG summary IS the exact count
    // table (no decrement ever fires), so SQL output is deterministic
    // and checkable against a plain GROUP BY
    Seq("a", "b", "a", "c", "a", "b").toDF("t")
      .createOrReplaceTempView("ext_mg")
    val got = spark.sql(
      "SELECT graft_misra_gries(t, 8) AS s FROM ext_mg")
      .select(explode(col("s")).as("e"))
      .select(col("e.token"), col("e.est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 3L), ("b", 2L), ("c", 1L)),
      s"summary must be the exact best-first counts (got $got)")
    // and it equals the column API bit-for-bit
    val viaCol = Seq("a", "b", "a", "c", "a", "b").toDF("t")
      .agg(graft.functions.MisraGriesAgg.sketch(col("t"), 8).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.token"), col("e.est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == viaCol)
  }

  test("graft_histogram aggregates through SQL == the column API") {
    import spark.implicits._
    Seq(-1.0, 0.0, 2.5, 5.0, 9.99, 10.0, 42.0).toDF("x")
      .createOrReplaceTempView("ext_hist")
    val got = spark.sql(
      "SELECT graft_histogram(x, 0.0, 10.0, 4) AS h FROM ext_hist")
      .head().getAs[scala.collection.Seq[Long]](0).toSeq
    // [underflow, 4 bins over [0,10) width 2.5, overflow]:
    // -1→uf; 0.0→b1; 2.5→b2 (left-closed); 5.0→b3; 9.99→b4; 10,42→of
    assert(got == Seq(1L, 1L, 1L, 1L, 1L, 2L), s"got $got")
    val viaCol = Seq(-1.0, 0.0, 2.5, 5.0, 9.99, 10.0, 42.0).toDF("x")
      .agg(graft.functions.HistogramSketch.histogram(
        col("x"), 0.0, 10.0, 4).as("h"))
      .head().getAs[scala.collection.Seq[Long]](0).toSeq
    assert(got == viaCol)
  }

  test("graft_topk aggregates through SQL == the column API") {
    import spark.implicits._
    Seq((3.0, 30L), (1.0, 10L), (9.0, 90L), (9.0, 5L), (4.0, 40L))
      .toDF("s", "id").createOrReplaceTempView("ext_topk")
    val got = spark.sql(
      "SELECT graft_topk(s, id, 3) AS t FROM ext_topk")
      .select(explode(col("t")).as("e"))
      .select(col("e.score"), col("e.id1"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    // score desc, id asc tiebreak, exactly k rows
    assert(got == Seq((9.0, 5L), (9.0, 90L), (4.0, 40L)), s"got $got")
    val viaCol = Seq((3.0, 30L), (1.0, 10L), (9.0, 90L), (9.0, 5L), (4.0, 40L))
      .toDF("s", "id")
      .agg(graft.functions.TopKAgg.topK(
        col("s"), col("id"), lit(0L), 3).as("t"))
      .select(explode(col("t")).as("e"))
      .select(col("e.score"), col("e.id1"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(got == viaCol)
  }

  test("graft_hll aggregates through SQL == the column API, with a hand-checked tiny case") {
    import spark.implicits._
    // two distinct hashes, chosen so registers are hand-computable:
    // h=5 → j=5, w=0 → rho=53; h=256 → j=0, w=1 → rho=52
    Seq(5L, 256L, 5L).toDF("h").createOrReplaceTempView("ext_hll")
    val got = spark.sql("SELECT graft_hll(h) AS s FROM ext_hll")
      .head().getAs[scala.collection.Seq[Long]](0).toSeq
    val expectS = (1L << 0) + (1L << 1) + 254L * (1L << 53)
    assert(got == Seq(expectS, 254L), s"got $got")
    val viaCol = Seq(5L, 256L, 5L).toDF("h")
      .agg(graft.functions.HllSketch.hllSummary(col("h")).as("s"))
      .head().getAs[scala.collection.Seq[Long]](0).toSeq
    assert(got == viaCol)
  }

  test("graft_hll_regs -> graft_hll_merge through SQL == direct graft_hll over the union") {
    import spark.implicits._
    // three groups of hashes; merging the per-group register arrays
    // must equal sketching the union directly (HLL union algebra)
    val rows = (1 to 300).map(i => (i % 3, (i * 2654435761L) & ((1L << 60) - 1)))
    rows.toDF("g", "h").createOrReplaceTempView("ext_hll_m")
    val merged = spark.sql(
      """SELECT graft_hll_merge(r) AS s FROM
        |  (SELECT g, graft_hll_regs(h) AS r FROM ext_hll_m GROUP BY g)""".stripMargin)
      .head().getAs[scala.collection.Seq[Long]](0).toSeq
    val direct = spark.sql("SELECT graft_hll(h) AS s FROM ext_hll_m")
      .head().getAs[scala.collection.Seq[Long]](0).toSeq
    assert(merged == direct, s"merged $merged != direct $direct")
    // and a non-long input to graft_hll fails at ANALYSIS, not runtime
    val err = intercept[Exception](
      spark.sql("SELECT graft_hll(CAST(h AS STRING)) FROM ext_hll_m").collect())
    assert(err.getMessage.contains("BIGINT"), err.getMessage)
  }

  /** Every message down a throwable's cause chain, joined. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  test("sketch-size literals outside [1, Int.MaxValue] fail at analysis, not truncated") {
    import spark.implicits._
    Seq((3.0, 30L, "a"), (1.0, 10L, "b")).toDF("s", "id", "t")
      .createOrReplaceTempView("ext_size")
    // 4294967297 = 2^32 + 1: an Int truncation would run it as 1
    for ((call, name) <- Seq(
        "graft_topk(s, id, 4294967297)" -> "k",
        "graft_misra_gries(t, 4294967297)" -> "m",
        "graft_histogram(s, 0.0, 10.0, 4294967297)" -> "bins",
        "graft_histogram(s, 0.0, 10.0, 0)" -> "bins",
        "graft_histogram(s, 0.0, 10.0, -3)" -> "bins",
        "graft_topk(s, id, 0)" -> "k")) {
      // spark.sql analyzes eagerly: the failure must come before any job
      val err = intercept[Exception](spark.sql(s"SELECT $call AS x FROM ext_size"))
      assert(messages(err).contains(s"$name must be between 1 and ${Int.MaxValue}"),
        s"$call: ${messages(err)}")
    }
    // the column API keeps the same floor on the histogram grid
    val err = intercept[IllegalArgumentException](
      graft.functions.HistogramSketch.histogram(col("s"), 0.0, 10.0, 0))
    assert(err.getMessage.contains("bins >= 1"), err.getMessage)
  }

  test("graft_hll_regs / graft_hll_merge reject the other form's input type at analysis") {
    import spark.implicits._
    Seq(5L, 256L).toDF("h").createOrReplaceTempView("ext_hll_t")
    val regs = intercept[Exception](
      spark.sql("SELECT graft_hll_regs(CAST(h AS STRING)) FROM ext_hll_t"))
    assert(messages(regs).contains(
      "graft_hll_regs expects a BIGINT hash column (hash60 domain), got string"),
      messages(regs))
    val merge = intercept[Exception](
      spark.sql("SELECT graft_hll_merge(h) FROM ext_hll_t"))
    assert(messages(merge).contains(
      "graft_hll_merge expects a BINARY register array (graft_hll_regs output), got bigint"),
      messages(merge))
  }

  test("graft_hll_merge over a 255-byte BINARY fails at execution with the register width") {
    import spark.implicits._
    Seq(Array.fill[Byte](255)(1)).toDF("r").createOrReplaceTempView("ext_hll_w")
    // any BINARY type-checks, so analysis succeeds...
    val df = spark.sql("SELECT graft_hll_merge(r) AS s FROM ext_hll_w")
    // ...and the width check stops the job
    val err = intercept[Exception](df.collect())
    assert(messages(err).contains(
      "hll_merge: register array must be 256 bytes (a graft_hll_regs output), got 255"),
      messages(err))
  }

  test("hllMergeRegs over per-group hllRegisters is byte-equal to hllRegisters over the union") {
    import graft.functions.HllSketch
    import spark.implicits._
    val rows = (1 to 500).map(i => (i % 7, (i * 0x9E3779B97F4A7C15L) & ((1L << 60) - 1)))
    val df = rows.toDF("g", "h")
    val merged = df.groupBy("g").agg(HllSketch.hllRegisters(col("h")).as("r"))
      .agg(HllSketch.hllMergeRegs(col("r")).as("r"))
      .head().getAs[Array[Byte]](0)
    val direct = df.agg(HllSketch.hllRegisters(col("h")).as("r"))
      .head().getAs[Array[Byte]](0)
    assert(merged.length == HllSketch.M)
    assert(merged.sameElements(direct))
    assert(direct.count(_ != 0) > 200, "the union must fill most registers")
  }
}
