package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.functions.TextFns._
import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline family (language ID, quality scoring, token
  * counting, fingerprinting, sentiment). Mirrors the reference's text
  * path (clean-abstract + sentiment + word-count,
  * /root/reference/spark/jobs/research_challenge_analysis.py:89-106,
  * 117-131) re-expressed as pure codegen'd column expressions, and
  * extends it with the heuristics a 100 TB corpus pipeline needs.
  *
  * Scale shape of every query here: narrow parquet scan (only the
  * columns used leave the scan), per-row map work with NO shuffle
  * except the final small aggregate/sort. This is embarrassingly
  * parallel at any scale factor.
  */
object TextAnalysis {

  private def toks: Column = tokens(col("text"))

  // ---------------------------------------------------------------
  // q26_lang_id — n-gram/stopword-overlap language ID heuristic:
  // score = marker-token ratio per profile; predicted = argmax with
  // deterministic lexicographic tiebreak.
  // ---------------------------------------------------------------
  def q26(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: four marker-ratio array passes per row ran as ONE task
    // over the single-file scan (profiled 0.36 s serial); per-row map
    // work, partitioning-invariant.
    val scored = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id") +: langMarkers.map { case (l, ms) =>
        markerRatio(toks, ms).as(s"score_$l")
      }: _*)
    val best = langMarkers
      .map { case (l, _) => struct(col(s"score_$l").as("s"), lit(l).as("l")) }
      .reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    scored
      .withColumn("predicted", best.getField("l"))
      .orderBy(col("doc_id"))
  }

  val q26Sql: String = {
    val scores = langMarkers.map { case (l, ms) =>
      s"  ${markerRatioSql("string_split(text, ' ')", ms)} AS score_$l"
    }.mkString(",\n")
    // argmax with the SAME left-fold strict-greater tiebreak as the Spark plan
    val best = langMarkers.map { case (l, _) => (s"score_$l", sqlStr(l)) }
      .reduceLeft[(String, String)] { case ((sa, la), (sb, lb)) =>
        (s"CASE WHEN $sb > $sa THEN $sb ELSE $sa END",
          s"CASE WHEN $sb > $sa THEN $lb ELSE $la END")
      } match { case (_, lExpr) => lExpr }
    s"""SELECT doc_id, score_en, score_query, score_data, score_stream,
       |  $best AS predicted
       |FROM (SELECT doc_id,
       |$scores
       |FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  private def sqlStr(s: String): String = s"'$s'"

  // ---------------------------------------------------------------
  // q27_quality_score — document quality heuristics: token count,
  // mean token length, distinct-token ratio, stopword ratio, and a
  // composite score. All single-pass array math.
  // ---------------------------------------------------------------
  private val stopwords = Seq("the", "a")

  def q27(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), toks.as("t"))
      .select(
        col("doc_id"),
        size(col("t")).as("n_tokens"),
        rnd(col("n_chars").cast("double") / size(col("t")), 4).as("mean_tok_len"),
        rnd(size(array_distinct(col("t"))).cast("double") / size(col("t")), 4)
          .as("uniq_ratio"),
        markerRatio(col("t"), stopwords).as("stop_ratio"))
      .withColumn("quality",
        rnd(
          least(col("n_tokens").cast("double") / 100, lit(1.0)) * 0.4 +
            col("uniq_ratio") * 0.4 +
            (lit(1.0) - col("stop_ratio")) * 0.2, 4))
      .orderBy(col("doc_id"))

  val q27Sql: String =
    s"""SELECT doc_id, n_tokens, mean_tok_len, uniq_ratio, stop_ratio,
       |  ${rndSql("least(n_tokens::DOUBLE / 100, 1.0) * 0.4 + uniq_ratio * 0.4 + (1.0 - stop_ratio) * 0.2", 4)} AS quality
       |FROM (SELECT doc_id,
       |  len(t) AS n_tokens,
       |  ${rndSql("n_chars::DOUBLE / len(t)", 4)} AS mean_tok_len,
       |  ${rndSql("len(list_distinct(t))::DOUBLE / len(t)", 4)} AS uniq_ratio,
       |  ${markerRatioSql("t", stopwords)} AS stop_ratio
       |FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents))
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q28_token_stats — corpus-level token accounting: whitespace
  // tokens and BPE-ish regex tokens ([a-z]+ | digits | other symbol)
  // per source, plus explode-based (§2.12 G1) top-token extraction.
  // ---------------------------------------------------------------
  def q28(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), toks.as("t"), col("text"))
      .select(col("source"), size(col("t")).as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("n_bpe"))
      .groupBy(col("source"))
      .agg(
        sum(col("n_ws")).as("ws_tokens"),
        sum(col("n_bpe")).as("bpe_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("source"))

  val q28Sql: String =
    """SELECT source, CAST(SUM(n_ws) AS BIGINT) AS ws_tokens, CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
      |  COUNT(*) AS n_docs
      |FROM (SELECT source, len(string_split(text, ' ')) AS n_ws,
      |        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe
      |      FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q29_top_tokens — §2.12 G1/G2 explode parity: posexplode the token
  // stream, global top-20 tokens by frequency with deterministic
  // tiebreak. The explode fans out ~n_tokens× rows but feeds a
  // partial-agg'd count: the exchange carries O(vocab) rows only.
  // ---------------------------------------------------------------
  def q29(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(20)

  val q29Sql: String =
    """SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // q30_fingerprint — order-sensitive rolling-hash document
  // fingerprint (dedup primitive for exactly-reordered content) +
  // 16-bit SimHash. Pure map work; fingerprint collisions would
  // surface as duplicate fp values.
  // ---------------------------------------------------------------
  def q30(spark: SparkSession, dir: String): DataFrame =
    // fused native kernel: one token pass, one md5 per token (the
    // declarative fingerprint+simhash16 pair is value-identical but
    // hashes twice and folds boxed arrays — kept in TextFns as the
    // reference semantics; PropertySpec pins kernel == declarative)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextKernels.fpSimhash16Col(col("text")).as("fs"))
      .select(col("doc_id"),
        element_at(col("fs"), 1).as("fp"),
        element_at(col("fs"), 2).as("simhash"))
      .orderBy(col("doc_id"))

  val q30Sql: String =
    s"""SELECT doc_id,
       |  ${fingerprintSql("t")} AS fp,
       |  ${simhash16Sql("t")} AS simhash
       |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q31_clean_sentiment — the reference's clean-abstract + lexicon
  // sentiment (research_challenge_analysis.py:90-91, 117-131)
  // re-expressed UDF-free: regex clean chain (D9) + broadcast-lexicon
  // polarity average (D10), with the 0.0-on-no-match passthrough.
  // ---------------------------------------------------------------
  final val sentimentLexicon: Seq[(String, Double)] = Seq(
    "fast" -> 1.0, "slow" -> -1.0, "big" -> 0.5, "small" -> -0.5,
    "dup" -> -0.8, "spark" -> 0.8, "merge" -> 0.3, "scan" -> -0.2)

  def q31(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = trim(regexp_replace(
      lower(regexp_replace(col("text"), "[^a-zA-Z]", " ")), " +", " "))
    val words = sentimentLexicon.map(_._1)
    // tokenCounts kernel (r17): ONE token pass returning
    // [count(w1)…count(wk), n_tok] replaces the k+1 interpreted
    // filter HOFs per document. The polarity/count recombination
    // below is plain scalar arithmetic in the SAME fold order as the
    // declarative build (each term cast(count)·score added in lexicon
    // order), so every double is bit-identical; n_matched = Σ counts
    // because the lexicon words are distinct (a token matches at most
    // one). KernelSpec pins the counts against the filter HOFs.
    val cnt = (i: Int) => element_at(col("tc"), i + 1)
    val polarity = sentimentLexicon.zipWithIndex
      .foldLeft(lit(0.0).cast("double")) { case (acc, ((_, s), i)) =>
        acc + coalesce(cnt(i).cast("double") * s, lit(0.0))
      }
    // fanOut: the regex clean chain + the count pass per row ran as
    // ONE task over the single-file scan (profiled 0.60 s serial);
    // per-row map work, partitioning-invariant.
    Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), cleaned.as("clean_text"))
      .withColumn("tc", graft.functions.TextKernels.tokenCountsCol(
        col("clean_text"), typedlit(words)))
      .withColumn("n_matched",
        words.indices.map(cnt).reduce(_ + _).cast("int"))
      .withColumn("sentiment",
        when(col("n_matched") === 0, lit(0.0))
          .otherwise(rnd(polarity / col("n_matched"), 2)))
      .select(col("doc_id"), col("n_matched"), col("sentiment"),
        cnt(words.size).cast("int").as("word_count"))
      .orderBy(col("doc_id"))
  }

  val q31Sql: String = {
    val polarity = sentimentLexicon.map { case (w, s) =>
      s"len(list_filter(t, x -> x = '$w'))::DOUBLE * ($s)"
    }.mkString(" + ")
    val inList = sentimentLexicon.map(w => s"'${w._1}'").mkString(", ")
    s"""SELECT doc_id, n_matched,
       |  CASE WHEN n_matched = 0 THEN 0.0
       |       ELSE ${rndSql(s"($polarity) / n_matched", 2)} END AS sentiment,
       |  len(t) AS word_count
       |FROM (SELECT doc_id, string_split(clean_text, ' ') AS t,
       |        len(list_filter(string_split(clean_text, ' '), x -> x IN ($inList))) AS n_matched
       |      FROM (SELECT doc_id,
       |              trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z]', ' ', 'g')), ' +', ' ', 'g')) AS clean_text
       |            FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q89_doc_chunking — fixed-size overlapping token windows: the
  // chunk-for-embedding step every RAG/pretraining pipeline runs
  // between curation and the embedding job. ChunkSize-token windows
  // every Stride tokens (overlap = ChunkSize − Stride keeps context
  // across boundaries); short tails are kept (the embedding model
  // pads). Pure map-side generate — chunking 100 TB is exactly one
  // scan, no shuffle, and the (doc_id, chunk_id) output is the
  // embedding job's input table.
  // ---------------------------------------------------------------
  final val ChunkSize = 32
  final val ChunkStride = 24

  def q89(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), col("tok"),
        posexplode(sequence(lit(0),
          greatest(size(col("tok")) - 1, lit(0)), lit(ChunkStride)))
          .as(Seq("chunk_id", "start")))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("tok"), col("start") + 1, lit(ChunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("chunk_len"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val q89Sql: String =
    s"""WITH tokd AS (
       |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
       |starts AS (
       |  SELECT doc_id, tok,
       |    unnest(generate_series(0, len(tok) - 1, $ChunkStride)) AS start
       |  FROM tokd)
       |SELECT doc_id, CAST(start / $ChunkStride AS INT) AS chunk_id,
       |  CAST(len(tok[start + 1 : start + $ChunkSize]) AS INT) AS chunk_len,
       |  array_to_string(tok[start + 1 : start + $ChunkSize], ' ') AS chunk_text
       |FROM starts ORDER BY doc_id, chunk_id""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q89_doc_chunking", q89, q89Sql),
    Query("q26_lang_id", q26, q26Sql),
    Query("q27_quality_score", q27, q27Sql),
    Query("q28_token_stats", q28, q28Sql),
    Query("q29_top_tokens", q29, q29Sql),
    Query("q30_fingerprint", q30, q30Sql),
    Query("q31_clean_sentiment", q31, q31Sql))
}
