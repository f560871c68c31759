package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.functions.TextFns
import graft.io.{Readers, Writers}
import graft.queries.TextAnalysis

/** The CORD-19 research-challenge ETL job — re-expression of
  * /root/reference/spark/jobs/research_challenge_analysis.py:
  * multi-line nested JSON (4-level schema, :134-247) → author
  * flattening (G1) + ordered abstract reassembly (G2+W2+A5) with
  * UDF-free clean/sentiment (D9/D10 as JVM expressions).
  *
  * Scale: nested-schema pruning (enabled in GraftSession) means the
  * scan reads only paper_id + metadata.authors + abstract out of the
  * 100+-field schema; the window and groupBy share the paper_id
  * partitioning (one exchange).
  */
object ResearchChallengeAnalysis {

  /** The declared CORD-19 schema (research_challenge_analysis
    * .py:134-247) — explicit, never inferred.
    */
  val cord19Schema: StructType = {
    val authorName = StructType(Seq(
      StructField("first", StringType),
      StructField("middle", ArrayType(StringType)),
      StructField("last", StringType),
      StructField("suffix", StringType)))
    val location = StructType(Seq(
      StructField("addrLine", StringType), StructField("country", StringType),
      StructField("postBox", StringType), StructField("postCode", StringType),
      StructField("region", StringType), StructField("settlement", StringType)))
    val affiliation = StructType(Seq(
      StructField("laboratory", StringType),
      StructField("institution", StringType),
      StructField("location", location)))
    val author = StructType(authorName.fields.toSeq ++ Seq(
      StructField("affiliation", affiliation),
      StructField("email", StringType)))
    val span = StructType(Seq(
      StructField("start", IntegerType), StructField("end", IntegerType),
      StructField("text", StringType), StructField("ref_id", StringType)))
    val paragraph = StructType(Seq(
      StructField("text", StringType),
      StructField("cite_spans", ArrayType(span)),
      StructField("ref_spans", ArrayType(span)),
      StructField("eq_spans", ArrayType(span)),
      StructField("section", StringType)))
    val bibEntry = StructType(Seq(
      StructField("ref_id", StringType), StructField("title", StringType),
      StructField("authors", ArrayType(StructType(authorName.fields))),
      StructField("year", IntegerType), StructField("venue", StringType),
      StructField("volume", StringType), StructField("issn", StringType),
      StructField("pages", StringType),
      StructField("other_ids", StructType(Seq(
        StructField("DOI", ArrayType(StringType)))))))
    val refEntry = StructType(Seq(
      StructField("text", StringType), StructField("latex", StringType),
      StructField("type", StringType)))
    StructType(Seq(
      StructField("paper_id", StringType),
      StructField("metadata", StructType(Seq(
        StructField("title", StringType),
        StructField("authors", ArrayType(author))))),
      StructField("abstract", ArrayType(paragraph)),
      StructField("body_text", ArrayType(paragraph)),
      StructField("back_matter", ArrayType(paragraph)),
      StructField("bib_entries", MapType(StringType, bibEntry)),
      StructField("ref_entries", MapType(StringType, refEntry))))
  }

  /** S2 — per-subdir scans unioned with a source tag (:39-69). */
  def extract(spark: SparkSession, dirs: Seq[(String, String)]): DataFrame =
    dirs.map { case (path, tag) =>
      Readers.nestedJson(spark, path, cord19Schema, tag)
    }.reduce(_ union _)

  /** C5 — fillna("NA"): type-directed, string columns only (:72-76). */
  def transform(df: DataFrame): DataFrame = df.na.fill("NA")

  /** G1 + nested projection — one row per author, flattened (:79-86).
    * Bit-faithful quirk preserved: the reference BUILDS an
    * `email <> ''` filter (:81, the F5 predicate) but discards its
    * result — transform_papers_and_authors returns the UNfiltered
    * author rows. Parity keeps every author; [[paperAuthorsNonEmpty]]
    * is the repaired variant (and the F5 predicate's live exercise).
    */
  def paperAuthors(df: DataFrame): DataFrame =
    df.select(col("paper_id"), explode(col("metadata.authors")).as("author"))
      .select(col("paper_id"), col("author.*"))

  /** The filter the reference meant to apply (F5 `<>` expr-string
    * predicate, :81) — kept as the documented "fixed" variant.
    */
  def paperAuthorsNonEmpty(df: DataFrame): DataFrame =
    paperAuthors(df).where(expr("email <> ''"))

  /** G2+W2+A5+C7/C8+D9/D10 — ordered abstract reassembly then
    * clean/word-count/sentiment, all as JVM expressions (:89-106).
    * The running collect_list + max(array) reproduces the reference's
    * idiom exactly (kept for oracle parity over the idiomatic
    * sort_array(collect_list(struct)) — SURVEY.md §2.6 A5).
    */
  def paperAbstracts(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("paper_id").orderBy("pos")
    val lex = TextAnalysis.sentimentLexicon
    val assembled = df
      .select(col("paper_id"), posexplode(col("abstract")).as(Seq("pos", "para")))
      .select(col("paper_id"), col("pos"), col("para.text").as("text"))
      .withColumn("ordered_text", collect_list("text").over(w))
      .groupBy("paper_id")
      .agg(max("ordered_text").as("sentences"))
      .withColumn("abstract", array_join(col("sentences"), " "))
      .withColumn("words", size(split(col("abstract"), "\\s+")))
      .withColumn("clean_abstract", TextFns.cleanText(col("abstract")))
    val toks = TextFns.tokens(col("clean_abstract"))
    assembled
      .withColumn("n_matched", TextFns.matchedCount(toks, lex.map(_._1)))
      .withColumn("sentiment_abstract",
        when(col("n_matched") === 0, lit(0.0))
          .otherwise(TextFns.rnd(TextFns.lexiconPolarity(toks, lex) / col("n_matched"), 2)))
      .select("paper_id", "abstract", "words", "clean_abstract", "sentiment_abstract")
  }

  /** Config-file bootstrap — the reference's one-JSON-per-job submit
    * contract (spark.py:40–52 + configs/research_challenge_config.json).
    * The `inputs` object maps source tags to directories (the
    * reference's biorxiv/comm/noncomm/custom input sets).
    */
  def run(spark: SparkSession, config: JobConfig): Unit = {
    config.applyRuntimeConf(spark)
    require(config.inputs.nonEmpty, "research_challenge config needs an \"inputs\" map")
    run(spark, config.inputs, config.requireOutput("research_challenge"))
  }

  def run(spark: SparkSession, inputDirs: Seq[(String, String)], outDir: String): Unit = {
    val df = transform(extract(spark, inputDirs))
    Writers.singleFileJsonAll(spark, Seq(
      s"$outDir/paper_authors" -> (() => paperAuthors(df)),
      s"$outDir/paper_abstracts" -> (() => paperAbstracts(df))))
  }
}
