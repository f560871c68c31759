package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The query contract — see SURVEY.md §7.
  *
  * `declared` is the full declared-operator inventory (one entry per
  * implemented operator family from SURVEY.md §2 plus the
  * LLM-pipeline additions), each a [[Query]] pairing its Spark build
  * function with the DuckDB-equivalent SQL. `queries` and `oracleSql`
  * are both derived from it, so every query has an oracle. Column
  * names are aligned between the two on purpose — the result
  * comparison sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01(spark, "/root/testdata/sf0.001")

  /** Every module's queries, each module named once. */
  def declared: Seq[Query] = Seq(
    Relational.declared, TextAnalysis.declared, Dedup.declared,
    Similarity.declared, EventsOps.declared, StreamingQueries.declared,
    Advanced.declared, MultimodalQueries.declared, SketchQueries.declared,
    Extended.declared, Bucketed.declared, BinaryFiles.declared,
    AnnTrained.declared, PqQueries.declared, Reshape.declared,
    RangeJoin.declared, Layout.declared, JobCores.declared,
    PipelineOps.declared, CorpusOps.declared, GraphOps.declared,
    Retrieval.declared, CurationOps.declared, SkewQueries.declared,
    TemporalOps.declared, AnalyzeOps.declared, TimeTravel.declared).flatten

  /** One entry per declared query: name → Spark build function. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; the key sets are equal by construction.
    */
  def oracleSql: Map[String, String] =
    declared.map(q => q.name -> q.oracleSql).toMap
}
