package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.queries.{CorpusOps, PipelineOps}
import graft.sources.Tables

/** Short-document robustness. Under ANSI mode (Spark 4's default,
  * which GraftSession keeps) a 0/1/2-token document must degrade the
  * way the DuckDB oracles do — empty shingle lists, NULL ratios —
  * instead of aborting the whole query with INVALID_ARRAY_INDEX (a
  * descending `sequence(0, size-n)` range) or DIVIDE_BY_ZERO (a
  * zero token/gram denominator). A single pathological document in a
  * 100 TB corpus must never kill a curation job.
  */
class EdgeDocsSpec extends SparkTestBase {
  import spark.implicits._

  /** sf0.001 documents plus four pathological rows, as a temp corpus
    * dir the curation queries can read like any scale factor.
    */
  private lazy val dir: String = {
    val d = tempDir("graft_edge_docs")
    val pathological = Seq(
      (9001L, "", "en", "src0", 0L),
      (9002L, "solo", "en", "src0", 4L),
      (9003L, "two tokens", "de", "src1", 10L),
      (9004L, "exactly three tokens", "fr", "src2", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Tables.documents(spark, Sf).limit(40).unionByName(pathological)
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("shingles returns empty arrays below n tokens, n-grams at exactly n") {
    val r = Seq("", "solo", "two tokens", "exactly three tokens").toDF("text")
      .select(TextFns.shingles(TextFns.tokens(col("text")), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(r(0) == Seq.empty && r(1) == Seq.empty && r(2) == Seq.empty)
    assert(r(3) == Seq("exactly three tokens"))
  }

  test("q105 boilerplate survives zero-gram docs with null ratio") {
    val rows = CorpusOps.q105(spark, dir).collect()
    assert(rows.nonEmpty)
    val short = rows.filter(_.getLong(0) >= 9001L)
    short.foreach { r =>
      assert(r.getAs[Int]("n_grams") == 0 || r.getLong(0) == 9004L)
      if (r.getAs[Int]("n_grams") == 0) assert(r.isNullAt(r.fieldIndex("boiler_ratio")))
    }
  }

  test("q108 funnel counts single-token docs without dividing by zero") {
    val rows = CorpusOps.q108(spark, dir).collect()
    val en = rows.find(_.getAs[String]("lang") == "en").get
    // the empty + 1-token docs are in n_total but fail the length gate
    assert(en.getAs[Long]("n_total") >= 2)
    assert(en.getAs[Long]("pass_length") <= en.getAs[Long]("n_total") - 2)
  }

  test("q113 temperature mixture completes on the skewed edge corpus") {
    val rows = PipelineOps.q113(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val kept = r.getAs[Long]("n_kept")
      assert(kept >= 0 && kept <= r.getAs[Long]("n_docs"))
    }
  }

  test("q106/q109/q110 curation ops run end-to-end on the edge corpus") {
    assert(CorpusOps.q106(spark, dir).collect().nonEmpty)
    assert(CorpusOps.q109(spark, dir).collect().nonEmpty)
    assert(CorpusOps.q110(spark, dir).collect().nonEmpty)
  }

  test("q114 scrub passes short docs through unmodified") {
    val rows = CorpusOps.q114(spark, dir).collect()
    rows.filter(_.getLong(0) >= 9001L).foreach { r =>
      assert(r.getAs[Int]("n_removed") == 0, "sub-trigram docs have nothing to scrub")
    }
  }
}
