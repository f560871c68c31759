package graft

import org.apache.spark.sql.functions._
import graft.jobs.ResearchChallengeAnalysis
import graft.jobs.ResearchChallengeAnalysis._

class ResearchJobSpec extends SparkTestBase {

  private val fixture = Seq(
    ("src/test/resources/fixtures/cord19/pdf_json", "pdf_json"))
  private lazy val df = ResearchChallengeAnalysis.transform(ResearchChallengeAnalysis.extract(spark, fixture))

  test("nested schema reads both papers with source tag") {
    assert(df.count() == 2)
    assert(df.select("source").distinct().head().getString(0) == "pdf_json")
  }

  test("paperAuthors: explode + flatten, reference's discarded filter preserved (G1)") {
    // the reference builds-then-discards the email filter — ALL
    // authors come back, including the empty-email one
    val all = paperAuthors(df).collect()
    assert(all.length == 3)
    assert(all.count(_.getAs[String]("email") == "") == 1)
    // the repaired variant applies the F5 predicate for real
    val rows = paperAuthorsNonEmpty(df).orderBy("last").collect()
    assert(rows.map(_.getAs[String]("last")).toSeq == Seq("Hopper", "Lovelace"))
    val ada = rows(1)
    assert(ada.getAs[String]("email") == "ada@example.org")
    // 4-level nested projection survived the flatten
    assert(ada.getAs[org.apache.spark.sql.Row]("affiliation")
      .getAs[org.apache.spark.sql.Row]("location")
      .getAs[String]("settlement") == "London")
  }

  test("paperAbstracts: ordered reassembly + clean + sentiment (W2/A5/D9/D10)") {
    val m = paperAbstracts(df).collect()
      .map(r => r.getAs[String]("paper_id") -> r).toMap
    val p1 = m("paper-001")
    assert(p1.getAs[String]("abstract") ==
      "Fast methods spread fast. Slow methods lag behind! We conclude with numbers 123.")
    assert(p1.getAs[Int]("words") == 13)
    assert(p1.getAs[String]("clean_abstract") ==
      "fast methods spread fast slow methods lag behind we conclude with numbers")
    assert(p1.getAs[Double]("sentiment_abstract") == 0.33) // (1+1-1)/3
    val p2 = m("paper-002")
    assert(p2.getAs[Double]("sentiment_abstract") == -0.5) // 'small'
    assert(p2.getAs[Int]("words") == 4)
  }

  test("run: exact output set, one JSON part per output, byte-identical reruns") {
    val (a, b) = JobFixtures.runTwice("research")(ResearchChallengeAnalysis.run(spark, fixture, _))
    val outputs = Set("paper_authors", "paper_abstracts")
    assert(JobFixtures.outputDirs(a) == outputs)
    val parts = JobFixtures.jsonParts(a)
    assert(parts.keySet == outputs && parts.values.forall(_.size == 1))
    assert(JobFixtures.differingOutputs(a, b).isEmpty)
  }
}
