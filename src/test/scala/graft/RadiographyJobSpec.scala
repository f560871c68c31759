package graft

import org.apache.spark.sql.functions._
import graft.jobs.RadiographyAnalysis
import graft.jobs.RadiographyAnalysis._

class RadiographyJobSpec extends SparkTestBase {

  private lazy val imgDir: String = JobFixtures.radiographyImages(tempDir("radiography"))

  private lazy val df = RadiographyAnalysis.transform(RadiographyAnalysis.extract(spark, imgDir)).cache()

  test("image scans drop invalid files; 299x299 filter applies (S3/F3)") {
    assert(df.count() == 48) // 4 classes x 12; offsize + corrupt gone
  }

  test("percentage of samples per class (A3 via window total)") {
    val rows = percentageOfSamples(df).collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[Double]("percentage") == 25.0))
    assert(rows.forall(_.getAs[Long]("count") == 12L))
  }

  test("takeSamples: one representative per class, origin stripped (D6/D8/A6)") {
    val rows = takeSamples(df).collect()
    assert(rows.map(_.getAs[String]("class_name")).toSet == classNames.toSet)
    assert(rows.forall(!_.getAs[String]("origin").startsWith("file:")))
  }

  test("colourDistribution: fused byte stats on constant images (D4)") {
    val rows = colourDistribution(df).collect()
    assert(rows.length == 48)
    rows.foreach { r =>
      assert(r.getAs[Float]("min") == r.getAs[Float]("max"))
      assert(r.getAs[Float]("standard_deviation") == 0.0f)
      assert(r.getAs[Float]("mean") == r.getAs[Float]("min"))
    }
  }

  test("mlClassification: RF on byte-stat features (M1/M2/M6/M7)") {
    val row = mlClassification(df).head()
    val acc = row.getAs[Double]("accuracy")
    assert(acc >= 0.0 && acc <= 1.0)
    // the matrix covers the labels present in the (seeded) test split
    val matrix = row.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("matrix")
    assert(matrix.nonEmpty && matrix.length <= 4)
    assert(matrix.forall(_.length == matrix.length), "confusion matrix must be square")
  }

  test("binaryFile reader runs the same pipeline: filter, stats parity (S3 scale path)") {
    val dfBin = RadiographyAnalysis.transform(
      RadiographyAnalysis.extractBinary(spark, imgDir)).cache()
    assert(dfBin.count() == 48) // same dropInvalid + 299x299 semantics
    val a = percentageOfSamples(dfBin).collect()
    assert(a.length == 4 && a.forall(_.getAs[Double]("percentage") == 25.0))
    // byte stats agree with the built-in image source reader per class
    val statsOf = (d: org.apache.spark.sql.DataFrame) =>
      colourDistribution(d).groupBy("label")
        .agg(round(sum("mean"), 3).as("m"), round(sum("standard_deviation"), 3).as("s"))
        .collect().map(r => (r.getAs[Int]("label"), r.getAs[Double]("m"), r.getAs[Double]("s")))
        .toSet
    assert(statsOf(dfBin) == statsOf(df))
  }

  test("transferLearning: fit -> save -> load -> broadcast score, pinned metrics (M8/K4)") {
    val modelPath = tempDir("head") + "/head.txt"
    val scored = transferLearning(df, modelPath).cache()
    try {
      val rows = scored.collect()
      assert(rows.length == 48)
      // the fixture classes are linearly separable on byte-mean, so
      // the fitted head must classify its own training set perfectly —
      // a pinned metric, not a threshold
      val correct = rows.count(r => r.getAs[Int]("predicted") == r.getAs[Int]("label"))
      assert(correct == 48, s"expected 48/48 correct, got $correct")
      rows.foreach { r =>
        val p = r.getAs[scala.collection.Seq[Float]]("prediction")
        assert(p.length == 4 && math.abs(p.sum - 1.0f) < 1e-5)
      }
      // artifact round-trip is bit-exact and the fit is deterministic:
      // a second end-to-end run writes the identical artifact
      val saved = graft.operators.TransferHead.load(modelPath)
      val modelPath2 = modelPath + ".rerun"
      transferLearning(df, modelPath2).count()
      assert(graft.operators.TransferHead.load(modelPath2) == saved,
        "refit produced different weights — fit is not deterministic")
    } finally scored.unpersist()
  }

  test("dlInference: load-once batched stub scorer (D12)") {
    val preds = dlInference(df, sample = 10, batchSize = 4).collect()
    assert(preds.length == 10)
    preds.foreach { r =>
      val p = r.getAs[scala.collection.Seq[Float]]("prediction")
      assert(p.length == 4)
      assert(math.abs(p.sum - 1.0f) < 1e-5)
    }
  }

  // last: run releases its cache of the input, which has the same plan
  // as this suite's cached `df`
  test("run: exact output set, one JSON part per output, byte-identical reruns") {
    val (a, b) = JobFixtures.runTwice(tempDir("radiography"))(RadiographyAnalysis.run(spark, imgDir, _))
    val outputs = Set("percentage_of_samples", "take_samples", "colour_distribution",
      "ml_classification", "dl_inference")
    assert(JobFixtures.outputDirs(a) == outputs)
    val parts = JobFixtures.jsonParts(a)
    assert(parts.keySet == outputs && parts.values.forall(_.size == 1))
    assert(JobFixtures.differingOutputs(a, b).isEmpty)
  }
}
