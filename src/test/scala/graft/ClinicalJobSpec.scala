package graft

import org.apache.spark.sql.functions._
import graft.jobs.ClinicalAnalysis
import graft.jobs.ClinicalAnalysis._

class ClinicalJobSpec extends SparkTestBase {

  private val fixture = "src/test/resources/fixtures/clinical.csv"
  private lazy val df = ClinicalAnalysis.transform(ClinicalAnalysis.extract(spark, fixture))

  test("all columns are strings after transform") {
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("aggregate age per result") {
    val m = aggregateAgeResult(df).collect()
      .map(r => r.getString(0) -> (r.getAs[Int]("max(age)"), r.getAs[Double]("avg(age)")))
      .toMap
    assert(m("negative")._1 == 18)
    assert(m("positive")._1 == 14)
    assert(math.abs(m("negative")._2 - 71.0 / 6) < 1e-9)
  }

  test("age relations indicator expressions (D1 as when/otherwise)") {
    val r = ageRelations(df).filter(col("age") === 9).head()
    assert(r.getAs[String]("positive") == "1" && r.getAs[String]("negative") == "0")
  }

  test("missing-value profile counts nan strings") {
    val r = missingValues(df).head()
    assert(r.getAs[Long]("Hemoglobin") == 1L)   // p4
    assert(r.getAs[Long]("Hematocrit") == 1L)   // p1
    assert(r.getAs[Long]("Mycoplasma pneumoniae") == 12L) // all nan
  }

  test("value distribution remaps categoricals (C6 na.replace)") {
    val vals = valueDistribution(df).select("Influenza A").distinct()
      .collect().map(_.getString(0)).toSet
    assert(vals == Set("0", "1"))
  }

  test("hemoglobin rounding after nan fill") {
    val vals = hemoglobinValues(df).collect().map(_.getDouble(0)).toSet
    assert(vals.contains(-0.13)) // round(-0.125, 2) HALF_UP
    assert(vals.contains(0.24))  // round(0.236589, 2)
  }

  test("test result distribution preserves the D3 string-vs-int quirk") {
    val rows = testResultDistribution(df).collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "Positive test result")
    assert(rows(0).getAs[Long]("count") == 12L)
  }

  test("four-classifier predictions return accuracies in [0,1]") {
    val accs = predictions(df).collect().map(_.getDouble(0))
    assert(accs.length == 4)
    assert(accs.forall(a => a >= 0.0 && a <= 1.0))
  }

  test("careRelations round-trips through parquet (K2/S4)") {
    val out = tempDir("clinical_tmp")
    val c = careRelations(df, s"$out/temporary.parquet")
    assert(c.count() == 6) // positive rows
    assert(!c.columns.contains(admissionCols.head))
  }

  test("predictions: RF, DT, LR, GBT rows equal models fitted one after another") {
    import org.apache.spark.ml.classification._
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    val assembled = features(df).cache()
    val sequential = try {
      val Array(train, test) = assembled.randomSplit(Array(0.8, 0.2), seed = 2020)
      val evaluator = new MulticlassClassificationEvaluator().setMetricName("accuracy")
      val rf = evaluator.evaluate(new RandomForestClassifier().setMaxDepth(5).fit(train).transform(test))
      val dt = evaluator.evaluate(new DecisionTreeClassifier().setMaxDepth(3).fit(train).transform(test))
      val lr = evaluator.evaluate(new LogisticRegression().setMaxIter(10).fit(train).transform(test))
      val gbt = evaluator.evaluate(new GBTClassifier().fit(train).transform(test))
      Seq(rf, dt, lr, gbt)
    } finally assembled.unpersist()
    assert(predictions(df).collect().map(_.getDouble(0)).toSeq == sequential)
  }

  test("run: exact output set, one JSON part per output, byte-identical reruns") {
    val outputs = Set("hemoglobin_values", "red_blood_cells_values", "aggregate_age_result",
      "age_relations", "care_relations", "predictions_missing_values",
      "predictions_value_distribution", "predictions_test_result_distribution", "predictions")
    val (a, b) = JobFixtures.runTwice(tempDir("clinical"))(ClinicalAnalysis.run(spark, fixture, _))
    // temporary.parquet is careRelations' K2 round-trip, not a JSON output
    assert(JobFixtures.outputDirs(a) == outputs + "temporary.parquet")
    val parts = JobFixtures.jsonParts(a)
    assert(parts.keySet == outputs && parts.values.forall(_.size == 1))
    assert(JobFixtures.differingOutputs(a, b).isEmpty)
  }
}
