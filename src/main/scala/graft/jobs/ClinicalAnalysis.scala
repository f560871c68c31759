package graft.jobs

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.{DecisionTreeClassifier, GBTClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Readers, Writers}

/** The clinical-spectrum ETL job — re-expression of
  * /root/reference/spark/jobs/cases_clinical_spectrum_analysis.py:
  * wide lab-results CSV (all columns re-cast to string) → null/value
  * normalization (C5/C6 semantics) → profiles + four-classifier ML
  * comparison (M1-M6). The broken 9-col∪1-col union (U2) is resolved
  * the way the Databricks variant does: assemble features on the full
  * frame (databricks-cluster/.../cases_clinical_spectrum_analysis
  * .py:125-146).
  */
object ClinicalAnalysis {

  val featureCols: Seq[String] = Seq(
    "Hemoglobin", "Hematocrit", "Platelets", "Eosinophils",
    "Red blood Cells", "Lymphocytes", "Leukocytes", "Basophils", "Monocytes")

  val admissionCols: Seq[String] = Seq(
    "Patient addmited to regular ward (1=yes, 0=no)",
    "Patient addmited to semi-intensive unit (1=yes, 0=no)",
    "Patient addmited to intensive care unit (1=yes, 0=no)")

  val sparseCols: Seq[String] = Seq(
    "Mycoplasma pneumoniae", "Urine - Sugar",
    "Prothrombin time (PT), Activity", "D-Dimer",
    "Fio2 (venous blood gas analysis)", "Urine - Nitrite", "Vitamin B12")

  def extract(spark: SparkSession, path: String): DataFrame =
    Readers.csvAllString(spark, path)

  /** All columns re-cast to string (:74-82) — the reference's uniform
    * string regime that the later fill/replace semantics depend on.
    */
  def transform(df: DataFrame): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c => col(c).cast("string").as(c)): _*)

  /** C5/C6 + C2 — fill "nan"→"0" then round (:86-91). */
  def hemoglobinValues(df: DataFrame): DataFrame =
    df.na.fill("0", Seq("Hemoglobin"))
      .na.replace("Hemoglobin", Map("nan" -> "0"))
      .select(round(col("Hemoglobin").cast("double"), 2).as("Hemoglobin"))

  def redBloodCellsValues(df: DataFrame): DataFrame =
    df.na.fill("0", Seq("Red blood Cells"))
      .na.replace("Red blood Cells", Map("nan" -> "0"))
      .select(round(col("Red blood Cells").cast("double"), 2).as("Red blood Cells"))

  /** A3 — age aggregates per test result (:112-119). */
  def aggregateAgeResult(df: DataFrame): DataFrame =
    df.withColumn("age", col("Patient age quantile").cast("int"))
      .withColumnRenamed("SARS-Cov-2 exam result", "result")
      .groupBy("result")
      .agg(max("age"), avg("age"))
      .orderBy("result")

  /** D1 — positive/negative indicator expressions, no UDFs
    * (:128-146, 267-278).
    */
  def ageRelations(df: DataFrame): DataFrame =
    df.withColumnRenamed("SARS-Cov-2 exam result", "result")
      .withColumn("age", col("Patient age quantile").cast("int"))
      .withColumn("positive", when(col("result") === "positive", "1").otherwise("0"))
      .withColumn("negative", when(col("result") === "negative", "1").otherwise("0"))
      .select("result", "age", "positive", "negative")

  /** D2+P5+K2/S4 — numeric result, admission columns dropped, with
    * the reference's parquet materialization round-trip (:147-158,
    * 115-118).
    */
  def careRelations(df: DataFrame, tmpParquet: String): DataFrame = {
    val mapped = df
      .withColumn("result",
        when(col("SARS-Cov-2 exam result") === "negative", 0).otherwise(1))
      .drop(admissionCols: _*)
    Writers.parquet(mapped, tmpParquet)
    Readers.parquetViaSql(mapped.sparkSession, tmpParquet)
      .filter(col("result") === 1)
  }

  /** A4 — per-column missing-value profile (:220-225). */
  def missingValues(df: DataFrame): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      count(when(col(c).isNull || col(c) === "nan", c)).as(c)): _*)

  /** C6 — categorical value remap + numeric fill (:243-264). */
  def valueDistribution(df: DataFrame): DataFrame = {
    val kept = df.drop(sparseCols: _*)
    val strCols = kept.columns.filterNot(_ == "Patient ID")
    kept
      .na.fill("0", strCols)
      .na.replace(strCols.toIndexedSeq,
        Map("nan" -> "0", "detected" -> "1", "not_detected" -> "0",
          "present" -> "1", "absent" -> "0",
          "positive" -> "1", "negative" -> "0"))
  }

  /** D3 quirk preserved (:281-285): the reference compares the string
    * result to int 0 in Python, which is always false — every row
    * labels 'Positive test result'. Kept bit-faithful for parity.
    */
  def testResultDistribution(df: DataFrame): DataFrame =
    df.withColumn("result",
      when(col("SARS-Cov-2 exam result").isNotNull,
        lit("Positive test result")).otherwise(lit("Negative test result")))
      .groupBy("result").count()

  /** M1 — the classifiers' input: the 9 feature columns as doubles
    * (unparseable → 0.0) assembled into `features`, with a 0/1 `label`
    * from the remapped exam result.
    */
  def features(df: DataFrame): DataFrame = {
    val labeled = valueDistribution(df)
      .withColumn("label",
        when(col("SARS-Cov-2 exam result") === "1", 1.0).otherwise(0.0))
    val numeric = featureCols.foldLeft(labeled) { (d, c) =>
      d.withColumn(c, coalesce(col(c).cast("double"), lit(0.0)))
    }
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      .transform(numeric)
      .select("features", "label")
  }

  /** M1-M6 — the four-classifier accuracy comparison (:160-216):
    * assemble 9 features, seeded 80/20 split (seed=2020, :173), fit
    * RF/DT/LR/GBT concurrently, evaluate accuracy. Returns 4 rows
    * (value) in RF, DT, LR, GBT order. The assembled features are
    * cached for the fits and released before returning.
    */
  def predictions(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val assembled = features(df).cache()
    try {
      val Array(train, test) = assembled.randomSplit(Array(0.8, 0.2), seed = 2020)
      val evaluator = new MulticlassClassificationEvaluator()
        .setMetricName("accuracy")
      val fits: Seq[(String, () => Transformer)] = Seq(
        "RandomForestClassifier" -> (() => new RandomForestClassifier().setMaxDepth(5).fit(train)),
        "DecisionTreeClassifier" -> (() => new DecisionTreeClassifier().setMaxDepth(3).fit(train)),
        "LogisticRegression" -> (() => new LogisticRegression().setMaxIter(10).fit(train)),
        "GBTClassifier" -> (() => new GBTClassifier().fit(train)))
      val accs = Writers.concurrently(spark, fits.map { case (name, fit) =>
        name -> (() => evaluator.evaluate(fit().transform(test)))
      })
      accs.toDF("value")
    } finally assembled.unpersist()
  }

  /** Config-file bootstrap — the reference's one-JSON-per-job submit
    * contract (spark.py:40–52 + configs/cases_clinical_spectrum_config.json).
    */
  def run(spark: SparkSession, config: JobConfig): Unit = {
    config.applyRuntimeConf(spark)
    run(spark, config.requireInput("clinical"), config.requireOutput("clinical"))
  }

  def run(spark: SparkSession, inputCsv: String, outDir: String): Unit = {
    val df = transform(extract(spark, inputCsv))
    Writers.singleFileJsonAll(spark, Seq(
      s"$outDir/hemoglobin_values" -> (() => hemoglobinValues(df)),
      s"$outDir/red_blood_cells_values" -> (() => redBloodCellsValues(df)),
      s"$outDir/aggregate_age_result" -> (() => aggregateAgeResult(df)),
      s"$outDir/age_relations" -> (() => ageRelations(df)),
      s"$outDir/care_relations" -> (() => careRelations(df, s"$outDir/temporary.parquet")),
      s"$outDir/predictions_missing_values" -> (() => missingValues(df)),
      s"$outDir/predictions_value_distribution" -> (() => valueDistribution(df)),
      s"$outDir/predictions_test_result_distribution" -> (() => testResultDistribution(df)),
      s"$outDir/predictions" -> (() => predictions(df))))
  }
}
