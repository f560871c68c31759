package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.{Readers, Writers}
import graft.operators.Forecast

/** The cases-time ETL job — idiomatic Scala re-expression of
  * /root/reference/spark/jobs/cases_time_analysis.py (main at :15-83):
  * daily case counts CSV → 14 named JSON outputs. Each transform is a
  * pure, individually-testable DataFrame function, preserving the
  * reference's idempotent-transform architecture (README.md:38-42).
  *
  * Output column names (`sum(confirmed)`, `mortalityRate`, `ds`, `y`,
  * `yhat`…) are the downstream consumer's contract (FIXTURES.md §5)
  * and are reproduced exactly — including Spark's auto-generated
  * `sum(x)` aggregate names.
  */
object CasesTimeAnalysis {

  /** Countries on the European snapshot list
    * (cases_time_analysis.py:317-324).
    */
  val europe: Seq[String] = Seq(
    "Albania", "Andorra", "Austria", "Belarus", "Belgium",
    "Bosnia and Herzegovina", "Bulgaria", "Croatia", "Czech Republic",
    "Denmark", "Estonia", "Finland", "France", "Germany", "Greece",
    "Hungary", "Iceland", "Ireland", "Italy", "Latvia", "Liechtenstein",
    "Lithuania", "Luxembourg", "Malta", "Moldova", "Monaco", "Montenegro",
    "Netherlands", "North Macedonia", "Norway", "Poland", "Portugal",
    "Romania", "San Marino", "Serbia", "Slovakia", "Slovenia", "Spain",
    "Sweden", "Switzerland", "Ukraine", "United Kingdom")

  val forecastCountries: Seq[String] =
    Seq("Serbia", "Croatia", "Slovenia", "Montenegro")

  /** E — cases_time_analysis.py:86-89. */
  def extract(spark: SparkSession, path: String): DataFrame =
    Readers.csvAllString(spark, path)

  /** Normalization chain (:92-119): renames, fills, derived `active`,
    * int casts, Mainland China→China. `active` is derived after the
    * int casts (the reference derives on strings then casts — the
    * post-cast integer results are identical).
    */
  def transform(df: DataFrame): DataFrame = {
    val renamed = Seq(
      "ObservationDate" -> "date", "Province/State" -> "state",
      "Country/Region" -> "country", "Last Update" -> "last_updated",
      "Confirmed" -> "confirmed", "Deaths" -> "deaths",
      "Recovered" -> "recovered")
      .foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    renamed
      .na.fill("", Seq("state"))
      .na.fill("0", Seq("confirmed", "deaths", "recovered"))
      .withColumn("confirmed", col("confirmed").cast("int"))
      .withColumn("deaths", col("deaths").cast("int"))
      .withColumn("recovered", col("recovered").cast("int"))
      .withColumn("active", col("confirmed") - col("deaths") - col("recovered"))
      .withColumn("country", regexp_replace(col("country"), "Mainland China", "China"))
  }

  /** A1/O1 — groupBy date, sum confirmed+deaths (:122-125). The
    * auto-generated `sum(confirmed)` naming is contractual.
    */
  def confirmedCasesAndDeathsGlobally(df: DataFrame): DataFrame =
    df.groupBy("date").sum("confirmed", "deaths").orderBy("date")

  /** F1 — per-country daily confirmed (:128-153, one per country). */
  def confirmedCasesByCountry(df: DataFrame, country: String): DataFrame =
    df.filter(col("country") === country)
      .groupBy("date").sum("confirmed").orderBy("date")

  /** W1+F4 latest-snapshot idiom (:156-165): max(date) over country,
    * keep rows at the max, then rank countries.
    */
  private def latestPerCountry(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("country")
    df.withColumn("maxDate", max("date").over(w))
      .where(col("date") === col("maxDate"))
  }

  def confirmedCasesEurope(df: DataFrame): DataFrame =
    latestPerCountry(df.drop("state").filter(col("country").isin(europe: _*)))
      .groupBy("country").sum("confirmed")
      .orderBy(desc("sum(confirmed)"))

  /** A1 — recovered/deaths/active comparison (:168-172). */
  def confirmedCasesComparison(df: DataFrame): DataFrame =
    df.groupBy("date").sum("recovered", "deaths", "active").orderBy("date")

  /** O3 top-k-then-resort (:175-189): top-10 mortality, presented
    * ascending. TakeOrderedAndProject — no global sort.
    */
  def mortalityRates(df: DataFrame): DataFrame =
    latestPerCountry(df)
      .groupBy("country").sum("confirmed", "deaths", "recovered", "active")
      // try_divide: ANSI mode (Spark 4 default) errors on 0/0; the
      // reference ran pre-ANSI where this yields null — preserved.
      .withColumn("mortalityRate",
        round(try_divide(col("sum(deaths)"), col("sum(confirmed)")) * 100, 2))
      .orderBy(desc("mortalityRate")).limit(10)
      .orderBy(asc("mortalityRate"))

  def recoveryRates(df: DataFrame): DataFrame =
    latestPerCountry(df)
      .groupBy("country").sum("confirmed", "deaths", "recovered", "active")
      .withColumn("recoveryRate",
        round(try_divide(col("sum(recovered)"), col("sum(confirmed)")) * 100, 2))
      .orderBy(desc("recoveryRate")).limit(10)
      .orderBy(asc("recoveryRate"))

  /** F2+A6 — forecast-country time series as (ds, y) (:212-223). */
  def timeSeries(df: DataFrame): DataFrame =
    df.filter(col("country").isin(forecastCountries: _*))
      .groupBy("date").sum("confirmed")
      .withColumnRenamed("date", "ds")
      .withColumnRenamed("sum(confirmed)", "y")
      .orderBy("ds")

  /** The reference's time-series test split
    * (cases_time_analysis.py:226-233): `np.random.rand(len) < 0.8`
    * selects train rows driver-side; the test remainder (~20%) is
    * re-lifted into a DataFrame. The reference split is UNSEEDED
    * (SURVEY.md §5 nondeterminism risk) — deliberately re-expressed
    * as a deterministic md5-hash-of-ds split: same ~20% expected
    * fraction, stable across runs/engines, and fully distributed (no
    * toPandas round-trip — at 100 TB the reference's driver-side
    * split is impossible).
    */
  def timeSeriesTestData(df: DataFrame): DataFrame =
    timeSeries(df)
      .where(pmod(conv(substring(md5(col("ds")), 1, 15), 16, 10).cast("long"),
        lit(5L)) === 0L)
      .orderBy("ds")

  def timeSeriesByCountries(df: DataFrame): DataFrame =
    df.filter(col("country").isin(forecastCountries: _*))
      .select("date", "confirmed", "country")
      .dropDuplicates()
      .orderBy("date", "country")

  /** D11 — per-country forecast via the typed flatMapGroups OLS
    * operator (Prophet replacement, SURVEY.md §7.3); output contract
    * columns country/ds/yhat/yhat_upper/yhat_lower.
    */
  def futurePredictions(df: DataFrame, horizon: Int = 30): DataFrame = {
    import df.sparkSession.implicits._
    val pts = df.filter(col("country").isin(forecastCountries: _*))
      .groupBy(col("country").as("key"),
        datediff(to_date(col("date")), to_date(lit("1970-01-01")))
          .cast("long").as("t"))
      .agg(sum(col("confirmed")).cast("long").as("y"))
      .as[Forecast.TrendPoint]
    Forecast.linearForecast(pts, horizon).toDF()
      .select(col("key").as("country"),
        date_format(date_add(to_date(lit("1970-01-01")), col("t").cast("int")),
          "yyyy-MM-dd").as("ds"),
        col("yhat"), col("yhat_upper"), col("yhat_lower"))
      .orderBy(col("country"), col("ds"))
  }

  /** D11 per-country forecast INCLUDING history — the reference's
    * future_forecasting output (grouped-map Prophet with
    * make_future_dataframe(periods=90, include_history=True),
    * cases_time_analysis.py:260-306), re-expressed through the same
    * deterministic OLS operator as [[futurePredictions]]. Contract
    * columns (country, ds timestamp, yhat, yhat_upper, yhat_lower)
    * match result_schema at :277-285 — the shape
    * visualization/scripts/cases_time_visualization.py:242-267 reads.
    */
  def futureForecasting(df: DataFrame, horizon: Int = 90): DataFrame = {
    import df.sparkSession.implicits._
    val pts = df.filter(col("country").isin(forecastCountries: _*))
      .select("date", "confirmed", "country").dropDuplicates()
      .groupBy(col("country").as("key"),
        datediff(to_date(col("date")), to_date(lit("1970-01-01")))
          .cast("long").as("t"))
      .agg(sum(col("confirmed")).cast("long").as("y"))
      .as[Forecast.TrendPoint]
    Forecast.linearForecastWithHistory(pts, horizon).toDF()
      .select(col("key").as("country"),
        to_timestamp(date_add(to_date(lit("1970-01-01")), col("t").cast("int")))
          .as("ds"),
        col("yhat"), col("yhat_upper"), col("yhat_lower"))
      .orderBy(col("country"), col("ds"))
  }

  /** Config-file bootstrap — the reference's one-JSON-per-job submit
    * contract (spark.py:40–52 + configs/cases_time_analysis_config.json).
    */
  def run(spark: SparkSession, config: JobConfig): Unit = {
    config.applyRuntimeConf(spark)
    run(spark, config.requireInput("cases_time"), config.requireOutput("cases_time"))
  }

  /** Full job: extract → transform → 14 named sinks (:15-83, :309-314),
    * written concurrently.
    */
  def run(spark: SparkSession, inputCsv: String, outDir: String): Unit = {
    val df = transform(extract(spark, inputCsv))
    Writers.singleFileJsonAll(spark, Seq(
      s"$outDir/confirmed_cases_and_deaths_globally" -> (() => confirmedCasesAndDeathsGlobally(df)),
      s"$outDir/confirmed_cases_serbia" -> (() => confirmedCasesByCountry(df, "Serbia")),
      s"$outDir/confirmed_cases_norway" -> (() => confirmedCasesByCountry(df, "Norway")),
      s"$outDir/confirmed_cases_italy" -> (() => confirmedCasesByCountry(df, "Italy")),
      s"$outDir/confirmed_cases_china" -> (() => confirmedCasesByCountry(df, "China")),
      s"$outDir/confirmed_cases_europe" -> (() => confirmedCasesEurope(df)),
      s"$outDir/confirmed_cases_comparison" -> (() => confirmedCasesComparison(df)),
      s"$outDir/confirmed_cases_mortality_rates" -> (() => mortalityRates(df)),
      s"$outDir/confirmed_cases_recovery_rates" -> (() => recoveryRates(df)),
      s"$outDir/time_series" -> (() => timeSeries(df)),
      s"$outDir/time_series_by_countries" -> (() => timeSeriesByCountries(df)),
      s"$outDir/time_series_test_data" -> (() => timeSeriesTestData(df)),
      s"$outDir/future_predictions" -> (() => futurePredictions(df)),
      s"$outDir/future_forecasting" -> (() => futureForecasting(df))))
  }
}
