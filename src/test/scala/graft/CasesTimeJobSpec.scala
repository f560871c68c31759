package graft

import org.apache.spark.sql.functions._
import graft.jobs.CasesTimeAnalysis
import graft.jobs.CasesTimeAnalysis._

class CasesTimeJobSpec extends SparkTestBase {

  private val fixture = "src/test/resources/fixtures/cases_time.csv"
  private lazy val df = CasesTimeAnalysis.transform(CasesTimeAnalysis.extract(spark, fixture))

  test("transform: renames, fills, active derivation, China rename") {
    assert(df.columns.toSet == Set("date", "state", "country", "last_updated",
      "confirmed", "deaths", "recovered", "active"))
    val china = df.filter(col("country") === "China").orderBy("date").collect()
    assert(china.length == 2 && china(0).getAs[Int]("confirmed") == 1000)
    // empty Norway row filled to 0
    val norway3 = df.filter(col("country") === "Norway" && col("date") === "2020-03-03").head()
    assert(norway3.getAs[Int]("confirmed") == 0 && norway3.getAs[Int]("active") == 0)
    // active = confirmed - deaths - recovered
    val serbia1 = df.filter(col("country") === "Serbia" && col("date") === "2020-03-01").head()
    assert(serbia1.getAs[Int]("active") == 7)
  }

  test("global sums keep the contractual sum(x) column names") {
    val g = confirmedCasesAndDeathsGlobally(df)
    assert(g.columns.toSeq == Seq("date", "sum(confirmed)", "sum(deaths)"))
    val day1 = g.filter(col("date") === "2020-03-01").head()
    assert(day1.getAs[Long]("sum(confirmed)") == 1124L)
    assert(day1.getAs[Long]("sum(deaths)") == 61L)
  }

  test("window-latest mortality rates with top-k-then-resort") {
    val m = mortalityRates(df).collect()
      .map(r => r.getAs[String]("country") -> Option(r.getAs[Double]("mortalityRate")))
      .toMap
    assert(m("Serbia").contains(10.0))
    assert(m("Croatia").contains(16.67))
    assert(m("China").contains(5.45))
    assert(m("Slovenia").contains(0.0))
  }

  test("time series for forecast countries") {
    val ts = timeSeries(df).collect()
    assert(ts.map(r => r.getAs[String]("ds") -> r.getAs[Long]("y")).toMap ==
      Map("2020-03-01" -> 19L, "2020-03-02" -> 38L, "2020-03-03" -> 30L))
  }

  test("futurePredictions: exact-line Serbia forecast continues the trend") {
    val f = futurePredictions(df, horizon = 2)
      .filter(col("country") === "Serbia").orderBy("ds").collect()
    assert(f.length == 2)
    assert(f(0).getAs[String]("ds") == "2020-03-04")
    assert(math.abs(f(0).getAs[Double]("yhat") - 40.0) < 1e-6)
    assert(math.abs(f(1).getAs[Double]("yhat") - 50.0) < 1e-6)
    // perfect fit → zero-width bands
    assert(math.abs(f(0).getAs[Double]("yhat_upper") - f(0).getAs[Double]("yhat_lower")) < 1e-6)
  }

  test("futureForecasting: include_history contract — history refit + horizon") {
    val f = futureForecasting(df, horizon = 2)
      .filter(col("country") === "Serbia").collect()
    // 3 observed days re-predicted + 2 future days
    assert(f.length == 5)
    // contract schema (reference result_schema: country, ds, yhat, yhat_upper, yhat_lower)
    val ff = futureForecasting(df, horizon = 2)
    assert(ff.columns.toSeq == Seq("country", "ds", "yhat", "yhat_upper", "yhat_lower"))
    assert(ff.schema("ds").dataType.typeName == "timestamp")
    // perfect linear fixture: history refit reproduces the observations
    val byDs = f.map(r => r.getAs[java.sql.Timestamp]("ds").toString.take(10) ->
      r.getAs[Double]("yhat")).toMap
    assert(math.abs(byDs("2020-03-01") - 10.0) < 1e-6)
    assert(math.abs(byDs("2020-03-03") - 30.0) < 1e-6)
    assert(math.abs(byDs("2020-03-05") - 50.0) < 1e-6)
  }

  test("timeSeriesTestData: deterministic ~20% split of the time series") {
    val full = timeSeries(df).collect().map(_.getAs[String]("ds")).toSet
    val test = timeSeriesTestData(df).collect()
    assert(test.map(_.getAs[String]("ds")).toSet.subsetOf(full))
    assert(timeSeriesTestData(df).columns.toSeq == Seq("ds", "y"))
    // deterministic: two evaluations agree
    assert(timeSeriesTestData(df).collect().toSeq == test.toSeq)
  }

  test("run writes single-file JSON outputs") {
    val out = tempDir("cases_time_out")
    CasesTimeAnalysis.run(spark, fixture, out)
    val dir = new java.io.File(s"$out/confirmed_cases_and_deaths_globally")
    val parts = dir.listFiles().filter(_.getName.endsWith(".json"))
    assert(parts.length == 1, "coalesce(1) must produce exactly one json file")
    assert(new java.io.File(s"$out/future_predictions").exists())
    assert(new java.io.File(s"$out/future_forecasting").exists())
    assert(new java.io.File(s"$out/time_series_test_data").exists())
  }
}
