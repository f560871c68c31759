package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFns.{rnd, rndSql}
import graft.jobs.{CasesTimeAnalysis, ClinicalAnalysis}
import graft.sources.Tables

/** The four reference jobs' RELATIONAL CORES as oracled queries — the
  * CSV-regime operator chains (SURVEY §2: P2/P3/P5, F3/F5, C5/C6,
  * D1–D3, A3/A4) previously covered only by job specs. Each query
  * builds a deterministic "job-shaped" all-string frame from the
  * driver corpus (events → cases-time shape, customer → clinical
  * shape) and pushes it through the REAL job functions
  * (CasesTimeAnalysis.transform, ClinicalAnalysis.missingValues /
  * valueDistribution / ageRelations / testResultDistribution), so the
  * green oracle row certifies the job code path itself, not a
  * lookalike.
  *
  * Output columns are re-aliased to snake_case: the job frames carry
  * the reference's header names (`SARS-Cov-2 exam result`,
  * `sum(confirmed)`), which are part of the job contract but not
  * parquet-friendly for the gate's output files.
  */
object JobCores {

  // ---------------------------------------------------------------
  // cases-time shape: events → the reference's daily-cases header
  // (cases_time_analysis.py:86-119 regime — all-string columns with
  // nulls to exercise the fill/cast chain, and a 'Mainland China'
  // slice for the C1 rename).
  // ---------------------------------------------------------------
  private def casesShaped(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      date_format(col("ts"), "yyyy-MM-dd").as("ObservationDate"),
      when(col("user_id") % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("S"), (col("user_id") % 3).cast("string")))
        .as("Province/State"),
      when(col("user_id") % 40 === 7, lit("Mainland China"))
        .otherwise(concat(lit("C"), (col("user_id") % 40).cast("string")))
        .as("Country/Region"),
      date_format(col("ts"), "yyyy-MM-dd").as("Last Update"),
      when(col("event_id") % 17 === 0, lit(null).cast("string"))
        .otherwise((col("event_id") % 1000).cast("string")).as("Confirmed"),
      when(col("event_id") % 19 === 0, lit(null).cast("string"))
        .otherwise((col("event_id") % 97).cast("string")).as("Deaths"),
      when(col("event_id") % 23 === 0, lit(null).cast("string"))
        .otherwise((col("event_id") % 53).cast("string")).as("Recovered"))

  /** The shared oracle CTE rebuilding [[casesShaped]] +
    * CasesTimeAnalysis.transform in DuckDB (fill '0' → int cast →
    * derived active → China rename).
    */
  private val casesNormCte: String =
    """raw AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS d,
      |    CASE WHEN user_id % 40 = 7 THEN 'Mainland China'
      |         ELSE 'C' || (user_id % 40)::VARCHAR END AS country,
      |    CASE WHEN event_id % 17 = 0 THEN NULL
      |         ELSE (event_id % 1000)::VARCHAR END AS confirmed_s,
      |    CASE WHEN event_id % 19 = 0 THEN NULL
      |         ELSE (event_id % 97)::VARCHAR END AS deaths_s,
      |    CASE WHEN event_id % 23 = 0 THEN NULL
      |         ELSE (event_id % 53)::VARCHAR END AS recovered_s
      |  FROM events),
      |norm AS (
      |  SELECT d, replace(country, 'Mainland China', 'China') AS country,
      |    COALESCE(confirmed_s, '0')::INT AS confirmed,
      |    COALESCE(deaths_s, '0')::INT AS deaths,
      |    COALESCE(recovered_s, '0')::INT AS recovered,
      |    COALESCE(confirmed_s, '0')::INT - COALESCE(deaths_s, '0')::INT
      |      - COALESCE(recovered_s, '0')::INT AS active
      |  FROM raw)""".stripMargin

  // ---------------------------------------------------------------
  // q94_job_mortality_topk — CasesTime's mortality-rate core
  // (cases_time_analysis.py:175-189): transform chain → latest
  // snapshot per country (W1+F4) → 4-column sum (A1 auto names) →
  // rate → top-10 → re-sort ascending (O3). Two gate-determinism
  // concessions, both documented: floor-rounding rnd() replaces
  // round() (cross-engine half-case parity) and (rate, country) is
  // the pinned sort key (top-k at equal rates is otherwise
  // tie-arbitrary between engines).
  // ---------------------------------------------------------------
  def q94(spark: SparkSession, dir: String): DataFrame = {
    val df = CasesTimeAnalysis.transform(casesShaped(spark, dir))
    val w = Window.partitionBy("country")
    val latest = df.withColumn("maxDate", max("date").over(w))
      .where(col("date") === col("maxDate"))
    latest.groupBy("country")
      .sum("confirmed", "deaths", "recovered", "active")
      .where(col("sum(confirmed)") > 0)
      .withColumn("mortality_rate",
        rnd(col("sum(deaths)").cast("double")
          / col("sum(confirmed)").cast("double") * 100, 2))
      .orderBy(desc("mortality_rate"), asc("country")).limit(10)
      .orderBy(asc("mortality_rate"), asc("country"))
      .select(col("country"),
        col("sum(confirmed)").as("sum_confirmed"),
        col("sum(deaths)").as("sum_deaths"),
        col("sum(recovered)").as("sum_recovered"),
        col("sum(active)").as("sum_active"),
        col("mortality_rate"))
  }

  val q94Sql: String =
    s"""WITH $casesNormCte,
       |latest AS (
       |  SELECT * FROM (
       |    SELECT *, MAX(d) OVER (PARTITION BY country) AS maxd FROM norm)
       |  WHERE d = maxd),
       |agg AS (
       |  SELECT country, SUM(confirmed)::BIGINT AS sum_confirmed,
       |    SUM(deaths)::BIGINT AS sum_deaths,
       |    SUM(recovered)::BIGINT AS sum_recovered,
       |    SUM(active)::BIGINT AS sum_active
       |  FROM latest GROUP BY country),
       |rated AS (
       |  SELECT *,
       |    ${rndSql("sum_deaths::DOUBLE / sum_confirmed::DOUBLE * 100", 2)}
       |      AS mortality_rate
       |  FROM agg WHERE sum_confirmed > 0),
       |top AS (
       |  SELECT * FROM rated ORDER BY mortality_rate DESC, country LIMIT 10)
       |SELECT country, sum_confirmed, sum_deaths, sum_recovered, sum_active,
       |  mortality_rate
       |FROM top ORDER BY mortality_rate ASC, country""".stripMargin

  // ---------------------------------------------------------------
  // clinical shape: customer → the reference's wide all-string
  // lab-results regime (cases_clinical_spectrum_analysis.py:74-82):
  // NULLs, 'nan' strings, categorical markers, plus two sparse
  // columns for the P5 drop.
  // ---------------------------------------------------------------
  private def clinicalShaped(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").cast("string").as("Patient ID"),
      when(col("c_custkey") % 13 === 0, lit(null).cast("string"))
        .when(col("c_custkey") % 7 === 0, lit("nan"))
        .when(col("c_custkey") % 7 <= 2, lit("positive"))
        .otherwise(lit("negative")).as("SARS-Cov-2 exam result"),
      (col("c_custkey") % 20).cast("string").as("Patient age quantile"),
      when(col("c_custkey") % 11 === 0, lit("nan"))
        .when(col("c_custkey") % 17 === 0, lit(null).cast("string"))
        .otherwise((col("c_custkey") % 160).cast("string")).as("Hemoglobin"),
      when(col("c_custkey") % 9 === 0, lit("nan"))
        .otherwise(col("c_nationkey").cast("string")).as("Leukocytes"),
      when(col("c_custkey") % 3 === 0, lit("detected"))
        .when(col("c_custkey") % 3 === 1, lit("not_detected"))
        .otherwise(lit("nan")).as("Mycoplasma pneumoniae"),
      when(col("c_custkey") % 10 === 0, (col("c_custkey") % 50).cast("string"))
        .otherwise(lit(null).cast("string")).as("D-Dimer"))

  /** DuckDB twin of [[clinicalShaped]] (ClinicalAnalysis.transform is
    * the identity here — every column is already a string).
    */
  private val clinicalCte: String =
    """shaped AS (
      |  SELECT c_custkey::VARCHAR AS patient_id,
      |    CASE WHEN c_custkey % 13 = 0 THEN NULL
      |         WHEN c_custkey % 7 = 0 THEN 'nan'
      |         WHEN c_custkey % 7 <= 2 THEN 'positive'
      |         ELSE 'negative' END AS exam_result,
      |    (c_custkey % 20)::VARCHAR AS age_quantile,
      |    CASE WHEN c_custkey % 11 = 0 THEN 'nan'
      |         WHEN c_custkey % 17 = 0 THEN NULL
      |         ELSE (c_custkey % 160)::VARCHAR END AS hemoglobin,
      |    CASE WHEN c_custkey % 9 = 0 THEN 'nan'
      |         ELSE c_nationkey::VARCHAR END AS leukocytes,
      |    CASE WHEN c_custkey % 3 = 0 THEN 'detected'
      |         WHEN c_custkey % 3 = 1 THEN 'not_detected'
      |         ELSE 'nan' END AS mycoplasma,
      |    CASE WHEN c_custkey % 10 = 0 THEN (c_custkey % 50)::VARCHAR
      |         ELSE NULL END AS d_dimer
      |  FROM customer)""".stripMargin

  /** The C6 remap as a SQL expression over an already-'0'-filled
    * column (the reference's na.replace map, :243-264).
    */
  private def remapSql(c: String): String =
    s"""CASE COALESCE($c, '0') WHEN 'nan' THEN '0' WHEN 'detected' THEN '1'
       | WHEN 'not_detected' THEN '0' WHEN 'present' THEN '1'
       | WHEN 'absent' THEN '0' WHEN 'positive' THEN '1'
       | WHEN 'negative' THEN '0' ELSE COALESCE($c, '0') END""".stripMargin

  // ---------------------------------------------------------------
  // q95_job_missing_profile — ClinicalAnalysis.missingValues (A4):
  // the per-column NULL-or-'nan' profile over the all-string frame.
  // One row; every count replayed by the oracle.
  // ---------------------------------------------------------------
  def q95(spark: SparkSession, dir: String): DataFrame =
    ClinicalAnalysis.missingValues(
      ClinicalAnalysis.transform(clinicalShaped(spark, dir)))
      .select(col("Patient ID").as("patient_id"),
        col("SARS-Cov-2 exam result").as("exam_result"),
        col("Patient age quantile").as("age_quantile"),
        col("Hemoglobin").as("hemoglobin"),
        col("Leukocytes").as("leukocytes"),
        col("Mycoplasma pneumoniae").as("mycoplasma"),
        col("D-Dimer").as("d_dimer"))

  val q95Sql: String = {
    def cnt(c: String) =
      s"COUNT(CASE WHEN $c IS NULL OR $c = 'nan' THEN 1 END) AS $c"
    s"""WITH $clinicalCte
       |SELECT ${cnt("patient_id")}, ${cnt("exam_result")},
       |  ${cnt("age_quantile")}, ${cnt("hemoglobin")}, ${cnt("leukocytes")},
       |  ${cnt("mycoplasma")}, ${cnt("d_dimer")}
       |FROM shaped""".stripMargin
  }

  // ---------------------------------------------------------------
  // q96_job_value_distribution — ClinicalAnalysis.valueDistribution
  // (P5 sparse-column drop + C5 type-directed fill + C6 categorical
  // remap), aggregated per remapped exam result so the gate output
  // stays small while every remap decision feeds a checked number.
  // ---------------------------------------------------------------
  def q96(spark: SparkSession, dir: String): DataFrame =
    ClinicalAnalysis.valueDistribution(
      ClinicalAnalysis.transform(clinicalShaped(spark, dir)))
      .groupBy(col("SARS-Cov-2 exam result").as("exam_result"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("Hemoglobin")).as("n_hemoglobin"),
        sum(col("Patient age quantile").cast("int")).as("sum_age"),
        sum(col("Leukocytes").cast("int")).as("sum_leukocytes"))
      .orderBy(col("exam_result"))

  val q96Sql: String =
    s"""WITH $clinicalCte,
       |remapped AS (
       |  SELECT ${remapSql("exam_result")} AS exam_result,
       |    ${remapSql("hemoglobin")} AS hemoglobin,
       |    ${remapSql("age_quantile")} AS age_quantile,
       |    ${remapSql("leukocytes")} AS leukocytes
       |  FROM shaped)
       |SELECT exam_result, COUNT(*) AS n,
       |  COUNT(DISTINCT hemoglobin) AS n_hemoglobin,
       |  SUM(age_quantile::INT)::BIGINT AS sum_age,
       |  SUM(leukocytes::INT)::BIGINT AS sum_leukocytes
       |FROM remapped GROUP BY exam_result ORDER BY exam_result""".stripMargin

  // ---------------------------------------------------------------
  // q97_job_age_relations — ClinicalAnalysis.ageRelations (D1: the
  // positive/negative indicator when-chains over the RAW string
  // result) + aggregateAgeResult's max/avg shape (A3), grouped to a
  // bounded output. avg(int) is exact on both engines (integer sum,
  // one double division).
  // ---------------------------------------------------------------
  def q97(spark: SparkSession, dir: String): DataFrame =
    ClinicalAnalysis.ageRelations(
      ClinicalAnalysis.transform(clinicalShaped(spark, dir)))
      .groupBy(col("result"), col("positive"), col("negative"))
      .agg(count(lit(1)).as("n"), max(col("age")).as("max_age"),
        avg(col("age")).as("avg_age"))
      .orderBy(col("result"))

  val q97Sql: String =
    s"""WITH $clinicalCte
       |SELECT exam_result AS result,
       |  CASE WHEN exam_result = 'positive' THEN '1' ELSE '0' END AS positive,
       |  CASE WHEN exam_result = 'negative' THEN '1' ELSE '0' END AS negative,
       |  COUNT(*) AS n, MAX(age_quantile::INT) AS max_age,
       |  AVG(age_quantile::INT) AS avg_age
       |FROM shaped GROUP BY 1, 2, 3 ORDER BY result""".stripMargin

  // ---------------------------------------------------------------
  // q98_job_test_result_dist — ClinicalAnalysis.testResultDistribution
  // (the D3 string-vs-int quirk preserved from the reference: every
  // non-null row labels 'Positive test result').
  // ---------------------------------------------------------------
  def q98(spark: SparkSession, dir: String): DataFrame =
    ClinicalAnalysis.testResultDistribution(
      ClinicalAnalysis.transform(clinicalShaped(spark, dir)))
      .select(col("result"), col("count").as("n"))
      .orderBy(col("result"))

  val q98Sql: String =
    s"""WITH $clinicalCte
       |SELECT CASE WHEN exam_result IS NOT NULL THEN 'Positive test result'
       |            ELSE 'Negative test result' END AS result,
       |  COUNT(*) AS n
       |FROM shaped GROUP BY 1 ORDER BY result""".stripMargin

  // ---------------------------------------------------------------
  // q115_job_europe_snapshot — CasesTimeAnalysis.confirmedCasesEurope
  // (cases_time_analysis.py:154-165): drop state, filter to the
  // European country list, latest snapshot per country (W1+F4), sum
  // confirmed. To exercise the isin(europe) filter against the REAL
  // 42-name list, the shaped frame maps a deterministic slice of
  // user_ids onto eight European names; everything else keeps the
  // synthetic C* names and is filtered out — the part the query
  // certifies. No limit ⇒ no tie concession needed (the gate hashes
  // row-sorted).
  // ---------------------------------------------------------------
  private val euSample = Seq("Serbia", "Norway", "Italy", "France",
    "Spain", "Germany", "Austria", "Greece")

  private def europeShaped(spark: SparkSession, dir: String): DataFrame = {
    val eu = element_at(array(euSample.map(lit): _*),
      (col("user_id") % 8).cast("int") + 1)
    Tables.events(spark, dir).select(
      date_format(col("ts"), "yyyy-MM-dd").as("ObservationDate"),
      when(col("user_id") % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("S"), (col("user_id") % 3).cast("string")))
        .as("Province/State"),
      when(col("user_id") % 3 === 0, eu)
        .when(col("user_id") % 40 === 7, lit("Mainland China"))
        .otherwise(concat(lit("C"), (col("user_id") % 40).cast("string")))
        .as("Country/Region"),
      date_format(col("ts"), "yyyy-MM-dd").as("Last Update"),
      when(col("event_id") % 17 === 0, lit(null).cast("string"))
        .otherwise((col("event_id") % 1000).cast("string")).as("Confirmed"),
      when(col("event_id") % 19 === 0, lit(null).cast("string"))
        .otherwise((col("event_id") % 97).cast("string")).as("Deaths"),
      when(col("event_id") % 23 === 0, lit(null).cast("string"))
        .otherwise((col("event_id") % 53).cast("string")).as("Recovered"))
  }

  /** [[casesNormCte]] twin for [[europeShaped]]. */
  private val euNormCte: String = {
    val euList = euSample.map(s => s"'$s'").mkString("[", ", ", "]")
    """raw AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS d,
      |    CASE WHEN user_id % 3 = 0
      |           THEN (EULIST)[(user_id % 8)::INT + 1]
      |         WHEN user_id % 40 = 7 THEN 'Mainland China'
      |         ELSE 'C' || (user_id % 40)::VARCHAR END AS country,
      |    CASE WHEN event_id % 17 = 0 THEN NULL
      |         ELSE (event_id % 1000)::VARCHAR END AS confirmed_s
      |  FROM events),
      |norm AS (
      |  SELECT d, replace(country, 'Mainland China', 'China') AS country,
      |    COALESCE(confirmed_s, '0')::INT AS confirmed
      |  FROM raw)""".stripMargin.replace("EULIST", euList)
  }

  def q115(spark: SparkSession, dir: String): DataFrame =
    CasesTimeAnalysis.confirmedCasesEurope(
      CasesTimeAnalysis.transform(europeShaped(spark, dir)))
      .select(col("country"), col("sum(confirmed)").as("sum_confirmed"))

  val q115Sql: String =
    s"""WITH $euNormCte,
       |latest AS (
       |  SELECT * FROM (
       |    SELECT *, MAX(d) OVER (PARTITION BY country) AS maxd FROM norm
       |    WHERE country IN (${euSample.map(s => s"'$s'").mkString(", ")}))
       |  WHERE d = maxd)
       |SELECT country, SUM(confirmed)::BIGINT AS sum_confirmed
       |FROM latest GROUP BY country ORDER BY country""".stripMargin

  // ---------------------------------------------------------------
  // q116_job_recovery_topk — the recovery-rate dual of q94
  // (cases_time_analysis.py:193-207): same latest-snapshot → 4-sum →
  // rate → top-10 → re-sort chain with recovered/confirmed. Same two
  // documented gate concessions as q94: floor-parity rnd() and the
  // pinned (rate, country) tiebreak.
  // ---------------------------------------------------------------
  def q116(spark: SparkSession, dir: String): DataFrame = {
    val df = CasesTimeAnalysis.transform(casesShaped(spark, dir))
    val w = Window.partitionBy("country")
    val latest = df.withColumn("maxDate", max("date").over(w))
      .where(col("date") === col("maxDate"))
    latest.groupBy("country")
      .sum("confirmed", "deaths", "recovered", "active")
      .where(col("sum(confirmed)") > 0)
      .withColumn("recovery_rate",
        rnd(col("sum(recovered)").cast("double")
          / col("sum(confirmed)").cast("double") * 100, 2))
      .orderBy(desc("recovery_rate"), asc("country")).limit(10)
      .orderBy(asc("recovery_rate"), asc("country"))
      .select(col("country"),
        col("sum(confirmed)").as("sum_confirmed"),
        col("sum(deaths)").as("sum_deaths"),
        col("sum(recovered)").as("sum_recovered"),
        col("sum(active)").as("sum_active"),
        col("recovery_rate"))
  }

  val q116Sql: String =
    s"""WITH $casesNormCte,
       |latest AS (
       |  SELECT * FROM (
       |    SELECT *, MAX(d) OVER (PARTITION BY country) AS maxd FROM norm)
       |  WHERE d = maxd),
       |agg AS (
       |  SELECT country, SUM(confirmed)::BIGINT AS sum_confirmed,
       |    SUM(deaths)::BIGINT AS sum_deaths,
       |    SUM(recovered)::BIGINT AS sum_recovered,
       |    SUM(active)::BIGINT AS sum_active
       |  FROM latest GROUP BY country),
       |rated AS (
       |  SELECT *,
       |    ${rndSql("sum_recovered::DOUBLE / sum_confirmed::DOUBLE * 100", 2)}
       |      AS recovery_rate
       |  FROM agg WHERE sum_confirmed > 0),
       |top AS (
       |  SELECT * FROM rated ORDER BY recovery_rate DESC, country LIMIT 10)
       |SELECT country, sum_confirmed, sum_deaths, sum_recovered, sum_active,
       |  recovery_rate
       |FROM top ORDER BY recovery_rate ASC, country""".stripMargin

  // ---------------------------------------------------------------
  // q117_job_sample_percentages — RadiographyAnalysis
  // .percentageOfSamples (radiography_analysis.py:107-112): per-class
  // image counts with percentage of total. The radiography-shaped
  // frame derives label + nullable image from part (1-in-50 images
  // null, so count('image') ≠ count(*) is actually exercised). The
  // percentage division mirrors exactly: (count / window-total) * 100,
  // one IEEE divide + one multiply on both engines.
  // ---------------------------------------------------------------
  private val radioLabels =
    Seq("Normal", "COVID", "Lung_Opacity", "Viral Pneumonia")

  private def radioShaped(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      element_at(array(radioLabels.map(lit): _*),
        (col("p_partkey") % 4).cast("int") + 1).as("label"),
      when(col("p_partkey") % 50 =!= 0,
        struct(lit(299).as("height"), lit(299).as("width"))).as("image"))

  def q117(spark: SparkSession, dir: String): DataFrame =
    graft.jobs.RadiographyAnalysis.percentageOfSamples(
      radioShaped(spark, dir))

  val q117Sql: String = {
    val labels = radioLabels.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH r AS (
       |  SELECT ($labels)[(p_partkey % 4)::INT + 1] AS label,
       |    CASE WHEN p_partkey % 50 <> 0 THEN 1 END AS img
       |  FROM part),
       |a AS (SELECT label, COUNT(img) AS "count" FROM r GROUP BY label)
       |SELECT label, "count",
       |  ("count"::DOUBLE / (SUM("count") OVER ())::DOUBLE) * 100 AS percentage
       |FROM a ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------
  // q118/q119/q120 — the daily-series named outputs:
  // confirmedCasesAndDeathsGlobally (:122-125), per-country series
  // (:128-153, China exercises the rename path too), and the
  // recovered/deaths/active comparison (:168-172). Sum columns
  // re-aliased from the contractual auto names for the parquet gate.
  // ---------------------------------------------------------------
  def q118(spark: SparkSession, dir: String): DataFrame =
    CasesTimeAnalysis.confirmedCasesAndDeathsGlobally(
      CasesTimeAnalysis.transform(casesShaped(spark, dir)))
      .select(col("date"), col("sum(confirmed)").as("sum_confirmed"),
        col("sum(deaths)").as("sum_deaths"))

  val q118Sql: String =
    s"""WITH $casesNormCte
       |SELECT d AS date, SUM(confirmed)::BIGINT AS sum_confirmed,
       |  SUM(deaths)::BIGINT AS sum_deaths
       |FROM norm GROUP BY d ORDER BY d""".stripMargin

  def q119(spark: SparkSession, dir: String): DataFrame =
    CasesTimeAnalysis.confirmedCasesByCountry(
      CasesTimeAnalysis.transform(casesShaped(spark, dir)), "China")
      .select(col("date"), col("sum(confirmed)").as("sum_confirmed"))

  val q119Sql: String =
    s"""WITH $casesNormCte
       |SELECT d AS date, SUM(confirmed)::BIGINT AS sum_confirmed
       |FROM norm WHERE country = 'China' GROUP BY d ORDER BY d""".stripMargin

  def q120(spark: SparkSession, dir: String): DataFrame =
    CasesTimeAnalysis.confirmedCasesComparison(
      CasesTimeAnalysis.transform(casesShaped(spark, dir)))
      .select(col("date"), col("sum(recovered)").as("sum_recovered"),
        col("sum(deaths)").as("sum_deaths"),
        col("sum(active)").as("sum_active"))

  val q120Sql: String =
    s"""WITH $casesNormCte
       |SELECT d AS date, SUM(recovered)::BIGINT AS sum_recovered,
       |  SUM(deaths)::BIGINT AS sum_deaths, SUM(active)::BIGINT AS sum_active
       |FROM norm GROUP BY d ORDER BY d""".stripMargin

  def declared: Seq[Query] = Seq(
    Query("q94_job_mortality_topk", q94, q94Sql),
    Query("q95_job_missing_profile", q95, q95Sql),
    Query("q96_job_value_distribution", q96, q96Sql),
    Query("q97_job_age_relations", q97, q97Sql),
    Query("q98_job_test_result_dist", q98, q98Sql),
    Query("q115_job_europe_snapshot", q115, q115Sql),
    Query("q116_job_recovery_topk", q116, q116Sql),
    Query("q117_job_sample_percentages", q117, q117Sql),
    Query("q118_job_global_daily", q118, q118Sql),
    Query("q119_job_country_series", q119, q119Sql),
    Query("q120_job_comparison_daily", q120, q120Sql))
}
