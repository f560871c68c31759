package graft

import graft.jobs.{CasesTimeAnalysis, JobConfig}

/** The config-file job bootstrap — the reference's submit contract
  * (one `*config.json` per job carrying spark conf + data endpoints):
  * parse the checked-in fixture, apply its conf, and run a job
  * end-to-end from it.
  */
class JobConfigSpec extends SparkTestBase {

  private val fixture = "src/test/resources/configs/cases_time_analysis_config.json"

  test("fromJson parses conf, endpoints, and tolerates absence") {
    val cfg = JobConfig.fromJson(fixture)
    assert(cfg.sparkConf == Map("spark.sql.shuffle.partitions" -> "4"))
    assert(cfg.input.contains("src/test/resources/fixtures/cases_time.csv"))
    assert(cfg.output.contains("REPLACED_BY_SPEC"))
    // a missing config file is the reference's "No config found" path:
    // defaults, not an exception
    assert(JobConfig.fromJson("/nonexistent/nope_config.json") == JobConfig())
  }

  test("cases_time runs end-to-end from its config file") {
    val out = tempDir("jobcfg")
    val cfg = JobConfig.fromJson(fixture).copy(output = Some(out))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      CasesTimeAnalysis.run(spark, cfg)
      // conf override applied (runtime-settable key)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
      // the job's named sinks landed
      val produced = new java.io.File(out).list().toSet
      assert(produced.contains("confirmed_cases_and_deaths_globally"))
      assert(produced.contains("confirmed_cases_mortality_rates"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("a static conf key on a live session is reported, not fatal") {
    val cfg = JobConfig(sparkConf = Map("spark.driver.memory" -> "2g"))
    cfg.applyRuntimeConf(spark) // must not throw
  }
}
