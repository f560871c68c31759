package graft.jobs

import org.apache.spark.sql.SparkSession

/** The reference's config-file bootstrap, re-expressed: each job boots
  * from one JSON file shipped beside the submit script
  * (/root/reference/spark/dependencies/spark.py:40–52 loads the first
  * `*config.json` distributed via --files into a dict; e.g.
  * configs/radiography_analysis_config.json carries
  * `spark.driver.memory`). The reference's configs hold spark conf
  * overrides and leave data endpoints to convention; this mirror makes
  * both explicit so a migrated submit script carries its whole
  * contract in one file:
  *
  * {{{
  * { "sparkConf": {"spark.sql.shuffle.partitions": "32"},
  *   "input":  "/data/cases_time.csv",
  *   "inputs": {"biorxiv": "/data/biorxiv", "comm": "/data/comm"},
  *   "output": "/out/cases_time" }
  * }}}
  *
  * Every field is optional. Each job exposes `run(spark, config)`
  * beside its explicit-parameter `run`; `JobConfig.session` mirrors
  * the reference's builder-time conf application (static keys like
  * driver memory must be set BEFORE the session exists — the same
  * constraint start_spark solves by configuring the builder).
  */
final case class JobConfig(
  sparkConf: Map[String, String] = Map.empty,
  input: Option[String] = None,
  inputs: Seq[(String, String)] = Nil,
  output: Option[String] = None) {

  def requireInput(job: String): String =
    input.getOrElse(sys.error(s"$job config needs an \"input\" path"))
  def requireOutput(job: String): String =
    output.getOrElse(sys.error(s"$job config needs an \"output\" path"))

  /** Apply RUNTIME-settable conf to a live session; static keys (JVM
    * memory, extensions…) cannot take effect post-start and are
    * reported, not silently dropped — use [[JobConfig.session]] to
    * apply them the way the reference's builder does.
    */
  def applyRuntimeConf(spark: SparkSession): Unit =
    sparkConf.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          System.err.println(
            s"[jobconfig] static conf $k ignored on a live session (${e.getMessage}); " +
              "pass it via JobConfig.session instead")
      }
    }
}

object JobConfig {

  /** Parse a `*config.json`. Jackson ships with Spark — no added
    * dependency — and a missing/empty file yields the empty config,
    * matching the reference's "Warning: No config found" tolerance.
    */
  def fromJson(path: String): JobConfig = {
    val f = new java.io.File(path)
    if (!f.exists()) {
      System.err.println(s"[jobconfig] no config at $path — running with defaults")
      return JobConfig()
    }
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def strField(name: String): Option[String] =
      Option(node.get(name)).filter(_.isTextual).map(_.asText())
    def mapField(name: String): Seq[(String, String)] =
      Option(node.get(name)).filter(_.isObject).toSeq.flatMap { obj =>
        val it = obj.fields()
        Iterator.continually(if (it.hasNext) Some(it.next()) else None)
          .takeWhile(_.isDefined).flatten
          .map(e => e.getKey -> e.getValue.asText()).toSeq
      }
    JobConfig(
      sparkConf = mapField("sparkConf").toMap,
      input = strField("input"),
      inputs = mapField("inputs"),
      output = strField("output"))
  }

  /** Build a session with the config's sparkConf applied at BUILDER
    * time — the faithful mirror of start_spark's `for key, val in
    * spark_config.items(): spark_builder.config(key, val)`.
    */
  def session(appName: String, config: JobConfig, cpus: String = "4"): SparkSession = {
    val b = graft.GraftSession.builder(appName, cpus)
    config.sparkConf.foreach { case (k, v) => b.config(k, v) }
    graft.GraftSession.create(b)
  }
}
