package graft

import graft.jobs.CasesTimeAnalysis
import graft.queries.StreamingQueries
import graft.streaming.EventStreams
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.streaming.OutputMode

/** A repeated run reuses the generated code of the last one. Every
  * stream runs on a clone of the session; if a clone's tasks ran under
  * a classloader of their own, `CodeGenerator`'s cache (keyed by
  * classloader and source) would miss and each replay would compile
  * its whole-stage classes again. So every session of the context must
  * run its tasks under one classloader, and the cache must hold a
  * whole job's classes.
  */
class SharedClassLoaderSpec extends SparkTestBase {

  /** The context classloader of the task thread that evaluates a row,
    * as `class@identity`. Nondeterministic, so the optimizer does not
    * fold the argument-less call into a constant on the driver.
    */
  private val taskLoader = udf { () =>
    val l = Thread.currentThread().getContextClassLoader
    s"${l.getClass.getName}@${Integer.toHexString(System.identityHashCode(l))}"
  }.asNondeterministic()

  private def batchLoaders(s: SparkSession): Set[String] =
    s.range(0, 8, 1, 4).select(taskLoader().as("loader"))
      .distinct().collect().map(_.getString(0)).toSet

  private def replayLoaders(n: Int): Set[String] = {
    val out = EventStreams.runToMemory(
      EventStreams.readEvents(spark, Sf).select(taskLoader().as("loader")),
      s"task_loader_$n", OutputMode.Append())
    out.distinct().collect().map(_.getString(0)).toSet
  }

  private def compiledBy(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def compiled(df: => DataFrame): Long = compiledBy(assert(df.collect().nonEmpty))

  test("a second identical q42 replay compiles no generated class") {
    compiled(StreamingQueries.q42(spark, Sf))
    val again = compiled(StreamingQueries.q42(spark, Sf))
    assert(again == 0, s"the second q42 replay compiled $again classes")
  }

  test("replays and a new session run tasks under the suite session's classloader") {
    val batch = batchLoaders(spark)
    assert(batch.size == 1, s"batch tasks ran under $batch")
    val seen = (1 to 3).map(n => s"replay $n" -> replayLoaders(n)) :+
      ("newSession batch" -> batchLoaders(spark.newSession()))
    val foreign = seen.filter(_._2 != batch)
    assert(foreign.isEmpty,
      s"suite batch tasks ran under ${batch.head}; " +
        foreign.map { case (what, ls) => s"$what under ${ls.mkString(", ")}" }.mkString("; "))
  }

  test("a second CasesTimeAnalysis.run in one session compiles at most a handful of classes") {
    val fixture = "src/test/resources/fixtures/cases_time.csv"
    val out = tempDir("codegen-cache")
    compiledBy(CasesTimeAnalysis.run(spark, fixture, s"$out/first"))
    val again = compiledBy(CasesTimeAnalysis.run(spark, fixture, s"$out/second"))
    assert(again <= 5, s"the second cases_time run compiled $again classes")
    info(s"the second run compiled $again classes")
  }
}
