package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import graft.io.Writers
import graft.jobs.ResearchChallengeAnalysis

/** The contract of `Writers.singleFileJsonAll` / `Writers.concurrently`. */
class ConcurrentWritesSpec extends SparkTestBase {

  private def poolThreads: Int = Thread.getAllStackTraces.keySet.asScala
    .count(t => t.isAlive && t.getName.startsWith(Writers.PoolThreadPrefix))

  private def tmp(): String = tempDir("concurrent_writes")

  private def written(dir: String): Boolean = new File(dir, "_SUCCESS").exists()

  test("all outputs are written, and no pool thread outlives the call") {
    val out = tmp()
    val dirs = (0 until 6).map(i => s"$out/o$i")
    Writers.singleFileJsonAll(spark, dirs.zipWithIndex.map { case (d, i) =>
      d -> (() => spark.range(i + 1).toDF())
    })
    dirs.zipWithIndex.foreach { case (d, i) =>
      assert(spark.read.json(d).count() == i + 1)
    }
    assert(poolThreads == 0)
  }

  test("a failure names the first failing output in declared order, after every write finished") {
    val out = tmp()
    val err = intercept[RuntimeException] {
      Writers.singleFileJsonAll(spark, Seq(
        s"$out/ok" -> (() => spark.range(3).toDF()),
        s"$out/fails_late" -> (() => { Thread.sleep(500); throw new IllegalStateException("late") }),
        s"$out/slow" -> (() => { Thread.sleep(1500); spark.range(5).toDF() }),
        s"$out/fails_early" -> (() => throw new IllegalStateException("early"))))
    }
    assert(err.getMessage.startsWith(s"$out/fails_late failed"), err.getMessage)
    assert(err.getCause.getMessage == "late")
    assert(written(s"$out/ok") && written(s"$out/slow"),
      "the call returned before the other writes finished")
    assert(poolThreads == 0)
  }

  test("every job a run starts carries the caller's job group") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("concurrent-writes-group", "research run")
      try ResearchChallengeAnalysis.run(spark,
        Seq(("src/test/resources/fixtures/cord19/pdf_json", "pdf_json")), tmp())
      finally sc.clearJobGroup()
      // a marker job after the run: once the listener has seen it, it
      // has seen every job the run started
      sc.setJobGroup("concurrent-writes-marker", "marker")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (!groups.contains(Some("concurrent-writes-marker")) && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    val seen = groups.asScala.toSeq
    val runJobs = seen.takeWhile(_ != Some("concurrent-writes-marker"))
    assert(seen.contains(Some("concurrent-writes-marker")))
    assert(runJobs.nonEmpty && runJobs.forall(_.contains("concurrent-writes-group")), runJobs)
  }

  test("cancelJobGroup cancels a running call") {
    val sc = spark.sparkContext
    val group = "concurrent-writes-cancel"
    val stall = udf { (x: Long) => Thread.sleep(120000); x }
    def stalled(): DataFrame = spark.range(0, 4, 1, 4).select(stall(col("id")).as("id"))
    val out = tmp()
    val started = System.nanoTime()
    val call = Future {
      sc.setJobGroup(group, "stalled writes", interruptOnCancel = true)
      try Writers.singleFileJsonAll(spark, Seq(s"$out/a" -> (() => stalled()), s"$out/b" -> (() => stalled())))
      finally sc.clearJobGroup()
    }
    val deadline = System.nanoTime() + 60.seconds.toNanos
    while (sc.statusTracker.getJobIdsForGroup(group).length < 2 && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(group).length == 2,
      "both writes' jobs should run under the caller's group")
    sc.cancelJobGroup(group)
    val err = intercept[RuntimeException](Await.result(call, 60.seconds))
    assert(err.getMessage.startsWith(s"$out/a failed"), err.getMessage)
    assert(err.getMessage.contains("cancel"), err.getMessage)
    assert((System.nanoTime() - started).nanos < 100.seconds, "the stalled tasks were not cancelled")
    assert(poolThreads == 0)
  }

  test("nested calls with more tasks than cores do not deadlock") {
    val n = spark.sparkContext.defaultParallelism + 2
    val sums = Future {
      Writers.concurrently(spark, (0 until n).map { i =>
        s"outer$i" -> (() => Writers.concurrently(spark, (0 until n).map { j =>
          s"inner$i.$j" -> (() => spark.range(i * n + j).count())
        }).sum)
      })
    }
    val expected = (0 until n).map(i => (0 until n).map(j => (i * n + j).toLong).sum)
    assert(Await.result(sums, 3.minutes) == expected)
    assert(poolThreads == 0)
  }
}
