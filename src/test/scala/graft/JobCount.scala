package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. */
object JobCount {

  /** `body`'s value and the number of jobs started while it ran. A
    * marker job after `body` bounds the count: once the listener has
    * seen the marker start, it has seen every job `body` started.
    */
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = "job-count-marker"
    val jobs = new AtomicInteger
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen = true
        else if (!markerSeen) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val value = body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
      assert(markerSeen, "the marker job never reached the listener")
      (value, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
