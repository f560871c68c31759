package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress}
import graft.queries.StreamingQueries
import graft.streaming.EventStreams

/** A stream replay runs as many state partitions as its backlog's
  * source scan has splits, capped at `spark.sql.shuffle.partitions`.
  * The count never changes a replay's rows.
  */
class ReplayStatePartsSpec extends SparkTestBase {

  private def stateParts(progress: Seq[StreamingQueryProgress]): Set[Long] =
    progress.flatMap(_.stateOperators.toSeq.map(_.numShufflePartitions)).toSet

  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)

  /** `body`'s value and the progress events of the streams it ran. */
  private def withProgress[A](body: => A): (A, Seq[StreamingQueryProgress]) = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    @volatile var started, terminated = 0
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started += 1
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated += 1
    }
    spark.streams.addListener(listener)
    try {
      val value = body
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while ((started == 0 || terminated < started) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(started > 0 && terminated == started, "the replay's events never arrived")
      (value, progress.asScala.toSeq)
    } finally spark.streams.removeListener(listener)
  }

  private def tumbling(s: SparkSession): DataFrame =
    EventStreams.tumblingHourly(EventStreams.readEvents(s, Sf))

  test("q42 and q63 keep one state partition on the one-file backlog, with the rows of an 8-partition run") {
    val cases = Seq(
      ("q42", () => StreamingQueries.q42(spark, Sf), () => tumbling(spark),
        OutputMode.Complete()),
      ("q63", () => StreamingQueries.q63(spark, Sf),
        () => EventStreams.purchaseClickJoin(spark, Sf), OutputMode.Append()))
    cases.foreach { case (q, declared, stream, mode) =>
      val (rows, progress) = withProgress(declared().collect().toSeq)
      assert(stateParts(progress) == Set(1L), s"$q state partitions")
      val (pinned, pinnedProgress) =
        EventStreams.runToMemoryTracked(stream(), s"sizing_${q}_pinned", mode, Some(8))
      assert(stateParts(pinnedProgress.toSeq) == Set(8L))
      assert(rows.nonEmpty && sorted(rows) == sorted(pinned.collect().toSeq),
        s"$q rows must not depend on the state-partition count")
    }
  }

  test("a backlog forced to several splits gets min(splits, shuffle partitions)") {
    val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val oneSplit = sorted(EventStreams.runToMemory(tumbling(spark), "sizing_one").collect().toSeq)
    Seq(10000L, 4096L).foreach { maxBytes =>
      val s = spark.newSession()
      s.conf.set("spark.sql.files.maxPartitionBytes", maxBytes)
      val schema = graft.sources.Tables.table(s, Sf, "events").schema
      val splits = s.read.schema(schema).parquet(s"$Sf/events.parquet").rdd.getNumPartitions
      assert(splits > 1, s"fixture: $maxBytes-byte splits must cut the events file")
      val (out, progress) = EventStreams.runToMemoryTracked(
        tumbling(s), s"sizing_split_$maxBytes", OutputMode.Complete())
      assert(stateParts(progress.toSeq) == Set(math.min(splits, shuffleParts).toLong),
        s"$splits splits")
      assert(sorted(out.collect().toSeq) == oneSplit)
    }
  }

  test("sizing lists the backlog and starts no Spark job") {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", 10000L)
    Seq(tumbling(spark) -> 1, EventStreams.purchaseClickJoin(spark, Sf) -> 1,
      tumbling(s) -> 3).foreach { case (df, want) =>
      assert(JobCount(spark)(EventStreams.backlogStateParts(df)) == ((want, 0)))
    }
  }

  test("a replay with a non-file streaming source keeps the session's shuffle partitions") {
    val rate = spark.readStream.format("rate").load()
    assert(EventStreams.backlogStateParts(rate) ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}
