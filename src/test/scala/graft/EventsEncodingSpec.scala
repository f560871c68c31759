package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** The events corpus's physical `ts` encoding has changed between
  * driver generations — TIMESTAMP(NANOS) (readable only as Long via
  * SPARK-40819) in early corpora, plain TIMESTAMP(MICROS) (arriving
  * as TIMESTAMP_NTZ) in later ones. Round 5 lost 22 batch queries and
  * all 7 streaming oracles to that swap, so this spec pins the
  * adaptive dispatch: whatever the file carries, [[Tables.events]]
  * and [[graft.streaming.EventStreams.readEvents]] must surface a
  * zone-aware TimestampType `ts` holding the same instants.
  */
class EventsEncodingSpec extends SparkTestBase {

  /** Write an events-shaped parquet whose `ts` physical type is
    * chosen by `mode`, returning its directory. Spark cannot WRITE
    * TIMESTAMP(NANOS), so the long-nanos fixture stands in for it:
    * both arrive in the scan as LongType, which is the branch the
    * escape hatch dispatches on.
    */
  private def writeFixture(mode: String): String = {
    import spark.implicits._
    val dir = new java.io.File(tempDir(s"graft-events-$mode"))
    // the third event sits 4h past the first two so the 2h watermark
    // finalizes (and Append-mode emits) their windows in the replay
    val base = Seq(
      (1L, 1704067200000000L, 7L, "click", 1.5, """{"k": 1}"""),
      (2L, 1704070800000000L, 7L, "purchase", 2.5, """{"k": 2}"""),
      (3L, 1704085200000000L, 8L, "view", 0.5, """{"k": 3}"""))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val withTs = mode match {
      case "long-nanos" => base.withColumn("ts", col("us") * 1000L)
      case "ntz-micros" =>
        base.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      case "tz-micros" => base.withColumn("ts", timestamp_micros(col("us")))
    }
    // the real corpus ships events.parquet as a single flat FILE and
    // readEvents globs on that leaf name — write to a scratch dir and
    // move the one part file into place
    val scratch = s"$dir/_scratch"
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file under $scratch"))
    Files.move(part.toPath, new java.io.File(dir, "events.parquet").toPath)
    dir.getAbsolutePath
  }

  private val Modes = Seq("long-nanos", "ntz-micros", "tz-micros")

  test("Tables.events normalizes every ts encoding to the same instants") {
    // epoch millis, zone-free (Timestamp.toString renders in the JVM
    // default zone, which this assertion must not depend on)
    val expected = Seq(1704067200000L, 1704070800000L, 1704085200000L)
    Modes.foreach { mode =>
      val df = Tables.events(spark, writeFixture(mode))
      assert(df.schema("ts").dataType == TimestampType,
        s"$mode must surface a zone-aware timestamp")
      val got = df.orderBy("event_id").collect().map(_.getTimestamp(1).getTime)
      assert(got.sameElements(expected),
        s"$mode instants drifted: ${got.mkString(", ")}")
    }
  }

  test("streaming readEvents accepts every encoding and keeps watermarks legal") {
    Modes.foreach { mode =>
      val dir = writeFixture(mode)
      val stream = graft.streaming.EventStreams.readEvents(spark, dir)
      assert(stream.isStreaming)
      assert(stream.schema("ts").dataType == TimestampType,
        s"$mode streaming ts must be zone-aware for watermarks")
      // the watermark analyzer rejects non-TIMESTAMP event time at
      // ANALYSIS time — resolving and running the windowed plan is the
      // regression check (Complete mode: emission is
      // watermark-independent, the q42 replay contract)
      val counted = graft.streaming.EventStreams.tumblingHourly(stream)
      // pinned at 2: each encoding's rows cross a shuffle into two state stores
      val out = graft.streaming.EventStreams.runToMemory(
        counted, s"enc_${mode.replace('-', '_')}",
        org.apache.spark.sql.streaming.OutputMode.Complete(), stateParts = Some(2))
      val rows = out.collect()
      assert(rows.map(_.getAs[Long]("n")).sum == 3L,
        s"$mode lost events through the streaming path")
    }
  }
}
