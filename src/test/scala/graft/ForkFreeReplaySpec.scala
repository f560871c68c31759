package graft

import graft.queries.StreamingQueries

/** A stream replay pays for plan work, not for `fork(2)`: no process
  * may start from Hadoop or graft code while q42 replays its backlog
  * (checkpoint, offset-log and state-store files, then the checkpoint's
  * delete). Spark's own forks, e.g. its session-cleanup `rm`, are not
  * this engine's to remove. [[LocalFsParitySpec]] shows the recording
  * does see Hadoop's forks.
  */
class ForkFreeReplaySpec extends SparkTestBase {

  private val Owned = Seq("org.apache.hadoop.", "graft.")

  test("a q42 replay starts no process from Hadoop or graft code") {
    spark.range(1).count() // session start is not the replay's
    val (rows, starts) = ProcessStarts.during(StreamingQueries.q42(spark, Sf).collect())
    assert(rows.nonEmpty)
    val owned = starts.filter(ProcessStarts.from(_, Owned: _*))
    assert(owned.isEmpty,
      s"${owned.size} process starts during the replay:\n" +
        owned.take(5).map(ProcessStarts.describe).mkString("\n"))
  }
}
