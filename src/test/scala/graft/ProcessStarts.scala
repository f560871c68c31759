package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

/** Process starts seen by the JVM's flight recorder (`jdk.ProcessStart`,
  * with stacks), for specs that pin which code paths may fork.
  */
object ProcessStarts {

  /** `body`'s value and every process started while it ran, by any thread. */
  def during[A](body: => A): (A, Seq[RecordedEvent]) = {
    val rec = new Recording()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(file)
      (out, RecordingFile.readAllEvents(file).asScala.toSeq)
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** Whether some frame of `e`'s stack runs in a class named with one of `prefixes`. */
  def from(e: RecordedEvent, prefixes: String*): Boolean =
    frames(e).exists(t => prefixes.exists(t.startsWith))

  /** The command and the top stack frames, for failure messages. */
  def describe(e: RecordedEvent): String =
    s"${e.getString("command")} <- ${frames(e).take(8).mkString(" <- ")}"

  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).map { f =>
      s"${f.getMethod.getType.getName}.${f.getMethod.getName}"
    }
}
