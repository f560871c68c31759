package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scans for six single-mechanism rules. Session-scoped caches
  * live in [[CacheRegistry]] only: a hash-code session key or a private
  * `TrieMap` anywhere else in main code brings back an unevicted,
  * double-building cache. Each query is one `Query(name, build,
  * oracleSql)` record: a module keeping name-keyed twin maps again
  * could pair a name with no oracle. Stream checkpoints come from
  * `EventStreams.withCheckpoint` only: a hand-placed checkpoint
  * directory, or one left to a shutdown hook, outlives its run. Spark's
  * `JavaUtils.deleteRecursively` forks `rm -rf` on Unix, so engine code
  * deletes through Java; only the stress main still uses it. GenLog
  * names each member `def` once (one `Seq[String]` partition-key
  * signature per write verb, no single-column forwarders), and one
  * `GenZoned` serves one or two tracked columns: no `GenZoned2` twin.
  * GenLog also reads, lists and resolves one way: one merge-on-read
  * reader applies deletion vectors (a hand-written copy drifts and
  * serves deleted rows), one helper lists the log, and one snapshot
  * type holds a resolved state. HyperLogLog is one aggregate,
  * `HllSketch`, whose two fields pick the four input/output forms, and
  * the DuckDB register fold is written once, next to it: a second
  * aggregate class or a hand-copied fold is a twin that can drift.
  */
class RegistryLintSpec extends AnyFunSuite {

  private val Forbidden = Seq("System.identityHashCode(", "concurrent.TrieMap")
  private val Registry = Paths.get("graft", "CacheRegistry.scala")
  private val CheckpointHelper = Paths.get("graft", "streaming", "EventStreams.scala")
  private val StressMain = Paths.get("graft", "ScaleStress.scala")
  private val GenLogSrc = Paths.get("src", "main", "scala", "graft", "io", "GenLog.scala")
  private val HllSrc = Paths.get("graft", "functions", "HllSketch.scala")

  /** `path:line: text` for every line of the Scala sources under
    * `root` (bar `skip`) that contains one of `needles`. */
  private def scan(root: Path, minFiles: Int, needles: Seq[String],
      skip: Path => Boolean = _ => false): List[String] = {
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !skip(p)).toList
    finally walk.close()
    assert(files.size > minFiles, s"scan found only ${files.size} sources under $root")
    files.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if needles.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
      }
    }
  }

  test("no file under src/main/scala but the registry keys or maps session state") {
    val hits = scan(Paths.get("src", "main", "scala"), 50, Forbidden, _.endsWith(Registry))
    assert(hits.isEmpty, s"session state outside CacheRegistry:\n${hits.mkString("\n")}")
  }

  test("no query module declares twin queries/oracles maps") {
    val hits = scan(Paths.get("src", "main", "scala", "graft", "queries"), 20,
      Seq("def oracles", "type Q ="))
    assert(hits.isEmpty, s"twin query maps in query modules:\n${hits.mkString("\n")}")
  }

  test("stream checkpoints are placed and removed by the one scoped helper") {
    val main = Paths.get("src", "main", "scala")
    val placed = scan(main, 50, Seq("graft-ckpt"), _.endsWith(CheckpointHelper))
    assert(placed.isEmpty, s"checkpoint base outside the helper:\n${placed.mkString("\n")}")
    val hooks = scan(main, 50, Seq("addShutdownHook"))
    assert(hooks.isEmpty, s"shutdown hooks in main:\n${hooks.mkString("\n")}")
  }

  test("no main code but the stress main deletes through a forked rm") {
    val hits = scan(Paths.get("src", "main", "scala"), 50, Seq("JavaUtils.deleteRecursively"),
      _.endsWith(StressMain))
    assert(hits.isEmpty, s"forking deletes in main:\n${hits.mkString("\n")}")
  }

  test("GenLog declares each member def once, and no GenZoned2 twin exists in main") {
    val Member = """  (?:private\[graft\] |private )?def (\w+).*""".r
    val names = Files.readAllLines(GenLogSrc).asScala.toList.collect { case Member(n) => n }
    assert(names.size > 40, s"scan found only ${names.size} GenLog members")
    val twice = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(twice.isEmpty, s"GenLog defs declared more than once: ${twice.mkString(", ")}")
    val twins = scan(Paths.get("src", "main", "scala"), 50, Seq("GenZoned2"))
    assert(twins.isEmpty, s"GenZoned2 in main:\n${twins.mkString("\n")}")
  }

  test("GenLog has one deletion-vector reader, one log listing and one snapshot type") {
    val lines = Files.readAllLines(GenLogSrc).asScala.toList
    val rowIndex = lines.count(_.contains("_metadata.row_index"))
    assert(rowIndex == 1,
      s"_metadata.row_index appears $rowIndex times in GenLog, want 1 (the merge-on-read reader)")
    val main = Paths.get("src", "main", "scala")
    val calls = scan(main, 50, Seq("listLog(")).filterNot(_.contains("def listLog("))
    val helper = lines.indexWhere(_.contains("def logOf("))
    val inHelper = calls.size == 1 && calls.head.startsWith(s"$GenLogSrc:") && {
      val at = calls.head.split(":")(1).toInt - 1
      helper >= 0 && at > helper && !lines.slice(helper + 1, at).exists(_.startsWith("  }"))
    }
    assert(inHelper, s"listLog( called outside logOf:\n${calls.mkString("\n")}")
    val states = scan(main, 50, Seq("class CkptState", "class GenState"))
    assert(states.isEmpty, s"second snapshot state type in main:\n${states.mkString("\n")}")
  }

  test("HyperLogLog is one aggregate class, and its DuckDB register fold is written once") {
    val main = Paths.get("src", "main", "scala")
    val aggs = scan(main, 50, Seq("TypedImperativeAggregate[Array[Byte]]", "case class Hll"))
    // one `case class HllSketch(` line and its one `extends` line
    assert(aggs.size == 2 && aggs.forall(_.contains(s"$HllSrc:")),
      s"HLL aggregate classes in main, want only HllSketch:\n${aggs.mkString("\n")}")
    val Fold = "SUM(1::BIGINT << ("
    val folds = scan(main, 50, Seq(Fold))
    assert(folds.size == 1 && folds.head.contains(s"$HllSrc:"),
      s"register-fold SQL outside HllSketch.scala:\n${folds.mkString("\n")}")
  }
}
