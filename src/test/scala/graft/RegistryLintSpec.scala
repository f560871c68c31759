package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One lifecycle for session state: session-scoped caches live in
  * [[CacheRegistry]] only. A hash-code session key or a private
  * `TrieMap` anywhere else in main code brings back an unevicted,
  * double-building cache, so this scan fails on either.
  */
class RegistryLintSpec extends AnyFunSuite {

  private val Forbidden = Seq("System.identityHashCode(", "concurrent.TrieMap")
  private val Registry = Paths.get("graft", "CacheRegistry.scala")

  test("no file under src/main/scala but the registry keys or maps session state") {
    val root = Paths.get("src", "main", "scala")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(Registry)).toList
    finally walk.close()
    assert(files.size > 50, s"scan found only ${files.size} sources under $root")
    val hits = files.flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if Forbidden.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"session state outside CacheRegistry:\n${hits.mkString("\n")}")
  }
}
