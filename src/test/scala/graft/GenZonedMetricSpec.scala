package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.GenLog.FileStat
import graft.io.GenZoned

/** The clustering metric and the partial rewrite's file choice as pure
  * functions of hand-built per-file stats — no session, no files. The
  * degenerate domains (a zero-width dimension, an all-point table) are
  * pinned here because no real layout produces them.
  */
class GenZonedMetricSpec extends AnyFunSuite {

  private def stat(file: String, rows: Long, envs: (String, (Long, Long))*) =
    FileStat(file, rows, envs.toMap)

  test("1-D quality is the row-weighted mean width over the live domain") {
    val s = Seq(stat("a", 100, "t" -> (0L, 10L)), stat("b", 50, "t" -> (10L, 40L)),
      stat("c", 7, "t" -> (0L, 100L)))
    val expected = (100.0 * 10 + 50.0 * 30 + 7.0 * 100) / 157 / 100
    assert(math.abs(GenZoned.quality(s, Seq("t")) - expected) < 1e-12)
    // the domain is the live envelope's span, not the value range of 0
    val shifted = s.map(f => f.copy(cols = f.cols.map { case (c, (lo, hi)) =>
      c -> (lo + 1000, hi + 1000) }))
    assert(math.abs(GenZoned.quality(shifted, Seq("t")) - expected) < 1e-12)
  }

  test("a zero-width dimension contributes 0, and an all-point table scores 0.0") {
    // one point for every file: the domain itself is zero-width
    assert(GenZoned.quality(Seq(stat("a", 3, "t" -> (5L, 5L)),
      stat("b", 4, "t" -> (5L, 5L))), Seq("t")) == 0.0)
    // points at distinct values: a real domain, every width zero
    assert(GenZoned.quality(Seq(stat("a", 3, "t" -> (1L, 1L)),
      stat("b", 4, "t" -> (9L, 9L))), Seq("t")) == 0.0)
    // in 2-D the zero-width dimension drops out and the other decides
    val s = Seq(stat("a", 1, "t" -> (0L, 50L), "u" -> (7L, 7L)),
      stat("b", 3, "t" -> (50L, 100L), "u" -> (7L, 7L)))
    assert(math.abs(GenZoned.quality(s, Seq("t", "u")) - 0.5) < 1e-12)
    assert(GenZoned.quality(s, Seq("u")) == 0.0)
    assert(GenZoned.decayed(s, Seq("u"), 0.0).isEmpty)
  }

  test("2-D: each file's worse dimension decides") {
    // a: tight in t, full in u; b: the mirror; c: a quarter of each
    val s = Seq(
      stat("a", 10, "t" -> (0L, 10L), "u" -> (0L, 1000L)),
      stat("b", 30, "t" -> (0L, 100L), "u" -> (0L, 100L)),
      stat("c", 60, "t" -> (50L, 75L), "u" -> (500L, 600L)))
    val expected = (10 * 1.0 + 30 * 1.0 + 60 * math.max(0.25, 0.1)) / 100
    assert(math.abs(GenZoned.quality(s, Seq("t", "u")) - expected) < 1e-12)
    // column order does not matter, and no 1-D view sees the decay
    assert(math.abs(GenZoned.quality(s, Seq("u", "t")) - expected) < 1e-12)
    assert(GenZoned.quality(s, Seq("t")) < expected &&
      GenZoned.quality(s, Seq("u")) < expected)
  }

  test("a partial rewrite selects exactly the files whose own worst width exceeds the bound") {
    val one = Seq(stat("w05", 5, "t" -> (0L, 5L)), stat("w10", 5, "t" -> (20L, 30L)),
      stat("w11", 5, "t" -> (40L, 51L)), stat("w100", 5, "t" -> (0L, 100L)))
    // a width AT the bound stays; strictly above rewrites
    assert(GenZoned.decayed(one, Seq("t"), GenZoned.WidthBound) == Seq("w11", "w100"))
    val two = Seq(
      stat("tight", 5, "t" -> (0L, 10L), "u" -> (0L, 10L)),
      stat("wideU", 5, "t" -> (0L, 10L), "u" -> (0L, 100L)),
      stat("wideT", 5, "t" -> (0L, 100L), "u" -> (0L, 10L)),
      stat("edge", 5, "t" -> (0L, 20L), "u" -> (80L, 100L)))
    assert(GenZoned.decayed(two, Seq("t", "u"), GenZoned.WidthBound2) == Seq("wideU", "wideT"))
  }

  test("the partition column and the bound follow from the tracked-column count") {
    assert(GenZoned.partColOf(Seq("t")) == "zone_k" && GenZoned.boundOf(Seq("t")) == 0.1)
    assert(GenZoned.partColOf(Seq("t", "u")) == "z2_k" &&
      GenZoned.boundOf(Seq("t", "u")) == 0.2)
  }
}
