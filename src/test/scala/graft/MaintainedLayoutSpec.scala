package graft

import java.nio.file.Files
import graft.io.GenLog
import graft.queries.Layout

/** The four maintained lineitem layouts (q214, q223, q228, q229), built
  * through Layout's one declared provisioning body into a fresh temp
  * location. The warehouse copy cannot stand in: its fingerprint covers
  * the source data, not the code that built it, so a table built by
  * older code would pass. Re-layout timing never changes answers, so
  * the oracle cannot catch a broken trigger either; the generation
  * sequence can.
  */
class MaintainedLayoutSpec extends SparkTestBase {

  private val declared = Seq(
    Layout.AdaptiveZoned -> "relayout2", Layout.PartialZoned -> "prl2",
    Layout.Zoned2 -> "zrl2", Layout.Zoned2Partial -> "zprl2")

  for ((m, relayout) <- declared)
    test(s"${m.prefix}: base, two waves, then the bound fires once at wave 2") {
      val loc = tempDir("maintained") + "/t"
      Layout.buildMaintained(spark, Sf, m, loc)
      val gens = GenLog.generations(spark, loc)
      assert(gens.map(_._1) == Seq("base", "wave1", "wave2", relayout),
        "the first wave is tolerated, the second crosses the bound")
      val base = gens.head._2.toSet
      val live = gens.last._2.toSet
      if (m.partial)
        assert(base.subsetOf(live), "a partial re-layout keeps every base file live")
      else
        assert(base.intersect(live).isEmpty, "a full re-layout rewrites every file")
    }
}
