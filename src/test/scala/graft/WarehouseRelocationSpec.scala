package graft

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import graft.io.{GenLog, Warehouse}
import graft.queries.TimeTravel

/** A warehouse copied to another root must not serve the old tree:
  * GenLog commits hold absolute file paths, so the copy's artifacts
  * fail their fingerprint guard and are rebuilt under the new root.
  */
class WarehouseRelocationSpec extends SparkTestBase {

  test("a GenLog artifact copied to a new warehouse root is rebuilt there and serves only its own files") {
    val table = TimeTravel.gensTable(Sf)
    val orig = TimeTravel.ensureEventGenerations(spark, Sf)
    val root2 = new java.io.File(tempDir("graft-moved-warehouse"))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(orig), new java.io.File(root2, table))
    // a session whose warehouse is the copy's root; the warehouse dir
    // is a static conf, so it is set on this session's own SQLConf
    val moved = spark.newSession()
    castToImpl(moved).sessionState.conf
      .setConfString("spark.sql.warehouse.dir", root2.toURI.toString)
    val loc = TimeTravel.ensureEventGenerations(moved, Sf)
    assert(loc == new java.io.File(root2, table).getPath)
    assert(!Warehouse.lastProvision(moved, table).contains("files"),
      "a relocated artifact must be rebuilt, not served")
    val gens = GenLog.generations(moved, loc)
    val listed = gens.flatMap(_._2)
    assert(gens.nonEmpty && listed.nonEmpty)
    assert(listed.forall(_.startsWith(loc + "/")),
      s"files outside the new root: ${listed.filterNot(_.startsWith(loc + "/")).take(3)}")
    val read = gens.flatMap { case (g, _) => GenLog.read(moved, loc, g).inputFiles }
      .map(f => new org.apache.hadoop.fs.Path(new java.net.URI(f)).toUri.getPath)
    assert(read.nonEmpty && read.forall(_.startsWith(loc + "/")),
      s"reads outside the new root: ${read.filterNot(_.startsWith(loc + "/")).take(3)}")
    // the rebuilt copy is current for its own root
    TimeTravel.ensureEventGenerations(moved, Sf)
    assert(Warehouse.lastProvision(moved, table).contains("files"))
    // and the original root still serves its own files
    TimeTravel.ensureEventGenerations(spark, Sf)
    assert(Warehouse.lastProvision(spark, table).contains("files"))
  }
}
