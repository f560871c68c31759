package graft

import org.apache.spark.sql.functions._

import graft.io.Warehouse
import graft.queries.{AnnTrained, PqQueries, Retrieval}

/** Incremental maintenance of the partitioned row stores (ANN cells,
  * PQ codes) and the bucketed retrieval index — the file-level and
  * content-level properties behind q190/q191/q192: an append wave
  * rewrites ONLY its own partitions, absorption is exactly-once via
  * the ingest log, and the maintained artifact's content equals the
  * one-shot rebuild's (which is why those queries share q182/q187/
  * q122's oracles).
  */
class IncrementalStoreSpec extends SparkTestBase {

  /** partition dir -> sorted (file, length, mtime) under a table. */
  private def fileState(table: String): Map[String, Seq[(String, Long, Long)]] = {
    val loc = new java.io.File(Warehouse.tableLocation(spark, table))
    loc.listFiles().filter(_.isDirectory).map { d =>
      d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
    }.toMap
  }

  private def dropScratch(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(Warehouse.tableLocation(spark, table))
    if (loc.exists())
      org.apache.spark.network.util.JavaUtils.deleteRecursively(loc)
  }

  test("upsertMergeByKey: only the batch's partitions rewrite; " +
    "batch rows win by key; untouched partitions keep their files") {
    val t = "graft_incstore_spec_merge"
    dropScratch(t)
    // base: vec_id % 8 != 0, partitioned on cell = vec_id % 4
    def rows(filter: String) = graft.sources.Tables.embeddings(spark, Sf)
      .where(expr(filter))
      .select(col("vec_id"), (col("vec_id") * 2).as("v"),
        pmod(col("vec_id"), lit(4)).cast("int").as("cell"))
    Warehouse.ensurePartitionedTable(spark, t, s"$Sf/embeddings.parquet",
      "cell")(rows("vec_id % 8 != 0").repartition(col("cell")))
    val before = fileState(t)
    assert(before.keySet == Set(0, 1, 2, 3).map(c => s"cell=$c"))

    // the wave: vec_id % 8 == 0 lands ONLY in cell 0, with an UPDATED
    // payload for keys that overlap nothing (pure insert) — then a
    // second wave updates existing keys in place
    val wave = graft.sources.Tables.embeddings(spark, Sf)
      .where(expr("vec_id % 8 = 0"))
      .select(col("vec_id"), (col("vec_id") * 3).as("v"),
        pmod(col("vec_id"), lit(4)).cast("int").as("cell"))
    Warehouse.upsertMergeByKey(spark, t, wave, "cell", "vec_id")
    val after = fileState(t)
    Seq(1, 2, 3).foreach { c =>
      assert(after(s"cell=$c") == before(s"cell=$c"),
        s"cell=$c was touched by a wave that only maps to cell 0")
    }
    assert(after("cell=0") != before("cell=0"))
    // content: base rows everywhere, wave rows (v = 3*id) in cell 0
    val got = spark.table(t).select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val ids = graft.sources.Tables.embeddings(spark, Sf)
      .select("vec_id").collect().map(_.getLong(0))
    ids.foreach { id =>
      val expect = if (id % 8 == 0) id * 3 else id * 2
      assert(got(id) == expect, s"vec_id $id carries ${got(id)}, want $expect")
    }
    assert(got.size == ids.length)

    // update-in-place: re-deliver the SAME keys with a new payload —
    // batch rows must win, row count must not grow
    val wave2 = wave.withColumn("v", col("vec_id") * 5)
    Warehouse.upsertMergeByKey(spark, t, wave2, "cell", "vec_id")
    val got2 = spark.table(t).select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2.size == ids.length)
    ids.filter(_ % 8 == 0).foreach(id => assert(got2(id) == id * 5))
    ids.filter(_ % 8 != 0).foreach(id => assert(got2(id) == id * 2))
    dropScratch(t)
  }

  test("ingest log: absorption is exactly-once across re-registration") {
    val t = "graft_incstore_spec_log"
    dropScratch(t)
    Warehouse.ensurePartitionedTable(spark, t, s"$Sf/embeddings.parquet",
      "cell")(graft.sources.Tables.embeddings(spark, Sf)
        .select(col("vec_id"), pmod(col("vec_id"), lit(4)).cast("int").as("cell"))
        .repartition(col("cell")))
    var runs = Vector.empty[String]
    def absorb(id: String): Unit = Warehouse.absorbOnce(spark, t, id) { runs :+= id }
    absorb("b1"); absorb("b1")
    assert(runs == Vector("b1"))
    absorb("b2"); absorb("b1"); absorb("b2")
    assert(runs == Vector("b1", "b2"))
    // the id is recorded only after the body returns: a body that
    // throws leaves it unrecorded, so the next call runs it again
    intercept[IllegalStateException](
      Warehouse.absorbOnce(spark, t, "b3")(throw new IllegalStateException("crash")))
    absorb("b3"); absorb("b3")
    assert(runs == Vector("b1", "b2", "b3"))
    // the log survives dynamic-partition maintenance (it lives at the
    // table root; waves rewrite only partition dirs)...
    Warehouse.upsertPartitions(spark, t,
      spark.table(t).where(col("cell") === 0).repartition(1))
    absorb("b1")
    assert(runs == Vector("b1", "b2", "b3"))
    // ...and re-registration from surviving files (new catalog entry)
    spark.sql(s"DROP TABLE $t")
    absorb("b1")
    assert(runs == Vector("b1", "b2", "b3"),
      "the log must outlive the catalog entry, like the data files")
    dropScratch(t)
  }

  test("q190/q191: the maintained cell stores equal the one-shot rebuilds") {
    val full = spark.table(AnnTrained.ensureCellPartitionedEmbeddings(spark, Sf))
      .select(col("vec_id"), col("cell"), col("nrm"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getSeq[Float](3)))
      .toSet
    val inc = spark.table(AnnTrained.ensureIncrementalCellStore(spark, Sf))
      .select(col("vec_id"), col("cell"), col("nrm"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getSeq[Float](3)))
      .toSet
    assert(inc == full && full.nonEmpty,
      "incremental ANN store content must equal the rebuild")

    val fullPq = spark.table(PqQueries.ensurePqCellStore(spark, Sf))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getInt(3))).toSet
    val incPq = spark.table(PqQueries.ensureIncrementalPqStore(spark, Sf))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(incPq == fullPq && fullPq.nonEmpty,
      "incremental PQ store content must equal the rebuild")

    // absorbed-once: a second ensure touches NO file (catalog fast
    // path + ingest log; nothing re-merges)
    val t = AnnTrained.ensureIncrementalCellStore(spark, Sf)
    val snap = fileState(t)
    AnnTrained.ensureIncrementalCellStore(spark, Sf)
    assert(fileState(t) == snap, "re-ensure must not rewrite any file")
  }

  test("q192: the maintained tf index equals the rebuilt index; " +
    "probes agree with the direct q122 path") {
    val maintained = Retrieval.tfIndexIncremental(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val rebuilt = Retrieval.tfIndex(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(maintained == rebuilt && rebuilt.nonEmpty)
    val a = Retrieval.q192(spark, Sf).collect().toSeq
    val b = Retrieval.q122(spark, Sf).collect().toSeq
    assert(a == b && a.nonEmpty)
  }
}
