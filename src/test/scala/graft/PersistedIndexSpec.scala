package graft

import graft.queries.Dedup

/** Cross-session persisted index reuse — the 100 TB story's written
  * evidence: a derived frame (q34's near-dup pair set) persisted once
  * as a fingerprinted warehouse table is served to a fresh catalog
  * from its surviving files, with identical content and no recompute.
  * The in-session CacheRegistry.frame covers reuse WITHIN a session; this is
  * the shape a multi-JOB pipeline runs on, where every downstream
  * dedup job opens the pair table instead of re-hashing the corpus.
  */
class PersistedIndexSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"
  private val table = s"graft_neardup_pairs_${Integer.toHexString(dir.hashCode)}"

  test("near-dup pairs persist once, re-register from files, and match the in-session frame") {
    // start truly cold: no catalog entry AND no surviving files, so
    // the "written" path is exercised regardless of prior suite runs
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, table))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    if (loc.exists()) rm(loc)
    val t0 = System.nanoTime()
    val built = Dedup.persistedScoredPairs(spark, dir)
    val buildSec = (System.nanoTime() - t0) / 1e9
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("written"))
    val expected = Dedup.lshScoredPairs(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(built.collect().map(_.toSeq).toSet == expected,
      "persisted pair set must equal the in-session frame")

    // simulate the next JVM: catalog entry gone, files intact
    spark.sql(s"DROP TABLE $table")
    val t1 = System.nanoTime()
    val reread = Dedup.persistedScoredPairs(spark, dir)
    val rereadSec = (System.nanoTime() - t1) / 1e9
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("files"),
      s"expected files-reuse, got ${graft.io.Warehouse.lastProvision(spark, table)}")
    assert(reread.collect().map(_.toSeq).toSet == expected,
      "re-registered pair table must carry identical content")
    info(f"pair-index build $buildSec%.2f s vs files re-register $rereadSec%.2f s")
  }

  test("q130's history window index persists and re-registers from files") {
    val table = s"graft_hist_windows_${Integer.toHexString(dir.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, table))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    if (loc.exists()) rm(loc)
    val built = graft.queries.CurationOps.persistedHistoryIndex(spark, dir)
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("written"))
    val expected = built.collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty)
    spark.sql(s"DROP TABLE $table")
    val reread = graft.queries.CurationOps.persistedHistoryIndex(spark, dir)
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("files"))
    assert(reread.collect().map(_.getLong(0)).toSet == expected)
    // and the declared query runs against the re-registered table
    assert(graft.queries.CurationOps.q130(spark, dir).count() > 0)
  }

  test("q176's CDC chunk index persists, re-registers from files, and keeps q176 exact") {
    val table = s"graft_cdc_chunks_${Integer.toHexString(dir.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, table))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    if (loc.exists()) rm(loc)
    val built = graft.queries.CurationOps.persistedChunkIndex(spark, dir)
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("written"))
    val expected = built.collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)
    val q176First = graft.queries.CurationOps.q176(spark, dir)
      .collect().map(_.toSeq).toSeq
    // simulate the next JVM: catalog entry gone, files intact
    spark.sql(s"DROP TABLE $table")
    val reread = graft.queries.CurationOps.persistedChunkIndex(spark, dir)
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("files"),
      s"expected files-reuse, got ${graft.io.Warehouse.lastProvision(spark, table)}")
    assert(reread.collect().map(_.toSeq).toSet == expected,
      "re-registered chunk index must carry identical content")
    // and the incremental probe over the re-registered index is exact
    assert(graft.queries.CurationOps.q176(spark, dir)
      .collect().map(_.toSeq).toSeq == q176First)
  }

  test("q180's source-sketch table persists, re-registers from files, and keeps q180 exact") {
    val table = s"graft_source_hll_${Integer.toHexString(dir.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, table))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    if (loc.exists()) rm(loc)
    val built = graft.queries.SketchQueries.persistedSourceSketches(spark, dir)
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("written"))
    // register ARRAYS compared byte-for-byte, not just row counts
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val expected = snap(built)
    assert(expected.nonEmpty && expected.values.forall(_.length == 256))
    val q180First = graft.queries.SketchQueries.q180(spark, dir)
      .collect().map(_.toSeq).toSeq
    spark.sql(s"DROP TABLE $table")
    val reread = graft.queries.SketchQueries.persistedSourceSketches(spark, dir)
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("files"),
      s"expected files-reuse, got ${graft.io.Warehouse.lastProvision(spark, table)}")
    assert(snap(reread) == expected,
      "re-registered sketch table must carry bit-identical register arrays")
    assert(graft.queries.SketchQueries.q180(spark, dir)
      .collect().map(_.toSeq).toSeq == q180First)
  }

  test("retrieval tf + positional indexes persist, re-register, and keep q122/q157 exact") {
    import graft.queries.Retrieval
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    val cases = Seq(
      (Retrieval.tfIndexTable(spark, dir),
        () => Retrieval.tfIndex(spark, dir),
        () => Retrieval.q122(spark, dir)),
      (Retrieval.posIndexTable(spark, dir),
        () => Retrieval.posIndex(spark, dir),
        () => Retrieval.q157(spark, dir)))
    cases.foreach { case (table, index, query) =>
      // cold: no catalog entry, no surviving files
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, table))
      if (loc.exists()) rm(loc)
      val built = index()
      assert(graft.io.Warehouse.lastProvision(spark, table).contains("written"),
        s"$table: expected a cold build")
      val content = built.collect().map(_.toSeq).toSet
      val answer = query().collect().map(_.toSeq).toSeq
      assert(content.nonEmpty && answer.nonEmpty)
      // next JVM: catalog gone, files intact — one DDL re-registers
      spark.sql(s"DROP TABLE $table")
      val reread = index()
      assert(graft.io.Warehouse.lastProvision(spark, table).contains("files"),
        s"$table: expected files-reuse, got " +
          s"${graft.io.Warehouse.lastProvision(spark, table)}")
      assert(reread.collect().map(_.toSeq).toSet == content,
        s"$table: re-registered content must be identical")
      assert(query().collect().map(_.toSeq).toSeq == answer,
        s"$table: query over the re-registered index must be row-identical")
    }
  }

  test("trained k-means codebook persists; files reread is bit-identical to training") {
    import graft.operators.KMeansCodebook
    import graft.queries.AnnTrained
    val k = AnnTrained.Cells; val iters = AnnTrained.Iters
    val table = s"graft_codebook_k${k}_i${iters}_" +
      Integer.toHexString(dir.hashCode)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(graft.io.Warehouse.tableLocation(spark, table))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    if (loc.exists()) rm(loc)
    val t0 = System.nanoTime()
    val built = KMeansCodebook.persisted(spark, dir, k, iters)
    val buildSec = (System.nanoTime() - t0) / 1e9
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("written"))
    // the persisted artifact equals the in-session training BIT-WISE
    val direct = KMeansCodebook.trained(spark, dir, k, iters)
    assert(built.length == direct.length &&
      built.zip(direct).forall { case (a, b) => a.sameElements(b) },
      "persisted codebook must be bit-identical to the trained one")
    // next JVM: catalog gone, files intact — no retraining
    spark.sql(s"DROP TABLE $table")
    val t1 = System.nanoTime()
    val reread = KMeansCodebook.persisted(spark, dir, k, iters)
    val rereadSec = (System.nanoTime() - t1) / 1e9
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("files"))
    assert(reread.zip(direct).forall { case (a, b) => a.sameElements(b) },
      "files-reread codebook must be bit-identical to the trained one")
    info(f"codebook train+persist $buildSec%.2f s vs files reread $rereadSec%.2f s")
  }

  test("files reuse re-registers the pair table without evaluating its build") {
    // the build (band join over a checkpointed MinHash of the whole
    // corpus) must not run on the files path — not even to read its
    // schema, which comes from the surviving files instead
    val table = s"graft_neardup_pairs_${Integer.toHexString(Sf.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    org.apache.spark.network.util.JavaUtils.deleteRecursively(
      new java.io.File(graft.io.Warehouse.tableLocation(spark, table)))
    Dedup.persistedScoredPairs(spark, Sf)
    assert(graft.io.Warehouse.lastProvision(spark, table).contains("written"))
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val written = shape(spark.table(table))
    // the next JVM: a fresh session, catalog entry gone, files intact
    val fresh = spark.newSession()
    fresh.sql(s"DROP TABLE $table")
    val reread = Dedup.persistedScoredPairs(fresh, Sf)
    assert(graft.io.Warehouse.lastProvision(fresh, table).contains("files"),
      s"expected files-reuse, got ${graft.io.Warehouse.lastProvision(fresh, table)}")
    assert(!Dedup.lshBaseCached(fresh, Sf),
      "files reuse must not hash the corpus")
    assert(shape(reread) == written,
      "re-registered columns must match the written table's names, types and order")
  }
}
