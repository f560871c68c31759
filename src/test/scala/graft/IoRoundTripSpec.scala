package graft

import org.apache.spark.sql.functions._
import graft.io.{Readers, Writers}
import graft.sources.Tables

/** Round-trip contracts for the corpus-exchange sinks/sources beyond
  * the reference's formats: sharded JSONL and ORC.
  */
class IoRoundTripSpec extends SparkTestBase {

  test("sharded JSONL round-trips documents; shard count and routing are deterministic") {
    val dir = tempDir("jsonl")
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    Writers.shardedJsonl(docs, dir, 4, col("doc_id"))
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    // shards is an UPPER BOUND (empty hash partitions write no file);
    // the manifest is the addressing contract, so it must list exactly
    // the files on disk
    assert(parts.length <= 4 && parts.nonEmpty,
      s"expected 1..4 JSONL shards, got ${parts.length}")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_shards.json")), "UTF-8")
    val listed = """part-[^"]+""".r.findAllIn(manifest).toSet
    assert(listed == parts.map(_.getName).toSet,
      s"_shards.json must list exactly the produced part files: $manifest")
    val back = Readers.jsonl(spark, dir, docs.schema)
    assert(back.count() == docs.count())
    assert(back.except(docs).count() == 0 && docs.except(back).count() == 0,
      "JSONL round-trip must preserve every row exactly")
    // deterministic routing: writing again yields identical shard memberships
    val dir2 = tempDir("jsonl2")
    Writers.shardedJsonl(docs, dir2, 4, col("doc_id"))
    def shardSets(d: String): Set[Set[Long]] =
      new java.io.File(d).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        .map { f =>
          scala.io.Source.fromFile(f).getLines()
            .map(l => """"doc_id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)
            .toSet
        }.toSet
    assert(shardSets(dir) == shardSets(dir2),
      "hash routing must place every doc in the same shard on re-write")
  }

  test("ORC round-trips with pushdown-friendly scans") {
    val dir = tempDir("orc")
    val li = Tables.lineitem(spark, Sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    Writers.orc(li, dir)
    val back = Readers.orc(spark, dir)
    assert(back.count() == li.count())
    assert(back.except(li).count() == 0 && li.except(back).count() == 0)
    // the filtered scan must push the predicate into the ORC reader
    val filtered = Readers.orc(spark, dir).where(col("l_partkey") === 1)
    val explained = filtered.queryExecution.executedPlan.toString
    assert(explained.contains("PushedFilters: [IsNotNull(l_partkey), EqualTo(l_partkey,1)]")
      || explained.contains("EqualTo(l_partkey,1)"),
      s"ORC scan did not push the filter:\n$explained")
  }

  test("mergeSchema read surfaces a column added mid-history, null before it") {
    val dir = tempDir("evolve")
    val docs = Tables.documents(spark, Sf)
    // generation 1: no quality column; generation 2 adds one
    docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("source"))
      .coalesce(1).write.mode("append").parquet(dir)
    docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"),
        (col("n_chars") % 5).as("quality"))
      .coalesce(1).write.mode("append").parquet(dir)
    val merged = Readers.parquetMergeSchema(spark, dir)
    assert(merged.columns.contains("quality"),
      "evolved column missing from the merged schema")
    assert(merged.count() == docs.count())
    // pre-evolution rows read as null, post-evolution keep their value
    assert(merged.where(col("doc_id") % 2 === 0)
      .where(col("quality").isNotNull).count() == 0)
    assert(merged.where(col("doc_id") % 2 === 1)
      .where(col("quality").isNull).count() == 0)
    // a plain (non-merging) read may resolve either footer — that is
    // exactly the hazard the explicit reader exists to close
  }
}
