package graft

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.SparkSession
import graft.io.Warehouse
import graft.queries.{Bucketed, CorpusOps, Dedup, Retrieval}
import graft.sources.Tables

/** Session-lifecycle cache eviction: the listener GraftSession
  * attaches must drop every registry entry of its session — the
  * checkpointed LSH base frame, scan nodes, trained BPE merges, the
  * phrase probe — while the bucketed layout FILES, a shared warehouse
  * artifact, must survive the session (cross-session reuse is the
  * bucketing economics; BucketingSpec covers the re-register path).
  * Each test runs on its own `newSession()` of the suite-shared
  * context and fires the listener directly: stopping the context
  * would tear down every other suite, and evicting the shared session
  * would wipe their cached state. GraftSession.create wires this
  * exact listener to the real application-end event.
  */
class EvictionSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"

  private def end(s: SparkSession): Unit =
    new GraftEvictionListener(s).onApplicationEnd(SparkListenerApplicationEnd(0L))

  private def withSession(body: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    try body(s) finally end(s)
  }

  test("session stop evicts the LSH base frame; layout files survive") {
    withSession { s =>
      Dedup.q34(s, dir).count()
      assert(Dedup.lshBaseCached(s, dir), "q34 must populate the base cache")
      val (li, ord) = Bucketed.ensureBucketed(s, dir)
      val layouts = Seq(li, ord).map(Warehouse.tableLocation(s, _))
      layouts.foreach(p => assert(new java.io.File(p).exists(), s"missing layout $p"))

      end(s)

      assert(!Dedup.lshBaseCached(s, dir), "base frame must be evicted")
      layouts.foreach(p => assert(new java.io.File(p).exists(),
        s"layout files must OUTLIVE the session (warehouse artifact): $p"))
      // the session object itself is still alive here (the spec fired
      // the listener without a real stop) — caches must simply repopulate
      assert(Dedup.q34(s, dir).count() > 0)
      assert(Bucketed.q57(s, dir).count() > 0)
    }
  }

  test("after eviction scans, BPE merges and the phrase probe rebuild") {
    withSession { s =>
      val scan = Tables.table(s, dir, "documents")
      val merges = CorpusOps.mergesFor(s, dir)
      val phrase = Retrieval.phraseFor(s, dir)
      assert(Tables.table(s, dir, "documents") eq scan)
      assert(CorpusOps.mergesFor(s, dir) eq merges)
      assert(Retrieval.phraseFor(s, dir) eq phrase)

      end(s)

      val scan2 = Tables.table(s, dir, "documents")
      val merges2 = CorpusOps.mergesFor(s, dir)
      val phrase2 = Retrieval.phraseFor(s, dir)
      assert(scan2 ne scan, "scan node must be rebuilt")
      assert(merges2 ne merges, "BPE merges must be retrained")
      assert(phrase2 ne phrase, "phrase probe must be recomputed")
      assert(merges2 == merges && phrase2 == phrase, "rebuilds are deterministic")
    }
  }

  test("two sessions of one context get separate entries; evicting one keeps the other's") {
    withSession { a =>
      withSession { b =>
        val scanA = Tables.table(a, dir, "orders")
        val scanB = Tables.table(b, dir, "orders")
        assert(scanA ne scanB, "sessions must not share a scan node")
        assert(scanA.sparkSession eq a)
        assert(scanB.sparkSession eq b)

        end(a)

        assert(Tables.table(b, dir, "orders") eq scanB,
          "evicting one session must leave the other's entries")
        assert(Tables.table(a, dir, "orders") ne scanA)
      }
    }
  }
}
