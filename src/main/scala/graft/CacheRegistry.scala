package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one home of session-scoped state: table scan nodes,
  * checkpointed frames, trained codebooks and BPE merges, streamed
  * tables, fixture corpora, warehouse provision modes.
  *
  * One map, keyed by (the session REFERENCE, an owner key). Every
  * owner key starts with the owner's name (`"tables.scan"`,
  * `"kmeans.codebook"`…), so owners never collide. `SparkSession`
  * does not override `equals`, so two sessions — even two from one
  * context — never share an entry, which a hash-code key could not
  * promise.
  *
  * Builds are SINGLE-FLIGHT: the first caller of a key installs a
  * pending entry and builds with no lock held; concurrent callers of
  * the same key wait for that one build and share its value (the
  * Bench setup pool reads tables and builds frames from several
  * threads at once — `TrieMap.getOrElseUpdate` would run each such
  * build once per racing caller). A build that throws removes its
  * entry, so the next call builds again. Builds of different keys may
  * nest; a build must not ask for its own key.
  *
  * [[GraftSession]] attaches a [[GraftEvictionListener]] to every
  * session it builds, which drops that session's entries when the
  * context ends (`SparkSession.stop` stops the context, so
  * application end IS session end in every deployment shape we run).
  */
object CacheRegistry {

  private val entries = new ConcurrentHashMap[(SparkSession, Any), CompletableFuture[Any]]()

  /** Build-or-reuse the value of `key` for `spark`. */
  def memo[T](spark: SparkSession, key: Any)(build: => T): T = {
    val k = (spark, key)
    val mine = new CompletableFuture[Any]()
    entries.putIfAbsent(k, mine) match {
      case null =>
        try {
          val v = build
          mine.complete(v)
          v
        } catch { case t: Throwable =>
          entries.remove(k, mine)
          mine.completeExceptionally(t)
          throw t
        }
      case pending =>
        try pending.get().asInstanceOf[T]
        catch { case e: ExecutionException => throw e.getCause }
    }
  }

  /** [[memo]] for a DataFrame named `name` over `dir`, localCheckpoint'd
    * so every reader shares the materialization (eager, lineage-
    * truncated, executor-resident) instead of replaying corpus-sized
    * lineage.
    */
  def frame(name: String, spark: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    memo(spark, (name, dir))(build.localCheckpoint())

  /** Test/introspection hook: is (or is being) `key` built for `spark`? */
  private[graft] def contains(spark: SparkSession, key: Any): Boolean =
    entries.containsKey((spark, key))

  /** Drop every entry of one session. */
  def evict(spark: SparkSession): Unit =
    entries.keySet.removeIf(_._1 eq spark)
}

/** Spark listener bound to one session: evicts that session's
  * registry entries when the context ends.
  */
class GraftEvictionListener(spark: SparkSession) extends SparkListener {
  override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
    CacheRegistry.evict(spark)
}
