package graft

import org.apache.spark.sql.functions._
import graft.functions.TextKernels
import graft.queries.Dedup
import graft.sources.Tables

/** q121 exact set-similarity join: the prefix filter must be a pure
  * optimization — same pairs as the O(n²) definition — and the plan
  * must stay equi-join-shaped (the entire point of the rewrite).
  */
class SsJoinSpec extends SparkTestBase {

  test("q121 equals the brute-force Jaccard-threshold definition") {
    val got = Dedup.q121(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = Tables.documents(spark, Sf)
      .select(col("doc_id"), Dedup.ssShingles(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
    val x = base.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val y = base.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val want = x.join(y, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) -
            size(array_intersect(col("sh_a"), col("sh_b"))))).as("j"))
      .where(col("j") >= Dedup.SsTau)
      .select(col("id_a"), col("id_b"),
        graft.functions.TextFns.rnd(col("j"), 4).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "threshold yields no pairs — test corpus drifted")
    assert(got == want,
      s"prefix filter changed the result: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("q121 finds every pair the LSH path scores above the threshold") {
    // LSH (q61's edge set) can only MISS pairs; exact ssjoin cannot —
    // the containment direction is the operator's contract
    val exact = Dedup.q121(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshScoredPairsUncached(spark, Sf)
      .where(col("jaccard") >= Dedup.SsTau)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact),
      s"exact join missed LSH-found pairs: ${(lsh -- exact).take(5)}")
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = d(0); d(0) = j
      for (i <- 1 to a.length) {
        val cur = d(i)
        d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    d(a.length)
  }

  test("q166 equals the brute-force edit-distance definition on the real catalog") {
    val got = Dedup.q166(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val names = Tables.part(spark, Sf).groupBy(col("p_name")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- names.keys; b <- names.keys if a < b
      d = lev(a, b) if d <= Dedup.EdK
    } yield (a, b, d.toLong, names(a) * names(b))).toSet
    assert(want.nonEmpty, "no close name pairs — test catalog drifted")
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("q166 PassJoin signatures are complete on an adversarial mutated vocabulary") {
    // craft names AS random <=k-edit mutations of seed words over a
    // 2-letter alphabet (maximal accidental collisions), write them
    // as a part table, and demand set equality with brute force —
    // the pigeonhole argument has to survive edits that straddle
    // segment boundaries, not just the tame real catalog
    val rnd = new scala.util.Random(42)
    def word(n: Int) = Seq.fill(n)("ab" (rnd.nextInt(2))).mkString
    def mutate(s: String): String = (1 to rnd.nextInt(Dedup.EdK + 1))
      .foldLeft(s) { (w, _) =>
        if (w.isEmpty) w
        else rnd.nextInt(3) match {
          case 0 => val i = rnd.nextInt(w.length)          // substitute
            w.updated(i, if (w(i) == 'a') 'b' else 'a')
          case 1 => val i = rnd.nextInt(w.length + 1)      // insert
            w.substring(0, i) + "ab" (rnd.nextInt(2)) + w.substring(i)
          case 2 => val i = rnd.nextInt(w.length)          // delete
            w.substring(0, i) + w.substring(i + 1)
        }
      }
    val seeds = Seq.fill(24)(word(4 + rnd.nextInt(8)))
    val vocab = (seeds ++ seeds.flatMap(s => Seq.fill(3)(mutate(s)))).distinct
    val dir = tempDir("passjoin")
    import spark.implicits._
    vocab.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("p_partkey", "p_name")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = Dedup.q166(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = (for {
      a <- vocab; b <- vocab if a < b
      d = lev(a, b) if d <= Dedup.EdK
    } yield (a, b, d.toLong)).toSet
    assert(want.nonEmpty, "mutation scheme produced no close pairs")
    assert(got == want,
      s"completeness broken: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("q121 plans as equi-joins; candidate count stays far below all-pairs") {
    val df = Dedup.q121(spark, Sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"ssjoin degraded to nested loop:\n$p")
    // pruning evidence: prefix-token candidates (pre-verify) vs n^2/2
    val nDocs = Tables.documents(spark, Sf).count()
    val verified = df.count()
    assert(verified < nDocs * (nDocs - 1) / 20,
      "suspiciously many pairs — prefix filter likely not pruning")
  }
}
