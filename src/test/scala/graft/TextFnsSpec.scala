package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFns, VecFns}
import graft.functions.TextFns._

class TextFnsSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "dog lazy the over jumps fox brown quick the"), // reordered #1
    (4L, "completely different words entirely here now")
  ).toDF("doc_id", "text")

  test("fingerprint is order-sensitive, simhash/minhash are set-based") {
    val t = tokens(col("text"))
    val r = docs.select(col("doc_id"), fingerprint(t).as("fp"), simhash16(t).as("sh"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1)._1 != r(3)._1, "reordering must change the rolling fingerprint")
    assert(r(1)._2 == r(3)._2, "simhash over the same token multiset must be equal")
    assert(r(1) != r(4))
  }

  test("minhash signature similarity tracks Jaccard") {
    val sh = array_distinct(shingles(tokens(col("text")), 1))
    val sigs = docs.select(col("doc_id"), minhashSig(sh).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    // docs 1/2 share 7 of 9 distinct tokens; doc 4 shares none
    assert(agree(sigs(1L), sigs(2L)) > agree(sigs(1L), sigs(4L)))
    assert(agree(sigs(1L), sigs(3L)) == TextFns.NumHashes, "same token set, same signature")
  }

  test("shingles builds n-grams in order") {
    val r = docs.filter(col("doc_id") === 4)
      .select(shingles(tokens(col("text")), 2)).as[Seq[String]].head()
    assert(r == Seq("completely different", "different words", "words entirely",
      "entirely here", "here now"))
  }

  test("cosine: dot/norm match hand computation and lshBucket is stable") {
    val df = Seq((Array(1f, 0f, 2f), Array(2f, 1f, 0f))).toDF("a", "b")
    val got = df.select(VecFns.dot(col("a"), col("b")),
      VecFns.norm(col("a"))).head()
    assert(got.getDouble(0) == 2.0)
    assert(math.abs(got.getDouble(1) - math.sqrt(5.0)) < 1e-12)
    // bucket must be identical for identical vectors and in [0, 64)
    val b = Seq(Tuple1(Array.fill(64)(0.5f)), Tuple1(Array.fill(64)(0.5f)))
      .toDF("v").select(VecFns.lshBucket(col("v"))).as[Long].collect()
    assert(b(0) == b(1) && b(0) >= 0 && b(0) < 64)
  }

  test("rnd matches half-up on representable halves") {
    val df = Seq((0.03125, 0.085, -0.085)).toDF("a", "b", "c")
    val r = df.select(rnd(col("a"), 4), rnd(col("b"), 2), rnd(col("c"), 2)).head()
    assert(r.getDouble(0) == 0.0313)
    assert(r.getDouble(1) == 0.09 || r.getDouble(1) == 0.08) // fp of 0.085*100
    assert(r.getDouble(2) == -0.08 || r.getDouble(2) == -0.09)
  }
  test("q89 chunking: coverage, overlap, and tail semantics") {
    val rows = graft.queries.TextAnalysis.q89(spark, Sf).collect()
    val docs = rows.groupBy(_.getLong(0))
    assert(docs.nonEmpty)
    import graft.queries.TextAnalysis.{ChunkSize, ChunkStride}
    docs.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      // chunk ids are dense from 0
      assert(sorted.map(_.getInt(1)).toSeq == sorted.indices.toSeq)
      // chunk i holds exactly min(ChunkSize, n - i*Stride) tokens,
      // where n is recovered from the last chunk
      val last = sorted.last
      val n = last.getInt(1) * ChunkStride + last.getInt(2)
      sorted.foreach { r =>
        val expect = math.min(ChunkSize, n - r.getInt(1) * ChunkStride)
        assert(r.getInt(2) == expect, s"chunk ${r.getInt(1)} of n=$n")
      }
      // consecutive chunks overlap by ChunkSize - Stride tokens
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val ta = a.getString(3).split(" ")
          val tb = b.getString(3).split(" ")
          val overlap = ta.drop(ChunkStride).toSeq
          assert(tb.toSeq.startsWith(overlap), "chunks must overlap by size - stride")
        case _ => ()
      }
    }
  }

  test("cleanText's ASCII lowercasing equals the lower form on Unicode input") {
    val old = (c: org.apache.spark.sql.Column) =>
      trim(regexp_replace(lower(regexp_replace(c, "[^a-zA-Z]", " ")), " +", " "))
    val in = Seq(
      "\u0130stanbul STRASSE Stra\u00dfe 300\u212a Caf\u00e9 NA\u00cfVE \u00c5ngstr\u00f6m",
      "  COVID-19 mRNA: \u0130\u0131 \u00df\u1e9e \u212aelvin \u00e9\u00c9 ",
      "ALL CAPS", "", null).toDF("t")
    val got = in.select(cleanText(col("t")).as("a"), old(col("t")).as("b")).collect()
    assert(got.forall(r => r.get(0) == r.get(1)),
      got.map(r => s"${r.get(0)} | ${r.get(1)}").mkString("\n"))
    assert(got.head.getString(0) == "stanbul strasse stra e caf na ve ngstr m")
  }
}
