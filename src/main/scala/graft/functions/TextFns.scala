package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline column builders shared by the dedup / text-analysis /
  * similarity query families (SURVEY.md §7 step 7 north-star ops).
  *
  * Everything here is a *pure column expression* — no UDFs — so the
  * whole text pipeline stays inside whole-stage codegen and the
  * optimizer can prune/push around it. Hashing is md5-based (not
  * Spark's murmur3 `hash()`) deliberately: md5 is bit-identical across
  * engines, which makes every derived operator (minhash, fingerprints,
  * simhash) checkable against the DuckDB oracle.
  *
  * Each builder documents the exact DuckDB-SQL twin used by the
  * oracles; the two must be kept in lock-step.
  */
object TextFns {

  /** Mersenne prime 2^31-1 — modulus for all derived hash families. */
  final val P: Long = 2147483647L

  /** Deterministic universal-hash parameters h_i(x) = (x*A_i + B_i) mod P.
    * Generated from a fixed LCG so the Scala code and the generated
    * oracle SQL share literals (see [[hashParams]]).
    */
  final val NumHashes = 16
  final val hashParams: IndexedSeq[(Long, Long)] = {
    var s = 1234567L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L) & 0x7fffffffL; s }
    (0 until NumHashes).map(_ => ((next() % (P - 1)) + 1, next() % P))
  }

  /** Whitespace tokens. DuckDB twin: `string_split(c, ' ')`. */
  def tokens(c: Column): Column = split(c, " ")

  /** Deterministic cross-engine rounding: floor(x*10^n + 0.5)/10^n.
    * Spark's `round` (BigDecimal HALF_UP on the shortest decimal
    * repr) and DuckDB's `round` disagree on half-boundary doubles
    * (e.g. 1/32 at 4 dp); this formula is pure IEEE double math and
    * therefore bit-identical in both engines.
    */
  def rnd(c: Column, n: Int): Column = {
    val k = math.pow(10, n)
    floor(c * k + 0.5) / k
  }

  def rndSql(e: String, n: Int): String = {
    val k = math.pow(10, n).toLong
    s"floor(($e) * $k.0 + 0.5) / $k.0"
  }

  /** First 60 bits of md5 as a non-negative Long.
    * DuckDB twin: `('0x' || substr(md5(c), 1, 15))::BIGINT`.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** SQL-string twin of [[hash60]] for oracle generation. */
  def hash60Sql(c: String): String =
    s"('0x' || substr(md5($c), 1, 15))::BIGINT"

  /** Word n-gram shingles from a token array: adjacent tokens joined by
    * a space. DuckDB twin:
    * `list_transform(generate_series(1, len(t)-(n-1)), i -> t[i] || ' ' || ... t[i+n-1])`.
    */
  def shingles(toks: Column, n: Int): Column =
    // Guard: for size < n, sequence(0, size-n) would DESCEND (Spark
    // picks step -1) and index out of bounds — ANSI throws. DuckDB's
    // generate_series(1, len-(n-1)) returns [] for short docs; match it.
    when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  def shinglesSql(toksExpr: String, n: Int): String = {
    val parts = (0 until n).map(j => if (j == 0) s"$toksExpr[i]" else s"$toksExpr[i+$j]")
      .mkString(" || ' ' || ")
    s"list_transform(generate_series(1, len($toksExpr)-${n - 1}), i -> $parts)"
  }

  /** Bind an array expression to a lambda variable so it is evaluated
    * ONCE and reused. Higher-order functions are interpreted (no
    * whole-stage codegen, no common-subexpression elimination), so a
    * Column reused k times in sibling lambdas is *recomputed* k times;
    * `transform` over a 1-element wrapper array forces single
    * evaluation — measured 14× speedup on the minhash pipeline.
    */
  def bind1(arr: Column)(f: Column => Column): Column =
    element_at(transform(array(arr), f), 1)

  /** MinHash signature (k = [[NumHashes]]) over a shingle array.
    * One md5 per shingle (bound once via [[bind1]]), then all k
    * affine minima in a single fold — ~k multiply-adds per shingle.
    * Pure map-side array expressions: zero shuffles, zero UDFs; at
    * 100 TB this runs at scan parallelism.
    */
  def minhashSig(shingleCol: Column): Column =
    bind1(transform(shingleCol, s => hash60(s) % P)) { hs =>
      aggregate(hs, array_repeat(lit(P), NumHashes),
        (acc, h) => zip_with(acc,
          array(hashParams.map { case (a, b) => (h * a + b) % P }: _*),
          (x, y) => least(x, y)))
    }

  /** DuckDB twin of [[minhashSig]] as a SQL expression string. */
  def minhashSigSql(shinglesExpr: String): String = {
    val hashes = s"list_transform($shinglesExpr, s -> ${hash60Sql("s")} % $P)"
    hashParams.map { case (a, b) =>
      s"list_min(list_transform($hashes, h -> (h * $a + $b) % $P))"
    }.mkString("[", ", ", "]")
  }

  /** Order-sensitive document fingerprint: left fold
    * h ← (h*131 + (hash60(tok) mod P)) mod P over the token stream.
    * Detects re-ordered near-identical docs that set-based Jaccard
    * misses. DuckDB twin uses `list_reduce` with a prepended zero seed.
    */
  def fingerprint(toks: Column): Column =
    aggregate(
      transform(toks, t => hash60(t) % P),
      lit(0L),
      (acc, x) => (acc * 131 + x) % P)

  def fingerprintSql(toksExpr: String): String =
    s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform($toksExpr, t -> ${hash60Sql("t")} % $P)), " +
      s"(acc, x) -> (acc * 131 + x) % $P)"

  /** N-bit SimHash, bit-parallel: per token take `bits` sign bits of
    * its hash, sum signs per bit across tokens in ONE array fold (no
    * explode — the per-doc work is a single codegen'd pass), then pack
    * the sign vector into a long. `bits` ≤ 60 (hash60 width).
    */
  def simhashN(toks: Column, bits: Int): Column = {
    val bitSums = aggregate(
      transform(toks, t => hash60(t)),
      array_repeat(lit(0L), bits),
      (acc, h) => zip_with(
        acc,
        array((0 until bits).map(j => shiftright(h, j) % 2 * 2 - 1): _*),
        (a, b) => a + b))
    aggregate(
      zip_with(
        bitSums,
        array((0 until bits).map(j => lit(1L << j)): _*),
        (s, pw) => when(s > 0, pw).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc + x)
  }

  /** 16-bit SimHash (the q30 fingerprint width). */
  def simhash16(toks: Column): Column = simhashN(toks, 16)

  /** DuckDB twin of [[simhashN]]. `list_reduce` folds left using the
    * first element as the seed, hence the prepended zero vector.
    */
  def simhashNSql(toksExpr: String, bits: Int): String = {
    val zeros = (1 to bits).map(_ => "0::BIGINT").mkString("[", ", ", "]")
    // hash each token ONCE, then expand its bits — inlining hash60
    // into the per-bit lambda would run `bits` md5 calls per token
    // (measured 4.8x slower at sf0.1)
    val hashes = s"list_transform($toksExpr, t -> ${hash60Sql("t")})"
    val bitsOf =
      s"list_transform(generate_series(0, ${bits - 1}), j -> ((h >> j) & 1) * 2 - 1)"
    val bitSums =
      s"list_reduce(list_prepend($zeros, " +
        s"list_transform($hashes, h -> $bitsOf)), " +
        s"(acc, x) -> list_transform(generate_series(1, $bits), j -> acc[j] + x[j]))"
    // CAST: DuckDB list_sum(BIGINT) yields HUGEINT, which the driver's
    // pandas harness reads as float64 — Spark emits int64.
    s"CAST(list_sum(list_transform(generate_series(1, $bits), " +
      s"j -> CASE WHEN ($bitSums)[j] > 0 THEN (1::BIGINT << (j-1)) ELSE 0 END)) AS BIGINT)"
  }

  def simhash16Sql(toksExpr: String): String = simhashNSql(toksExpr, 16)

  // -----------------------------------------------------------------
  // Quality / language heuristics
  // -----------------------------------------------------------------

  /** Tiny per-language marker lexicons for the n-gram/stopword language
    * ID heuristic. Deterministic and mirrored verbatim in oracle SQL.
    */
  final val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "small", "big"),
    "query" -> Seq("query", "filter", "join", "sort", "scan", "merge"),
    "data" -> Seq("data", "row", "column", "table", "value", "key"),
    "stream" -> Seq("stream", "batch", "window", "spark", "vector", "hash"))

  /** Fraction of tokens contained in `markers`, rounded to 4 dp.
    * DuckDB twin: len(list_filter(toks, t -> t IN (...)))::DOUBLE / len(toks).
    */
  def markerRatio(toks: Column, markers: Seq[String]): Column =
    rnd(
      size(filter(toks, t => t.isin(markers.map(lit): _*))).cast("double") /
        size(toks), 4)

  def markerRatioSql(toksExpr: String, markers: Seq[String]): String = {
    val inList = markers.map(m => s"'$m'").mkString(", ")
    rndSql(s"len(list_filter($toksExpr, t -> t IN ($inList)))::DOUBLE / len($toksExpr)", 4)
  }

  /** D9 clean-text chain (research_challenge_analysis.py:117-123):
    * strip non-letters, lowercase, collapse whitespace — pure
    * expressions, no UDF.
    *
    * After the strip only `[a-zA-Z ]` is left, so lowercasing is an
    * ASCII `translate`, which gives what `lower` gives there. `lower`
    * would go through Spark's ICU case mapping, whose first call in a
    * JVM runs ICU's collation initializer (about a second on one task).
    */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      translate(regexp_replace(c, "[^a-zA-Z]", " "),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"),
      " +", " "))

  /** Broadcast-lexicon polarity (D10 reimplementation,
    * research_challenge_analysis.py:126-131): summed token-match
    * polarity; average + 0.0 passthrough are applied by callers.
    */
  def lexiconPolarity(toks: Column, lexicon: Seq[(String, Double)]): Column =
    lexicon.foldLeft(lit(0.0).cast("double")) { case (acc, (w, s)) =>
      acc + coalesce(size(filter(toks, t => t === w)).cast("double") * s, lit(0.0))
    }

  def matchedCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))
}
