package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The set-similarity kernel of the E-family near-dup queries: every
  * shingle set, MinHash signature, band and pair verify in
  * [[Extensions]] goes through one of the three stages below, so a change
  * to any stage (the native sorted intersect is the planned one) lands in
  * one place. Filter-then-verify keeps the stages separate and reusable,
  * as in the PPJoin family and REPOSE (ICDE 2021):
  *
  *  1. shingle — a doc's distinct hashed n-gram set ([[shingleSets]],
  *     [[shingleRows]]), its distinct unigram set ([[tokenSets]]) or one
  *     hash row per distinct unigram ([[tokenHashes]]);
  *  2. sign and band — k=8 MinHash over any `(doc_id, h)` hash rows
  *     ([[signatures]]), r×b banding ([[bandsFromSigs]]) and the band
  *     self-join ([[sharedBands]]);
  *  3. verify — the sealed overlap ([[overlap]]), Jaccard arithmetic
  *     ([[jaccard]]) and the join that attaches both sides' sets to a pair
  *     ([[withSets]], [[allPairsWithSets]]).
  *
  * Candidate strategies (language block, length filter, prefix filter, hot
  * bucket cap) stay with their queries. The DuckDB twins spell the same
  * steps in SQL with `list_intersect` (Extensions' oracle fragments), so the
  * oracle never runs this code. */
object SetSimilarity {

  /** MinHash permutations h_i(x) = (A_i·x + B_i) mod P, i < 8 — shared with
    * [[graft.functions.MinHashAgg]] and the DuckDB twins. */
  val P: Long = 2147483647L // 2^31 - 1
  val A: Array[Long] = Array(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L)
  val B: Array[Long] = Array(3L, 5L, 59L, 61L, 67L, 71L, 73L, 79L)

  private def tokenHash(t: Column): Column = functions.TokenHash64(t)

  private[graft] def toks(text: Column): Column = split(text, " ")

  // ---- shingle --------------------------------------------------------

  /** Distinct hashed n-gram set per doc: `docs` (with `text`) →
    * (keep…, `as` ARRAY<BIGINT>). A gram is its n tokens joined by single
    * spaces, hashed with the shared token hash, so it is bit-identical to
    * the DuckDB twins' `md5(w[i] || ' ' || …)`. A doc with fewer than n
    * tokens gives no row: for it `sequence(0, size − n)` would count down
    * and `element_at` would index out of bounds and throw (e100 documents
    * the failure). */
  def shingleSets(docs: DataFrame, n: Int, as: String, keep: String*): DataFrame =
    withGrams(docs, n, keep)(_.as(as))

  /** [[shingleSets]] exploded in the same projection: one (keep…, `as`)
    * row per distinct shingle. Exploding a projected set column instead
    * lets the optimizer infer `size(set) > 0` and push it below the
    * projection, hashing every shingle twice. */
  def shingleRows(docs: DataFrame, n: Int, as: String, keep: String*): DataFrame =
    withGrams(docs, n, keep)(explode(_).as(as))

  private def withGrams(docs: DataFrame, n: Int, keep: Seq[String])
      (out: Column => Column): DataFrame = {
    val ks = keep.map(col)
    val tk = col("tk")
    docs.select(ks :+ toks(col("text")).as("tk"): _*)
      .filter(size(tk) >= n)
      .select(ks :+ out(array_distinct(transform(sequence(lit(0), size(tk) - n),
        i => tokenHash(concat((1 to n).flatMap(j =>
          Seq(lit(" "), element_at(tk, i + j))).tail: _*))))): _*)
  }

  /** Distinct unigram set per doc: (doc_id, tk ARRAY<STRING>). */
  def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_distinct(toks(col("text"))).as("tk"))

  /** One row per distinct unigram of a doc: (doc_id, t, h = tokenHash(t)). */
  def tokenHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("t"))
      .withColumn("h", tokenHash(col("t")))

  // ---- sign and band --------------------------------------------------

  /** k=8 MinHash signature (doc_id, sig0..sig7) over hash rows (doc_id, h):
    * unigram hashes for text, exploded shingle arrays for e113b. */
  def signatures(hashes: DataFrame): DataFrame = {
    val sigs = A.zip(B).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % P).as(s"sig$i")
    }
    hashes.groupBy(col("doc_id")).agg(sigs.head, sigs.tail.toSeq: _*)
  }

  /** k=8 MinHash signatures over the distinct unigram set of a
    * (doc_id, text) corpus: the signature pass of the e02/e03 queries,
    * lshComponents, the signature artifact and
    * [[graft.streaming.LshIndex]]. */
  def minhashSigs(docs: DataFrame): DataFrame = signatures(tokenHashes(docs))

  /** [[minhashSigs]] banded 2×4: one (doc_id, band, bucket) row per band;
    * docs sharing any (band, bucket) are near-dup candidates. */
  def minhashBands(docs: DataFrame): DataFrame =
    bandsFromSigs(minhashSigs(docs), 2, 4)

  /** Band a k=8 signature frame (sig0..sig7) as r rows × b bands. The
    * r=2 bucket keeps the original exact product formula (`sig·P + sig` —
    * bit-compatible with every stored e03-family index); other r combine
    * their r sigs through the md5 token hash, the e63-sweep formula (an
    * r-way product would overflow BIGINT). Shared by the one-shot banding
    * queries and [[graft.streaming.LshIndex]]'s re-banding migration. */
  def bandsFromSigs(sig: DataFrame, r: Int, b: Int): DataFrame = {
    require(r > 0 && b > 0 && r * b <= 8, s"banding r=$r b=$b needs r*b <= 8")
    def bucket(j: Int): Column =
      if (r == 2) col(s"sig${2 * j}") * P + col(s"sig${2 * j + 1}")
      else tokenHash(concat_ws(",",
        (0 until r).map(i => col(s"sig${r * j + i}").cast(StringType)): _*))
    sig.select(col("doc_id"), explode(array(
      (0 until b).map(j => struct(lit(j).as("band"), bucket(j).as("bucket"))): _*
    )).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** The band self-join: every pair of docs sharing at least one
    * (band, bucket), as (a, b, n_shared_bands) with a < b. Selecting
    * (a, b) gives the candidate pairs; the optimizer then drops the
    * count. */
  def sharedBands(bands: DataFrame, a: String, b: String): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as(a), col("y.doc_id").as(b))
      .agg(count(lit(1)).as("n_shared_bands"))

  // ---- verify ---------------------------------------------------------

  /** |x ∩ y| of two set arrays, sealed: evaluated once, in the Project that
    * holds it. Unsealed, the optimizer folds a threshold filter on it into
    * the pair join's condition and runs the intersect before the cheap
    * prefilters, twice per probed pair; see [[graft.functions.SealedEval]]. */
  def overlap(x: Column, y: Column): Column =
    functions.SealedEval.seal(size(array_intersect(x, y)))

  /** Jaccard from the overlap and both set sizes: nc / (n1 + n2 − nc), one
    * exact-integer-operand double division on both engines. */
  def jaccard(nc: Column, n1: Column, n2: Column): Column =
    nc.cast(DoubleType) / (n1 + n2 - nc)

  /** Attaches both sides' sets to a pair frame: `pairs` (with id columns a
    * and b) ⋈ `sets` (doc_id, g) → pairs' columns plus `g1` and `g2`. */
  def withSets(pairs: DataFrame, sets: DataFrame, a: String, b: String,
               g: String): DataFrame =
    pairs.join(side(sets, a, g, 1), a).join(side(sets, b, g, 2), b)

  /** Every pair a < b of `sets` (doc_id, g) with both sides' sets attached:
    * the quadratic ground-truth join, run only on a bounded audit sample. */
  def allPairsWithSets(sets: DataFrame, a: String, b: String, g: String): DataFrame =
    side(sets, a, g, 1).join(side(sets, b, g, 2), col(a) < col(b))

  private def side(sets: DataFrame, id: String, g: String, i: Int): DataFrame =
    sets.select(col("doc_id").as(id), col(g).as(s"$g$i"))
}
