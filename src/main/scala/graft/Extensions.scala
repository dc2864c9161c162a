package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2 group E — LLM-training-data pipeline operators over the
  * documents fixture: the dedup family (exact, MinHash signatures, LSH
  * banding, n-gram Jaccard, SimHash) and text analysis (language-ID
  * heuristic, quality scoring, token counting, fingerprinting), plus the
  * multimodal binary-column surface.
  *
  * Cross-engine determinism trick used throughout: the shared token hash
  * H(t) = first 8 hex chars of md5(t) as an integer — Spark
  * `conv(substring(md5(t),1,8),16,10)` ≡ DuckDB
  * `cast('0x'||substring(md5(t),1,8) as bigint)` — so every MinHash/SimHash/
  * fingerprint value is exact integer math identical on both engines.
  *
  * Scale design: everything here is explode → groupBy(doc) — shuffle keyed by
  * doc_id, embarrassingly parallel over documents; the LSH banding (e03)
  * exists precisely so the 100 TB near-dup join is bucket-local instead of
  * all-pairs. No UDFs — all lambdas are Catalyst higher-order functions.
  *
  * The near-dup queries shingle, sign, band and verify through
  * [[SetSimilarity]]; their DuckDB twins share the signature and banding
  * CTE fragments defined beside `minhashCte`.
  */
object Extensions {
  import Tables.load
  import SetSimilarity._

  /** Shared cross-engine token hash (see module doc) — first 32 md5 bits,
    * unsigned. Direct-from-digest expression, bit-identical to the previous
    * composed `conv(substring(md5(t),1,8),16,10)` form (and to the DuckDB
    * twins, which still spell it that way) at ~2-3× the throughput; see
    * [[graft.functions.TokenHash64]]. */
  def tokenHash(t: Column): Column = graft.functions.TokenHash64(t)

  /** The doc_id%10 audit sample of the documents corpus: the input of the
    * signature artifact, the candidate graph and the unigram verify sets. */
  private def sample10(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents").filter(col("doc_id") % 10 === 0)

  /** e113b's banded candidate stage over a per-doc shingle-set frame
    * `(doc_id, g ARRAY<LONG>)`: 8 minhash permutations over the shingle
    * hashes, 2×4 banding, bucket-local pairs — plus the e04b df-cut
    * discipline transplanted to the band layer as a HOT-BUCKET CAP. A
    * (band, bucket) holding m docs emits m(m−1)/2 candidate pairs, and on
    * a real crawl one giant boilerplate cluster is exactly where near-dup
    * mass concentrates — uncapped, a single m=10⁶ bucket is 5·10¹¹ pairs.
    * Buckets past `maxBucket` drop out of candidate generation entirely
    * (their docs still pair through their OTHER bands, whose buckets may
    * split the mass differently; a cluster hot in ALL bands is boilerplate
    * the downstream split treats as singletons — the same deliberate
    * blindness as e04b's df cut). The e113b oracle recomputes the
    * IDENTICAL capped candidate set, so the gate stays exact; e113's
    * exact join remains the recall anchor. Factored out so specs can
    * exercise the cap with tiny corpora and tiny caps. */
  private[graft] def lshBandCandidates(sets: DataFrame,
                                       maxBucket: Long = 128L): DataFrame = {
    val sig = signatures(sets.select(col("doc_id"), explode(col("g")).as("h")))
    val bands = bandsFromSigs(sig, 2, 4)
    // the hot set is tiny by construction (≤ |corpus|/maxBucket buckets
    // can exceed the cap) → broadcast anti-join, never a shuffle
    val hotB = bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("m")).filter(col("m") > maxBucket)
      .select(col("band"), col("bucket"))
    val kept = bands.join(broadcast(hotB), Seq("band", "bucket"), "left_anti")
    sharedBands(kept, "a", "b").select("a", "b")
  }

  /** The e113-family 3-gram shingle-set frame `(doc_id, g ARRAY<LONG>)`
    * over documents — the ONE tokenize pass e113 (exact), e113b (banded
    * candidates), and e113c (recall audit) all derive from. The declared
    * queries read it through [[shingleSets3Artifact]] (write-once parquet,
    * one build per corpus snapshot); this stays the from-scratch builder
    * and the probe/spec entry point. */
  private[graft] def shingleSets3(s: SparkSession, d: String): DataFrame =
    shingleSets(load(s, d, "documents"), 3, "g", "doc_id")

  /** e113's EXACT verified-pair stage: inverted co-shingle postings join,
    * Jaccard ≥ 0.5 on the pair stream. Σ df²-bounded (the reason e113b's
    * banded stage exists for 100 TB).
    *
    * Postings carry the owning doc's shingle-set size n, so the verify
    * arithmetic needs NO join back to a per-doc sizes table: the r10 probe
    * showed the pair stream is ~90% DISTINCT pairs (100×: 126.6M instances
    * over 113.1M pairs, DuckDB-recounted), and joining that stream to a
    * sizes frame is exactly the step that blew up at 100× — below AQE's
    * 10 MB runtime threshold the sizes side broadcast for free, above it
    * the SMJ re-shuffled the 113M-row pair stream TWICE (the 274→3275 MB
    * cliff r10 misread as partial-agg saturation). Widening each posting
    * by 8 bytes makes the whole stage one join + one aggregation at every
    * scale. Exchange sizing: ~400k postings (~2M pair instances) per task
    * keeps the pair groupBy's partial map resident instead of
    * sort-spilling; sized from Σ|shingle set| over the PER-DOC frame — the
    * identical number `posts.count()` would scan the full exploded posting
    * stream for, derived instead from one 1-row agg over the (small,
    * checkpointed) per-doc rows: at 100 TB that is the difference between
    * a control-plane action and an extra full pass of the stream. */
  private[graft] def exactShinglePairs(s: SparkSession,
                                       sh: DataFrame): DataFrame = {
    val posts = sh.select(col("doc_id"), size(col("g")).as("n"),
      explode(col("g")).as("g"))
    val totalPostings =
      sh.agg(coalesce(sum(size(col("g"))), lit(0L)).cast(LongType))
        .head().getLong(0)
    val kExch = math.max(s.sessionState.conf.numShufflePartitions,
      (totalPostings / 400000L).toInt)
    val binned = posts.repartition(kExch, col("g"))
    // Jaccard needs only na+nb (union = na+nb-nc), so the pair rows carry
    // ONE size sum, not two sizes — 32-byte keys on a ~113M-row stream is
    // real money
    val shared = binned.as("x").join(binned.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (col("x.n") + col("y.n")).as("sab"))
      .agg(count(lit(1)).as("nc"))
    shared
      .filter(col("nc").cast(DoubleType) / (col("sab") - col("nc")) >= 0.5)
      .select(col("a"), col("b"))
  }

  /** e113b's verified-pair stage: banded candidates
    * ([[lshBandCandidates]], hot-bucket cap included) verified by EXACT
    * shingle Jaccard ≥ 0.5 — each surfaced pair pulls two shingle arrays
    * (the e03b economics); unsurfaced pairs cost nothing. The sets side of
    * the verify join is first semi-joined down to docs that appear in a
    * candidate at all: without it the join moves the WHOLE corpus's
    * shingle arrays once the sets frame outgrows the broadcast threshold
    * (the 30×→100× shuffle cliff the round-13 decade probe exposed —
    * ×8.8 where candidates grew ×3.3); with it the verify's data movement
    * rides |candidate docs|, which the banding already bounds. The
    * checkpoint materializes the (small) candidate list once for its two
    * consumers (the doc filter and the pair join). */
  private[graft] def lshVerifiedPairs(sets: DataFrame): DataFrame = {
    val cand = lshBandCandidates(sets).localCheckpoint()
    val candDocs = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    // explicit broadcast: candDocs is an id list the banding bounds to
    // O(|candidates|); without the hint the semi join plans as SMJ and
    // shuffles the corpus-sized sets frame — the opposite of its purpose
    val needed = sets.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    withSets(cand, needed, "a", "b", "g")
      .withColumn("nc", overlap(col("g1"), col("g2")))
      .filter(jaccard(col("nc"), size(col("g1")), size(col("g2"))) >= 0.5)
      .select(col("a"), col("b"))
  }

  private val tokenHashSql: String =
    "CAST(concat('0x', substring(md5(%s), 1, 8)) AS BIGINT)"

  /** Distinct LSH candidate pairs over the doc_id%10 sample — the shared
    * candidate source of ten audit/graph consumers (e43, e45, e50, e56,
    * e57, e58, e63, e69, e89, e112). Disk-materialized via
    * [[corpusArtifact]]: the banding self-join runs once per corpus
    * snapshot (built on the signature artifact, so the tokenize pass is
    * shared too); every consumer after the first reads a bare parquet
    * scan. e03b runs the same [[SetSimilarity]] steps from scratch instead
    * of reading this artifact: it is the gate on the candidate math
    * itself. */
  private[graft] def lshCandidates(s: SparkSession, d: String): DataFrame =
    corpusArtifact(s, d, "lsh_cand_pairs_s10") {
      val bands = bandsFromSigs(minhashSigsArtifact(s, d), 2, 4)
      sharedBands(bands, "d1", "d2").select("d1", "d2")
    }

  /** Exact NTILE(10)-over-doc_id decile map WITHOUT a global window.
    * NTILE is rank-arithmetic: with N rows, q = N/10, r = N%10, tile t's
    * last rank is U(t) = t*q + min(t, r), so decile(rank) =
    * 1 + |{t in 1..9 : rank > U(t)}| — nine broadcast Long literals and
    * integer comparisons, no division. The rank itself:
    *   - dense doc_id (max-min+1 == count, the documents fixture and any
    *     sequence-assigned corpus id): rank = doc_id - min + 1, pure
    *     map-side arithmetic — ZERO shuffle, zero window, the form that
    *     survives 100 TB (one 1-row count() agg, then a narrow scan).
    *   - sparse doc_id: rank via a 1024-bucket range histogram (bounded
    *     driver collect) + row_number PARTITIONED by bucket — parallel,
    *     never an Exchange SinglePartition.
    * Both paths reproduce SQL NTILE bit-exactly (larger tiles first). */
  private[graft] def ntileDecilesByDocId(s: SparkSession, d: String): DataFrame =
    ntileDecilesOf(s, load(s, d, "documents"))

  /** Core of [[ntileDecilesByDocId]] over any frame with a unique
    * `doc_id` column (spec-testable with synthetic sparse ids). */
  private[graft] def ntileDecilesOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ids = docs.select(col("doc_id").cast(LongType).as("doc_id"))
    val row = ids.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
      count(lit(1)).as("n")).head()
    val n = row.getLong(2)
    // empty input: min/max are SQL NULL — return the empty decile map the
    // window form would, instead of NPE-ing on getLong
    if (n == 0L)
      return ids.select(col("doc_id"), lit(1).cast(IntegerType).as("decile"))
        .limit(0)
    val (mn, mx) = (row.getLong(0), row.getLong(1))
    val decileOf = ntileDecileOfRank(n) _
    // span arithmetic in BigInt: ids spanning near the full Long range
    // (mn << 0 << mx) overflow mx-mn+1, which would silently take the
    // dense path or collapse the bucket width to garbage
    val span = BigInt(mx) - BigInt(mn) + 1
    if (span == BigInt(n)) {
      // dense: rank derivable from the id itself, map-side only
      ids.select(col("doc_id"), decileOf(col("doc_id") - mn + 1L))
    } else {
      // sparse: range-bucket histogram -> per-bucket rank offsets (driver
      // side, <=1026 rows), then row_number within each bucket
      val nb = math.min(1024L, n)
      // overflow-free bucketing: clamp BEFORE toLong — with nb=2 and ids
      // spanning (nearly) the full Long range, ceil(span/nb) is 2^63 and a
      // bare toLong wraps NEGATIVE, reversing bucket order (wrong deciles).
      // An oversized clamped width only collapses buckets — still rank-exact.
      val width = ((span + nb - 1) / nb).max(1)
        .min(BigInt(Long.MaxValue)).toLong
      // bucket on the UNSHIFTED id: `doc_id - mn` would itself wrap for
      // ranges spanning most of Long; truncating DIV is monotone in
      // doc_id, so ranks stay exact, at the cost of ≤2 extra edge buckets
      val bucketed = ids.withColumn("bkt",
        expr(s"doc_id DIV $width"))
      val counts = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
        .orderBy(col("bkt")).collect()
      var cum = 0L
      val offs = counts.map { rw =>
        val o = (rw.getLong(0), cum)
        cum += rw.getLong(1); o
      }.toSeq
      val offDf = s.createDataFrame(offs).toDF("bkt2", "off")
      bucketed
        .join(broadcast(offDf), col("bkt") === col("bkt2"))
        .withColumn("rank", col("off") + row_number()
          .over(Window.partitionBy(col("bkt")).orderBy(col("doc_id"))))
        .select(col("doc_id"), decileOf(col("rank")))
    }
  }

  /** NTILE(10) as rank arithmetic (shared by the doc_id and score decile
    * maps): with N rows, q = N/10, r = N%10, tile t's last rank is
    * U(t) = t*q + min(t, r), so decile(rank) = 1 + |{t in 1..9 :
    * rank > U(t)}| — nine broadcast Long literals, no division, exactly
    * SQL NTILE's larger-tiles-first split. */
  private def ntileDecileOfRank(n: Long)(rank: Column): Column = {
    val q = n / 10; val r = n % 10
    (1L to 9L).map(t => t * q + math.min(t, r)) // U(1..9)
      .foldLeft(lit(1)) { (acc, u) =>
        acc + when(rank > u, 1).otherwise(0)
      }.cast(IntegerType).as("decile")
  }

  /** Exact NTILE(10) over (score ASC, doc_id ASC) WITHOUT a global window —
    * the score-ordered sibling of [[ntileDecilesOf]] for rank-binning a
    * FLOAT column (e33-style quality logits), where the dense-id map-side
    * arithmetic cannot apply. Shape:
    *   1. one 3-value driver agg (min/max/count) sizes ≤1024 equal-width
    *      score ranges; one ≤1025-row driver collect turns per-range counts
    *      into global rank offsets (both control-plane; offsets broadcast);
    *   2. rank = range offset + row_number PARTITIONED by range (ordered
    *      by score, doc_id) — parallel, never an Exchange SinglePartition
    *      — and [[ntileDecileOfRank]] bins it.
    * EXACT, not approximate: floor((score-mn)/width) is weakly monotone in
    * score under IEEE arithmetic (constant subtract, then divide by a
    * positive constant, both exactly-rounded) and equal scores share a
    * range, so range-offset + local rank IS the global (score, doc_id)
    * rank. Degenerate inputs: all-equal scores delegate to the doc_id path
    * (the tie-break order IS the id order); scores are assumed finite (a
    * NaN/Inf logit is a scoring bug upstream).
    *
    * SKEW: a range holding more than `hotCap` rows would degrade its
    * row_number toward a global sort partition, so hot ranges get a SECOND
    * split level from the same stats pass — finer score ranges when the
    * hot range has score spread, doc_id ranges when it is one pure tie
    * (order within a tie IS doc_id, so id-bucketing stays rank-monotone).
    * Sub-range counts are sized to ~hotCap rows each; two levels cover
    * skew ratios to ~1024² (a third level is not built — document the
    * corpus instead). The ≤128 hottest ranges are split; anything beyond
    * that is a distribution the histogram can't see, not a plan problem.
    * Input: any frame with (doc_id LONG-castable unique, score
    * DOUBLE-castable) plus any payload columns; output = the input columns
    * with `decile` appended (payload carried through, so consumers never
    * join back against a corpus-sized decile map). */
  private[graft] def ntileDecilesByScoreOf(scored: DataFrame,
                                           hotCap: Long = 1L << 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = scored.withColumn("doc_id", col("doc_id").cast(LongType))
      .withColumn("score", col("score").cast(DoubleType))
    val h = rows.agg(min(col("score")), max(col("score")), count(lit(1))).head()
    val n = h.getLong(2)
    if (n == 0L)
      return rows.withColumn("decile", lit(1).cast(IntegerType)).limit(0)
    val (mnS, mxS) = (h.getDouble(0), h.getDouble(1))
    if (!(mxS > mnS)) // all scores equal: NTILE order reduces to doc_id
      return rows.join(
        ntileDecilesOf(rows.sparkSession, rows.select(col("doc_id"))), "doc_id")
    val decileOf = ntileDecileOfRank(n) _
    val nb = math.min(1024L, n)
    val width = (mxS - mnS) / nb
    val bucketed = rows.withColumn("bkt",
      least(floor((col("score") - mnS) / width), lit(nb - 1)).cast(LongType))
    // ONE stats pass carries everything both levels need: count per range
    // plus the score/id bounds a hot range's sub-split derives from
    val stats = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("c"),
        min(col("score")).as("s0"), max(col("score")).as("s1"),
        min(col("doc_id")).as("i0"), max(col("doc_id")).as("i1"))
      .orderBy(col("bkt")).collect()
    val hot = stats.filter(_.getLong(1) > hotCap)
      .sortBy(-_.getLong(1)).take(128)
    val sess = rows.sparkSession
    if (hot.isEmpty) {
      var cum = 0L
      val offs = stats.map { rw =>
        val o = (rw.getLong(0), cum)
        cum += rw.getLong(1); o
      }.toSeq
      val offDf = sess.createDataFrame(offs).toDF("bkt2", "off")
      bucketed.join(broadcast(offDf), col("bkt") === col("bkt2"))
        // rank materializes as its OWN column first: inlining it into the
        // nine decile comparisons would expand to nine copies of the
        // row_number window expression in the Window node
        .withColumn("rank", col("off") + row_number()
          .over(Window.partitionBy(col("bkt"))
            .orderBy(col("score"), col("doc_id"))))
        .withColumn("decile", decileOf(col("rank")))
        .drop("bkt", "bkt2", "off", "rank")
    } else {
      // level 2: each hot range sub-splits into ~c/hotCap pieces (≤1024).
      // Score-spread ranges split by finer score width — equal scores
      // still land together, so sub is monotone in (score, doc_id).
      // Pure-tie ranges split by unshifted doc_id DIV (overflow-free,
      // truncating DIV is monotone; within a tie the order IS doc_id).
      val subCol = hot.foldRight(lit(0L)) { (hb, acc) =>
        val (bkt, c) = (hb.getLong(0), hb.getLong(1))
        val (s0, s1) = (hb.getDouble(2), hb.getDouble(3))
        val nsub = math.min(1024L, math.max(2L, (c + hotCap - 1) / hotCap))
        val sub: Column =
          if (s1 > s0) {
            val w = (s1 - s0) / nsub
            least(floor((col("score") - s0) / w), lit(nsub - 1)).cast(LongType)
          } else {
            val span = BigInt(hb.getLong(5)) - BigInt(hb.getLong(4)) + 1
            // same toLong-wrap clamp as the level-1 width above (nsub≥2
            // with a near-full-Long id span would reverse bucket order)
            val wId = ((span + nsub - 1) / nsub).max(1)
              .min(BigInt(Long.MaxValue)).toLong
            expr(s"doc_id DIV $wId")
          }
        when(col("bkt") === bkt, sub).otherwise(acc)
      }
      val b2 = bucketed.withColumn("sub", subCol)
      // control-plane collect, worst case = 128 hot ranges × 1024 subs each
      // + ≤1024 cold ranges ≈ 132k (bkt, sub, count) rows driver-side — a
      // few MB, bounded by the hot(128)/nsub(1024) caps above, NOT by the
      // ≤1025-row level-1 histogram
      val counts2 = b2.groupBy(col("bkt"), col("sub")).agg(count(lit(1)).as("c"))
        .orderBy(col("bkt"), col("sub")).collect()
      var cum = 0L
      val offs = counts2.map { rw =>
        val o = (rw.getLong(0), rw.getLong(1), cum)
        cum += rw.getLong(2); o
      }.toSeq
      val offDf = sess.createDataFrame(offs).toDF("bkt2", "sub2", "off")
      b2.join(broadcast(offDf),
          col("bkt") === col("bkt2") && col("sub") === col("sub2"))
        .withColumn("rank", col("off") + row_number()
          .over(Window.partitionBy(col("bkt"), col("sub"))
            .orderBy(col("score"), col("doc_id"))))
        .withColumn("decile", decileOf(col("rank")))
        .drop("bkt", "bkt2", "sub", "sub2", "off", "rank")
    }
  }

  /** Shared tail of the leakage-safe splitters (e113 exact-candidate /
    * e113b LSH-candidate): large/small-star closure over the VERIFIED
    * edges, split assignment by component-label hash, per-split volumes
    * plus the computed-not-asserted cross-split verified-pair count. */
  private def leakSplitReport(s: SparkSession, d: String,
                              verified: DataFrame): DataFrame = {
    val (comp, _) = operators.ConnectedComponents.run(
      load(s, d, "documents").select(col("doc_id").as("node")), verified)
    val hid = tokenHash(col("comp").cast(StringType)) % 100
    val sp = comp.withColumn("split",
      when(hid < 80, "train").when(hid < 90, "val").otherwise("test"))
    val vol = sp.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("comp")).as("n_clusters"))
    val leaks = verified
      .join(sp.select(col("node").as("a"), col("split").as("s1")), "a")
      .join(sp.select(col("node").as("b"), col("split").as("s2")), "b")
      .filter(col("s1") =!= col("s2"))
      .groupBy(least(col("s1"), col("s2")).as("split"))
      .agg(count(lit(1)).as("n_leak"))
    vol.join(broadcast(leaks), Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clusters"),
        coalesce(col("n_leak"), lit(0L)).as("n_leak_pairs"))
      .orderBy("split")
  }

  /** The e33-convention quality logit per document — shared by e105 (the
    * pinned-window exact-semantics anchor) and e105b (the windowless
    * production form), so both bin the bit-identical float. */
  private def e105Scored(s: SparkSession, d: String): DataFrame = {
    val tk = toks(col("text"))
    val n = size(tk)
    val ttr = size(array_distinct(tk)).cast(DoubleType) / n
    val stopRatio = size(filter(tk, t => t === "the" || t === "a"))
      .cast(DoubleType) / n
    load(s, d, "documents")
      .select(col("doc_id"), n.cast(LongType).as("n_tok"),
        (lit(-1.5) + lit(2.0) * ttr
          + lit(0.01) * least(n.cast(DoubleType), lit(100.0))
          + lit(3.0) * stopRatio).as("score"))
  }

  /** BM25 (k1=1.2, b=0.75) per-doc scores for the fixed 3-term query,
    * rounded to 6 dp — the lexical retrieval pipeline shared by e40 and the
    * hybrid-retrieval fusion (Similarity's e76). Postings-only explode,
    * broadcast df/corpus stats, fixed-order pivoted summation so scores
    * are bit-stable cross-engine; no corpus-wide shuffle. */
  private[graft] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val docs = load(s, d, "documents")
    val dl = docs.select(col("doc_id"), size(toks(col("text"))).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      .filter(col("t").isin("spark", "merge", "vector"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("t")).agg(count(lit(1)).as("dft"))
    val c = tf.join(broadcast(dft), "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast(DoubleType) / col("n_docs"))
      .withColumn("c",
        log(lit(1.0) + (col("n_docs") - col("dft") + 0.5) / (col("dft") + 0.5)) *
          ((col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))))
    c.groupBy(col("doc_id"))
      .agg(max(when(col("t") === "spark", col("c"))).as("cs"),
        max(when(col("t") === "merge", col("c"))).as("cm"),
        max(when(col("t") === "vector", col("c"))).as("cv"))
      .select(col("doc_id"),
        round(coalesce(col("cs"), lit(0.0)) + coalesce(col("cm"), lit(0.0))
          + coalesce(col("cv"), lit(0.0)), 6).as("score"))
  }

  /** DuckDB twin of [[bm25Scores]] (a CTE body yielding doc_id, score). */
  private[graft] val bm25ScoresSql: String =
    """dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      |tf AS (SELECT doc_id, t, count(*) AS tf
      |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |       WHERE t IN ('spark', 'merge', 'vector') GROUP BY doc_id, t),
      |dft AS (SELECT t, count(*) AS dft FROM tf GROUP BY t),
      |cc AS (SELECT tf.doc_id, tf.t,
      |        ln(1.0 + (st.n_docs - dft.dft + 0.5) / (dft.dft + 0.5)) *
      |          ((tf.tf * 2.2) /
      |            (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (st.sum_dl::DOUBLE / st.n_docs)))) AS c
      |      FROM tf JOIN dft USING (t) JOIN dl USING (doc_id) CROSS JOIN st),
      |bm25 AS (SELECT doc_id,
      |  round(coalesce(max(CASE WHEN t = 'spark' THEN c END), 0.0)
      |      + coalesce(max(CASE WHEN t = 'merge' THEN c END), 0.0)
      |      + coalesce(max(CASE WHEN t = 'vector' THEN c END), 0.0), 6) AS score
      |FROM cc GROUP BY doc_id)""".stripMargin

  /** Exact near-dup ground truth (dense unigram Jaccard ≥ 0.1 over the
    * %10 audit sample) — shared by the e58/e63 evaluation queries. The
    * quadratic join is the point: truth is only ever computed on the
    * bounded audit slice — and, via [[corpusArtifact]], only ONCE per
    * corpus snapshot: it is the single most expensive shared prefix in
    * the audit family, so both evaluators read the materialized pairs. */
  private[graft] def sampledTruthPairs(s: SparkSession, d: String): DataFrame =
    corpusArtifact(s, d, "truth_pairs_s10_j01") {
      val sets = tokenSets(sample10(s, d))
        // checkpoint, not persist: both join sides of the one-time build
        // read it from storage; local blocks release on GC
        // (ContextCleaner) instead of accumulating for the session.
        .transform(operators.RoundCheckpointer.resolve(s, None).truncate)
      allPairsWithSets(sets, "d1", "d2", "tk")
        .withColumn("nc", overlap(col("tk1"), col("tk2")))
        .filter(jaccard(col("nc"), size(col("tk1")), size(col("tk2"))) >= 0.1)
        .select("d1", "d2")
    }

  /** Min-label components of the LSH candidate graph over the doc_id%10
    * sample (e21 runs this from scratch as the gate; the other label
    * consumers probe [[lshComponentsArtifact]]) — returns (node, label,
    * depth) with label = the component's minimum doc_id and depth = the
    * round the node's label LAST strictly decreased. Because the minimum
    * label originates only at the canonical node and travels one hop per
    * synchronous round, that last-decrease round IS the node's BFS
    * distance from the canonical node — so the e73 eccentricity histogram
    * falls out of this loop for free, with zero extra joins and no second
    * candidate-graph build. Driver loop is control-plane only (one keyed
    * join + min-agg per round; sum(label) strictly decreases, so one
    * scalar action per round detects the fixpoint). The O(log n)
    * large-star/small-star variant lives in operators/ConnectedComponents. */
  private[graft] def lshComponents(s: SparkSession, d: String): DataFrame = {
    val ck = operators.RoundCheckpointer.resolve(s, None)
    // Materialization policy (r17): every reused frame goes through the
    // RoundCheckpointer (CC.run's discipline), NOT persist(). A persist()ed
    // plan materializes WITHOUT adaptive execution
    // (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning defaults
    // false, so Spark pins the cached plan's partitioning), which freezes
    // every round frame at the session's full shuffle width — measured on
    // e21 at 32 cores: 810 tasks / 31 stages for a KB-sized fixpoint,
    // SLOWER at 32 cores than at 8 (the r16 verdict's inversion, ratio
    // 0.63). A checkpoint materializes through AQE, so the blocks land at
    // the byte-coalesced width (34 tasks total, ~2x wall) while still
    // growing with data at scale. Blocks are GC-released (ContextCleaner);
    // explicit unpersist is a no-op on checkpointed frames.
    val sig = ck.truncate(minhashSigs(sample10(s, d)))
    val edges = sharedBands(bandsFromSigs(sig, 2, 4), "a", "b").select("a", "b")
    // feeds every round's join — eager: nothing downstream materializes it
    // before the first round otherwise
    val und = ck.truncate(edges
      .unionByName(edges.select(col("b").as("a"), col("a").as("b"))))
    var labels = ck.truncateLazy(
      sig.select(col("doc_id").as("node"), col("doc_id").as("label"),
        lit(0).as("depth")))
    var checksum = labels.agg(sum(col("label"))).head().getLong(0)
    var round = 0
    var done = false
    while (!done) {
      round += 1
      // min incoming label per node, then one left join against the
      // current labels: a label that strictly improves stamps this round
      // as the node's depth (= BFS distance once the improving label is
      // the component minimum, which is the last improvement by
      // uniqueness of the minimum)
      val incoming = und.join(labels.select(col("node").as("a"), col("label")), "a")
        .groupBy(col("b")).agg(min(col("label")).as("in_label"))
        .select(col("b").as("node"), col("in_label"))
      // lazy: the checksum action that follows materializes the round's
      // blocks (the CC.run pattern — one scheduler round-trip per round)
      val next = ck.truncateLazy(labels.join(incoming, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("in_label"), col("label"))).as("label"),
          when(coalesce(col("in_label"), col("label")) < col("label"), lit(round))
            .otherwise(col("depth")).as("depth")))
      val c2 = next.agg(sum(col("label"))).head().getLong(0)
      labels = next
      if (c2 == checksum) done = true else checksum = c2
    }
    labels
  }

  /** Write-once, content-keyed disk artifact derived from an SF dir's
    * documents.parquet — the e09c index recipe generalized: in a real
    * pipeline each derived table (cluster labels, MinHash signatures,
    * candidate pairs, audit ground truth) is computed ONCE per corpus
    * snapshot and consumed by every downstream stage. Content key: md5 of
    * the full listing signature (name:length:mtime of every part file) —
    * a regenerated corpus can never serve a stale artifact, and 64 bits
    * of a cryptographic digest can't collide the way a 32-bit hashCode
    * could. Concurrency: compute lands in a tmp dir committed via
    * FileContext.rename WITHOUT Options.Rename.OVERWRITE — unlike
    * FileSystem.rename, which on both HDFS and the local FS "succeeds"
    * against an existing destination by moving tmp INSIDE it (nesting a
    * duplicate parquet tree the readers would double-count), FileContext
    * throws FileAlreadyExistsException when the destination exists, so
    * losing the race is an explicit signal: the loser deletes its tmp and
    * reads the winner. Post-commit we verify _SUCCESS exists and no
    * nested __tmp_* child appeared, failing loudly rather than serving a
    * corrupt artifact. Root: [[graft.operators.ArtifactRoot]] — local
    * tmpdir by default, `graft.artifact.dir` for a cluster-shared FS. */
  private[graft] def corpusArtifact(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Path}
    val hconf = s.sparkContext.hadoopConfiguration
    val src = new Path(s"$d/documents.parquet")
    val sfs = src.getFileSystem(hconf)
    val st = sfs.getFileStatus(src)
    val parts =
      if (st.isDirectory) sfs.listStatus(src).toSeq.sortBy(_.getPath.getName)
      else Seq(st)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(parts
        .map(p => s"${p.getPath.getName}:${p.getLen}:${p.getModificationTime}")
        .mkString("|").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    val tag = d.replaceAll("[^A-Za-z0-9.]", "_")
    val root = new Path(
      s"${operators.ArtifactRoot.resolve(s)}/graft_$tag/${name}_$key")
    val rfs = root.getFileSystem(hconf)
    if (!rfs.exists(new Path(root, "_SUCCESS"))) {
      val tmp = new Path(root.getParent,
        root.getName + "__tmp_" + java.util.UUID.randomUUID().toString)
      build.write.mode("overwrite").parquet(tmp.toString)
      val fc = FileContext.getFileContext(rfs.getUri, hconf)
      try fc.rename(tmp, root) // no OVERWRITE: existing root => exception
      catch {
        case _: FileAlreadyExistsException | _: org.apache.hadoop.fs.PathExistsException =>
          () // lost the race — the winner's committed artifact stands
      }
      finally if (rfs.exists(tmp)) rfs.delete(tmp, true)
      require(rfs.exists(new Path(root, "_SUCCESS")),
        s"$name commit left no complete artifact at $root")
      require(!rfs.listStatus(root).exists(_.getPath.getName.startsWith("__tmp_")),
        s"$name commit nested a tmp tree inside $root")
    }
    // Crashed-writer GC: a writer that dies mid-build never reaches its
    // own tmp cleanup, and content-keyed roots live for the corpus
    // snapshot's lifetime — on a shared artifact dir the orphans
    // accumulate one parquet tree per crash. Once THIS key's artifact is
    // committed, any sibling tmp for the same key is either a defeated
    // racer that will (if alive) delete its own in its finally, or crash
    // garbage; the 1 h age floor keeps a still-writing (already-defeated)
    // racer's files out of reach, and both deleters racing the same
    // orphan is idempotent. The age test uses the NEWEST mtime anywhere
    // in the tmp tree, not the top dir's — part files land under
    // _temporary/ subdirs, so a legitimately >1 h build keeps refreshing
    // leaf mtimes while the top dir goes stale; judging the top dir
    // alone could yank a live racer's tmp mid-write and turn its
    // graceful lose-and-read-winner path into a job failure. Failures
    // are ignored — GC must never block a read.
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    def newestMtime(p: Path): Long =
      try {
        var newest = rfs.getFileStatus(p).getModificationTime
        val it = rfs.listFiles(p, true)
        while (it.hasNext) {
          val m = it.next().getModificationTime
          if (m > newest) newest = m
        }
        newest
      } catch { // tree vanished/unlistable mid-walk: treat as fresh
        case _: java.io.IOException => Long.MaxValue
      }
    try rfs.listStatus(root.getParent)
      .filter(c => c.getPath.getName.startsWith(root.getName + "__tmp_") &&
        c.getModificationTime < cutoff && newestMtime(c.getPath) < cutoff)
      .foreach(c => rfs.delete(c.getPath, true))
    catch { case _: java.io.IOException => () }
    s.read.parquet(root.toString)
  }

  /** Disk-materialized [[lshComponents]] — r7 measured the six
    * label-consuming queries independently rebuilding the identical
    * fixpoint for ~12% of the bench. e21 stays the from-scratch gate
    * (it calls [[lshComponents]] directly and its oracle re-derives the
    * closure in SQL); e25/e49/e59/e73/e101/e102 probe this artifact. */
  private[graft] def lshComponentsArtifact(s: SparkSession, d: String): DataFrame =
    corpusArtifact(s, d, "lsh_components")(lshComponents(s, d))

  /** Disk-materialized k=8 MinHash signature table over the doc_id%10
    * audit sample — the candidate-generation prefix (tokenize → hash →
    * 8-way min agg) that r8 measured recomputed by every audit /
    * calibration consumer (e58/e63/e90/e112/e43/e69 and the graph
    * queries). e02/e02b/e03/e03b stay the from-scratch gates for the
    * signature math itself; consumers of DERIVED results probe this. */
  private[graft] def minhashSigsArtifact(s: SparkSession, d: String): DataFrame =
    corpusArtifact(s, d, "minhash_sigs_s10") {
      minhashSigs(sample10(s, d).select(col("doc_id"), col("text")))
    }

  /** Disk-materialized [[shingleSets3]] — the e113-family shared 3-gram
    * shingle frame (r17, per the r16 verdict's explicit regime ruling):
    * e113, e113b and e113c each rebuilt the identical tokenize→hash→
    * array_distinct transform; like every [[corpusArtifact]] it is built
    * ONCE per corpus snapshot (untimed at bench warm-up, content-keyed so
    * a regenerated corpus can never serve stale shingles) and every
    * consumer reads a bare parquet scan. Each query's pair/closure/split
    * stages — the parts their oracles gate — still compute from scratch. */
  private[graft] def shingleSets3Artifact(s: SparkSession, d: String): DataFrame =
    corpusArtifact(s, d, "shingle_sets3")(shingleSets3(s, d))

  /** Force-build every write-once corpus artifact for snapshot `d` —
    * called UNTIMED from the bench warm-up so no timed query pays a
    * one-time snapshot-prep build (r16's e50 +50% was exactly that: the
    * first lsh_cand_pairs consumer in run order carried the build, and
    * Map iteration order decides which query that is). In production these
    * exist before any query runs; building them here is the same regime,
    * applied uniformly instead of leaking through whichever query happens
    * to run first. corpusArtifact itself writes during the call, so
    * invoking each getter is sufficient — no action needed on the result. */
  private[graft] def prebuildArtifacts(s: SparkSession, d: String): Unit = {
    minhashSigsArtifact(s, d)      // minhash_sigs_s10
    lshCandidates(s, d)            // lsh_cand_pairs_s10 (reads sigs artifact)
    lshComponentsArtifact(s, d)    // lsh_components
    sampledTruthPairs(s, d)        // truth_pairs_s10_j01
    shingleSets3Artifact(s, d)     // shingle_sets3
    ()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E1 exact dedup — hash-groupBy on a normalized fingerprint (first 10
    // tokens), keep the smallest doc_id. Map-side combine makes the shuffle
    // |distinct keys|, not |docs|.
    "e01_exact_dedup" -> { (s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          md5(array_join(slice(toks(lower(trim(col("text")))), 1, 10), " ")).as("k"))
        .groupBy(col("k"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
        .select("keep_doc_id", "n_copies")
        .orderBy("keep_doc_id")
    },
    // E1/E2 MinHash signatures — k=8 permutation hashes over the distinct
    // unigram token set (shingle=1 documented simplification; the 31-token
    // vocabulary makes larger shingles degenerate).
    "e02_minhash_sig" -> { (s, d) =>
      minhashSigs(load(s, d, "documents")).orderBy("doc_id")
    },
    // E1/E2 MinHash via the native single-buffer aggregate (one Array[Long](8)
    // buffer + one loop per row instead of 8 independent min() aggregates) —
    // same signatures, same oracle as e02.
    "e02b_minhash_native" -> { (s, d) =>
      graft.functions.MinHashAgg.register(s)
      tokenHashes(load(s, d, "documents")).groupBy(col("doc_id"))
        .agg(graft.functions.MinHashAgg.minhash(col("h")).as("sig"))
        .select(col("doc_id") +: (0 until 8).map(i =>
          element_at(col("sig"), i + 1).as(s"sig$i")): _*)
        .orderBy("doc_id")
    },
    // E1 LSH banding — 4 bands × 2 rows over the MinHash signature; report
    // per-band bucket stats + candidate-pair counts (k·(k−1)/2 per bucket).
    // This is the structure that makes near-dup detection bucket-local at scale.
    "e03_lsh_buckets" -> { (s, d) =>
      minhashBands(load(s, d, "documents"))
        .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("k"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(col("k") >= 2, 1L).otherwise(0L)).as("n_collision_buckets"),
          sum(expr("k * (k - 1) div 2")).as("n_candidate_pairs"))
        .orderBy("band")
    },
    // E1 LSH bucket-join — the pair-producing half of MinHash LSH: docs
    // sharing any band bucket become candidate pairs (joined bucket-locally,
    // never all-pairs), then verified with exact unigram Jaccard. Sampled
    // doc_id%10 to bound output; at 100 TB the same join runs per bucket
    // partition.
    "e03b_lsh_pair_join" -> { (s, d) =>
      val cand = sharedBands(minhashBands(sample10(s, d)), "d1", "d2")
      // sealed overlap: evaluated once, not inlined into numerator AND
      // denominator by CollapseProject
      withSets(cand, tokenSets(sample10(s, d)), "d1", "d2", "tk")
        .withColumn("n_common", overlap(col("tk1"), col("tk2")))
        .select(col("d1"), col("d2"), col("n_shared_bands"),
          jaccard(col("n_common"), size(col("tk1")), size(col("tk2"))).as("jaccard"))
        .orderBy("d1", "d2")
    },
    // E1 containment (|A∩B| / |A|) over the e03b LSH candidates — the
    // asymmetric near-dup metric: a document swallowed by a bigger one
    // (quote, boilerplate wrapper, superset rewrite) scores ~1 on the
    // smaller side while Jaccard stays low. Same bucket-local candidate
    // economics as e03b (containment is only ever computed on pairs LSH
    // already surfaced, never all-pairs); exact small-integer division.
    // Emitted per ORDERED pair (both directions), worst containment first.
    // E1-eval — Jaccard HISTOGRAM over the LSH candidates: how many
    // candidate pairs fall in each exact-similarity decile — the
    // threshold-calibration table read before choosing the dedup cutoff
    // (e63 sweeps BANDINGS at one threshold; this sweeps the threshold
    // axis from one candidate+verify pass). Bin = (10·|A∩B|) div
    // (|A|+|B|−|A∩B|) — exact integer floor division, so bin membership
    // is engine-invariant with no float anywhere; a Jaccard of exactly
    // 1.0 folds into the top bin (9) so bins stay 0..9. Scale: candidates
    // are bucket-local (never all-pairs); the histogram is a 10-row agg.
    "e112_jaccard_histogram" -> { (s, d) =>
      withSets(lshCandidates(s, d), tokenSets(sample10(s, d)), "d1", "d2", "tk")
        .select(overlap(col("tk1"), col("tk2")).as("nc"),
          size(col("tk1")).as("n1"), size(col("tk2")).as("n2"))
        .select(least(expr("(10 * nc) div (n1 + n2 - nc)"), lit(9))
          .cast(LongType).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
        .orderBy("bin")
    },
    "e43_containment" -> { (s, d) =>
      // sealed overlap: keeps the containment filter out of the join
      // condition in BOTH union branches
      val joined = withSets(lshCandidates(s, d), tokenSets(sample10(s, d)),
          "d1", "d2", "tk")
        .withColumn("n_common", overlap(col("tk1"), col("tk2")))
      val fwd = joined.select(col("d1").as("a"), col("d2").as("b"),
        (col("n_common").cast(DoubleType) / size(col("tk1"))).as("containment"))
      val rev = joined.select(col("d2").as("a"), col("d1").as("b"),
        (col("n_common").cast(DoubleType) / size(col("tk2"))).as("containment"))
      fwd.unionByName(rev)
        .filter(col("containment") >= 0.5)
        .orderBy(col("containment").desc, col("a"), col("b"))
        .limit(25)
    },
    // E1 n-gram (bigram-shingle) Jaccard similarity join, language-blocked,
    // over a doc_id%5 sample. Shingles are hashed to longs BEFORE the pair
    // join: the per-pair set intersection compares 8-byte ints instead of
    // strings, and the shuffled build side carries long arrays, not text —
    // the difference between feasible and not at 100 TB. |∩|/|∪| stays exact
    // small-integer division, bit-identical on both engines. Length
    // prefilter (PPJoin-family): J ≤ min/max, so a pair whose shingle-set
    // sizes differ by more than 10× can never reach the 0.1 threshold —
    // the join condition prunes it before the O(|set|) intersect runs.
    "e04_ngram_jaccard" -> { (s, d) =>
      // checkpointed: both join sides read the md5-shingle transform once
      // instead of recomputing it per branch
      val base = shingleSets(load(s, d, "documents").filter(col("doc_id") % 5 === 0),
          2, "bg", "doc_id", "lang")
        .withColumn("nb", size(col("bg")))
        .localCheckpoint() // both join sides; GC-released, see sampledTruthPairs
      val a = base.select(col("doc_id").as("d1"), col("lang"),
        col("bg").as("bg1"), col("nb").as("nb1"))
      val b = base.select(col("doc_id").as("d2"), col("lang").as("lang2"),
        col("bg").as("bg2"), col("nb").as("nb2"))
      a.join(b, col("lang") === col("lang2") && col("d1") < col("d2") &&
          col("nb1") * 10 >= col("nb2") && col("nb2") * 10 >= col("nb1"))
        // sealed overlap: the intersect stays OUT of the join condition
        // (where the optimizer would run it before the cheap prefilters,
        // twice per pair) — one evaluation per surviving pair
        .withColumn("n_common", overlap(col("bg1"), col("bg2")))
        .withColumn("jaccard",
          jaccard(col("n_common"), size(col("bg1")), size(col("bg2"))))
        .filter(col("jaccard") >= 0.1)
        .select("lang", "d1", "d2", "jaccard")
        .orderBy("lang", "d1", "d2")
    },
    // E1 n-gram Jaccard, block-parallel form — same output as e04, different
    // parallelism class. e04's only join key is the language, so its pair
    // work lands on #langs reducers no matter how many cores exist. Here
    // each language is sub-divided into a B×B grid of doc-hash blocks: the
    // a-side owns its row block and is replicated across the B column
    // blocks, the b-side vice versa, so every (a, b) pair meets in exactly
    // one of lang×B² independent blocks. Replication factor B on the
    // sampled projections buys parallelism lang×B² — the standard
    // cross-block self-join decomposition (same family as b7's salted
    // merge). Output provably identical: the oracle is e04's, verbatim.
    // (Measured at fixture scale the wall-clock matches e04 — the pair
    // shuffle is ~10 MB, so AQE correctly coalesces the B² blocks back to a
    // few partitions; the decomposition pays exactly when shuffle sizes are
    // too large to coalesce, which is the 100 TB regime it exists for.)
    "e04c_jaccard_blocked" -> { (s, d) =>
      val B = 4
      val base = shingleSets(load(s, d, "documents").filter(col("doc_id") % 5 === 0),
          2, "bg", "doc_id", "lang")
        .withColumn("nb", size(col("bg")))
        .withColumn("blk", pmod(xxhash64(col("doc_id")), lit(B.toLong)))
        .localCheckpoint() // replicas read the shingle transform once, not 2B×; GC-released
      val grid = explode(sequence(lit(0L), lit(B - 1L))).as("other")
      val a = base.select(col("doc_id").as("d1"), col("lang"),
        col("bg").as("bg1"), col("nb").as("nb1"), col("blk").as("a_row"), grid)
        .withColumnRenamed("other", "a_col")
      val b = base.select(col("doc_id").as("d2"), col("lang").as("lang2"),
        col("bg").as("bg2"), col("nb").as("nb2"), col("blk").as("b_col"), grid)
        .withColumnRenamed("other", "b_row")
      a.join(b,
        col("lang") === col("lang2") &&
          col("a_row") === col("b_row") && col("a_col") === col("b_col") &&
          col("d1") < col("d2") &&
          col("nb1") * 10 >= col("nb2") && col("nb2") * 10 >= col("nb1"))
        // sealed overlap: same plan discipline as e04
        .withColumn("n_common", overlap(col("bg1"), col("bg2")))
        .withColumn("jaccard",
          jaccard(col("n_common"), size(col("bg1")), size(col("bg2"))))
        .filter(col("jaccard") >= 0.1)
        .select("lang", "d1", "d2", "jaccard")
        .orderBy("lang", "d1", "d2")
    },
    // E1 n-gram Jaccard, sparse/inverted-index form — computed the way a
    // 100 TB engine must: explode shingles into a posting list, self-join on
    // the shingle (pairs that share nothing are never materialized), count
    // per pair = |∩|, then join back set sizes. Per-pair set operations
    // disappear; everything is shuffle-keyed aggregation.
    //
    // Document-frequency cut (the quadratic-blowup guard): a shingle with
    // df = k generates k·(k−1)/2 candidate pairs, and the highest-df
    // shingles ("of the"-class) are exactly the ones with the least
    // discriminating power — so shingles with df > 8 on this fixture are
    // dropped BEFORE the pair join, and Jaccard is taken over the filtered
    // shingle sets. (Production rule: cap postings per shingle at a small
    // constant or df ≤ ~0.1% of the corpus; the cut must be applied to the
    // set sizes too, as here, to keep the measure a true Jaccard.) The hot
    // list is tiny by construction → broadcast anti-join, so the posting
    // list itself never shuffles df values around. The posting list is
    // persisted: three plan branches (hot list, both join sides) read the
    // shingle transform once instead of recomputing md5 per branch.
    "e04b_jaccard_sparse" -> { (s, d) =>
      val maxDf = 8
      val inv = shingleRows(load(s, d, "documents").filter(col("doc_id") % 5 === 0),
          2, "sh", "doc_id", "lang")
        .localCheckpoint() // feeds hot-shingle cut AND postings; GC-released
      val hot = inv.groupBy(col("lang"), col("sh"))
        .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
        .select(col("lang"), col("sh"))
      val kept = inv.join(broadcast(hot), Seq("lang", "sh"), "left_anti")
      val sizes = kept.groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val common = kept.as("x").join(kept.as("y"),
        col("x.sh") === col("y.sh") && col("x.lang") === col("y.lang") &&
          col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.lang").as("lang"), col("x.doc_id").as("d1"),
          col("y.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_common"))
      common
        .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
        .withColumn("jaccard", col("n_common").cast(DoubleType)
          / (col("n1") + col("n2") - col("n_common")))
        .filter(col("jaccard") >= 0.1)
        .select("lang", "d1", "d2", "jaccard")
        .orderBy("lang", "d1", "d2")
    },
    // E1 SimHash — 32-bit signature from term-frequency-weighted token-hash
    // bits, plus Hamming distance to doc 0 as the near-dup measure.
    "e05_simhash" -> { (s, d) =>
      val tc = load(s, d, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
        .withColumn("h", tokenHash(col("t")))
      val bitSums = (0 until 32).map { j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, col("cnt"))
          .otherwise(-col("cnt"))).as(s"s$j")
      }
      val s32 = tc.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      val simhash = (0 until 32).map { j =>
        when(col(s"s$j") > 0, 1L << j).otherwise(0L)
      }.reduce(_ + _).as("simhash")
      val sh = s32.select(col("doc_id"), simhash)
      val ref = sh.filter(col("doc_id") === 0).select(col("simhash").as("ref_sh"))
      sh.crossJoin(broadcast(ref))
        .select(col("doc_id"), col("simhash"),
          bit_count(col("simhash").bitwiseXOR(col("ref_sh"))).cast(IntegerType)
            .as("hamming_to_doc0"))
        .orderBy("doc_id")
    },
    // E4 language-ID heuristic — stopword-ratio classifier + confusion matrix
    // against the labeled lang column.
    "e10_lang_id" -> { (s, d) =>
      val tk = toks(col("text"))
      val ratio = size(filter(tk, t => t === "the" || t === "a")).cast(DoubleType) / size(tk)
      load(s, d, "documents")
        .select(col("lang"), when(ratio > 0.08, "en").otherwise("other").as("guess"))
        .groupBy(col("lang"), col("guess")).agg(count(lit(1)).as("n"))
        .orderBy("lang", "guess")
    },
    // E4 language-ID, character-n-gram form — English-profile trigram density
    // ('th '/'he '/'ng ' class character sequences) instead of stopword
    // lookup; same confusion-matrix output shape as e10.
    "e10b_langid_ngram" -> { (s, d) =>
      val density = (
        expr("regexp_count(text, 'th')") + expr("regexp_count(text, 'he')")
          + expr("regexp_count(text, 'ng')")).cast(DoubleType) / length(col("text"))
      load(s, d, "documents")
        .select(col("lang"),
          when(density > 0.02, "en_like").otherwise("other").as("guess"))
        .groupBy(col("lang"), col("guess")).agg(count(lit(1)).as("n"))
        .orderBy("lang", "guess")
    },
    // E4 quality scoring — length/type-token-ratio/stopword-ratio composite.
    "e11_quality_score" -> { (s, d) =>
      val tk = toks(col("text"))
      val n = size(tk)
      val ttr = size(array_distinct(tk)).cast(DoubleType) / n
      val sumLen = aggregate(transform(tk, t => length(t)), lit(0), (a, x) => a + x)
      val stopRatio = size(filter(tk, t => t === "the" || t === "a")).cast(DoubleType) / n
      load(s, d, "documents")
        .select(col("doc_id"), n.as("n_toks"), ttr.as("ttr"),
          (sumLen.cast(DoubleType) / n).as("avg_tok_len"),
          (ttr * 0.5 + least(n.cast(DoubleType) / 100.0, lit(1.0)) * 0.3
            + stopRatio * 0.2).as("quality_score"))
        .orderBy("doc_id")
    },
    // E4 token counting — whitespace tokens + a BPE-ish sub-token regex
    // ([a-z]{1,4} chunks), aggregated per language.
    "e12_token_count" -> { (s, d) =>
      load(s, d, "documents")
        .select(col("lang"), size(toks(col("text"))).as("ws"),
          size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).as("re"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("re")).as("bpe_tokens"),
          (sum(col("re")).cast(DoubleType) / count(lit(1))).as("bpe_per_doc"))
        .orderBy("lang")
    },
    // E4 document fingerprint — order-sensitive rolling polynomial hash over
    // the token-hash sequence (exact modular integer math on both engines).
    "e13_fingerprint" -> { (s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          aggregate(transform(toks(col("text")), t => tokenHash(t)),
            lit(0L), (acc, x) => (acc * 31 + x) % P).as("fingerprint"))
        .orderBy("doc_id")
    },
    // E4/provenance — cross-source overlap audit: which sources share
    // near-duplicate content with which (the data-vendor COPYING matrix
    // complementing e64's per-source scorecard; within-source duplication
    // is the diagonal). The e03b LSH candidate machinery provides the pair
    // stream — bucket-local, never all-pairs — and the source attribution
    // is two doc_id equi-joins against a 2-column projection of the corpus
    // scan, rolled up per unordered source pair.
    "e69_source_overlap" -> { (s, d) =>
      val srcMap = load(s, d, "documents").select(col("doc_id"), col("source"))
      lshCandidates(s, d)
        .join(srcMap.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
        .join(srcMap.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
        .groupBy(least(col("s1"), col("s2")).as("src_a"),
          greatest(col("s1"), col("s2")).as("src_b"))
        .agg(count(lit(1)).as("n_candidate_pairs"))
        .orderBy("src_a", "src_b")
    },
    // E4/privacy — PII detection + redaction: the scrub pass every shipped
    // training corpus runs (emails, IPv4s, phone numbers) as pure regexp
    // column expressions — detect counts per class, then redact in one
    // fixed replacement order so the output hash is engine-invariant. The
    // synthetic corpus carries no organic PII, so each doc is AUGMENTED
    // with one deterministic instance of each class (derived from doc_id,
    // identically in both engines) — the patterns are exercised on every
    // row, and any organic match would count identically anyway. Scale:
    // map-side only; the regex set compiles once per task.
    "e67_pii_redact" -> { (s, d) =>
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phone = "\\+1-555-\\d{4}"
      load(s, d, "documents")
        .withColumn("txt", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(256L)), lit(".7 tel +1-555-"),
          format_string("%04d", pmod(col("doc_id"), lit(10000L)))))
        .select(col("doc_id"),
          regexp_count(col("txt"), lit(email)).as("n_email"),
          regexp_count(col("txt"), lit(ip)).as("n_ip"),
          regexp_count(col("txt"), lit(phone)).as("n_phone"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("txt"),
            email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>"))
            .as("redacted_md5"))
        .orderBy("doc_id")
    },
    // E4/training prep — sequence packing: the concat-then-split layout a
    // trainer feeds (docs concatenated in deterministic hash order per
    // shard, cut into fixed 512-token sequences). Per-shard report: docs,
    // tokens, sequences, boundary-crossing docs, and the tail sequence's
    // fill — the packing-efficiency numbers that size a training run. One
    // running-sum window per shard (the merge's shuffle class), exact
    // integer arithmetic end to end.
    "e68_sequence_pack" -> { (s, d) =>
      val SEQ = 512L
      val docs = load(s, d, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"),
        tokenHash(col("doc_id").cast(StringType)).as("ord"))
        .withColumn("shard", pmod(col("ord"), lit(8L)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("ord"), col("doc_id"))
      docs.withColumn("end_tok", sum(col("n_tok")).over(w))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          expr(s"(max(end_tok) + ${SEQ - 1}) div $SEQ").as("n_sequences"),
          sum(when(expr(s"(end_tok - n_tok) div $SEQ") =!=
            expr(s"(end_tok - 1) div $SEQ"), 1L).otherwise(0L)).as("n_split_docs"),
          expr(s"max(end_tok) - ((max(end_tok) + ${SEQ - 1}) div $SEQ - 1) * $SEQ")
            .as("last_fill"))
        .orderBy("shard")
    },
    // E4/training prep — document chunking: fixed-size token windows
    // (32 tokens, stride 24 → 8-token overlap), the unit a training pipeline
    // feeds to tokenization. Pure array ops — one generator per doc, no
    // shuffle until the final sort.
    "e16_chunking" -> { (s, d) =>
      val tk = toks(col("text"))
      load(s, d, "documents")
        .select(col("doc_id"), tk.as("tk"))
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(1), greatest(size(col("tk")), lit(1)), lit(24))).as("start"))
        .select(col("doc_id"),
          (expr("start div 24")).cast(IntegerType).as("chunk_idx"),
          slice(col("tk"), col("start"), lit(32)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("n_tok"),
          md5(array_join(col("chunk"), " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
    // E4/training prep — shard packing: chunks hashed to 16 training shards;
    // per-shard row/token totals + full-vs-tail chunk mix. Shard assignment
    // is the same md5-integer hash family, so placement is reproducible
    // across engines and runs.
    "e17_shard_pack" -> { (s, d) =>
      val tk = toks(col("text"))
      load(s, d, "documents")
        .select(col("doc_id"), tk.as("tk"))
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(1), greatest(size(col("tk")), lit(1)), lit(24))).as("start"))
        .select(col("doc_id"), expr("start div 24").as("chunk_idx"),
          size(slice(col("tk"), col("start"), lit(32))).as("n_tok"))
        .withColumn("shard",
          (tokenHash(concat(col("doc_id"), lit(":"), col("chunk_idx"))) % 16)
            .cast(IntegerType))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("n_tok") === 32, 1L).otherwise(0L)).as("n_full"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("shard")
    },
    // E4 — IDF-style rarity without float logarithms: each document's rarest
    // term by corpus document-frequency (ties → lexicographic), exact
    // integer/string math on both engines.
    "e18_rarest_term" -> { (s, d) =>
      val docTerms = load(s, d, "documents")
        .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("t"))
      val df = docTerms.groupBy(col("t")).agg(count(lit(1)).as("term_df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("term_df").asc, col("t").asc)
      docTerms.join(broadcast(df), "t")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("t").as("rarest_term"), col("term_df"))
        .orderBy("doc_id")
    },
    // E4/training prep — repetition filter: the max-bigram-repetition quality
    // gate LLM data pipelines run before training (boilerplate / degenerate-
    // generation detector). Per doc: most-repeated bigram count over total
    // bigram count; per-doc generator + two keyed aggregations, no data ever
    // leaves its doc_id partition until the final sort.
    "e19_repetition_filter" -> { (s, d) =>
      load(s, d, "documents")
        .filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), toks(col("text")).as("tk")) // tokenize once
        .filter(size(col("tk")) >= 2) // 1-token doc: sequence would count down and throw
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("tk")) - 2),
            i => concat(element_at(col("tk"), i + 1), lit(" "),
              element_at(col("tk"), i + 2))))
            .as("bigram"))
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("max_rep"))
        .withColumn("rep_ratio",
          col("max_rep").cast(DoubleType) / col("n_bigrams"))
        .withColumn("is_repetitive", col("rep_ratio") > 0.05)
        .orderBy("doc_id")
    },
    // E4 — corpus-wide n-gram statistics: top bigrams by frequency (the
    // language-model-ish corpus profile; explode → count → top-k, all
    // partial-aggregated).
    "e20_top_ngrams" -> { (s, d) =>
      // tokenize ONCE into a materialized column before the per-bigram
      // lambda: element_at over an inline split would re-split the whole
      // text per element access — O(tokens²) per document
      load(s, d, "documents")
        .select(toks(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2) // 1-token doc: sequence would count down and throw
        .select(explode(transform(sequence(lit(0), size(col("tk")) - 2),
          i => concat(element_at(col("tk"), i + 1), lit(" "),
            element_at(col("tk"), i + 2)))).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)
    },
    // E4/pipeline hygiene — data-quality gates: the per-table contract checks
    // a 100 TB ingest runs before training consumes a shard (null rates,
    // range violations, emptiness) as one aggregation pass.
    "e15_quality_gates" -> { (s, d) =>
      val docs = load(s, d, "documents").agg(
        lit("documents").as("tbl"),
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1L).otherwise(0L)).as("n_empty"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L)).as("n_violations"),
        countDistinct(col("lang")).as("n_domains"))
      val ev = Tables.events(s, d).agg(
        lit("events").as("tbl"),
        count(lit(1)).as("n_rows"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("n_empty"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("n_violations"),
        countDistinct(col("event_type")).as("n_domains"))
      docs.unionByName(ev).orderBy("tbl")
    },
    // E5/multimodal — REAL image payloads end-to-end: the fixture writes
    // complete valid PNGs (zlib IDAT, CRC32'd chunks), the query DECODES
    // the pixels for real on executors (inflate + unfilter, all five
    // filter types — Multimodal.decodePngPixels via the per-partition
    // batch-decode pipeline) and reports the decoded-pixel mean. The
    // oracle cannot inflate zlib, and does not need to: the fixture's
    // pixel stream is a closed-form LCG of (doc_id, y, x), so DuckDB
    // derives the EXPECTED mean independently of the bytes — any decoder
    // defect (wrong filter reconstruction, short inflate, header
    // misparse) lands as a value mismatch. Scale: decode parallelism is
    // partition count; pixels never leave their executor (one double per
    // image crosses the exchange).
    "e14_png_decode" -> { (s, d) =>
      import s.implicits._
      val path = writePngFixtures(s, d, "e14")
      val media = s.read.format("binaryFile").load(path)
        .select(
          regexp_extract(col("path"), "png_(\\d+)\\.png$", 1)
            .cast(LongType).as("doc_id"),
          lit("image").as("kind"), col("content").as("payload"),
          lit("und").as("lang"), col("length").as("n_chars"))
        .as[Multimodal.Media]
      Multimodal.extractFeatures(media).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("n_bytes").cast(LongType).as("n_bytes"), col("mean_byte"))
        .orderBy("doc_id")
    },
    // E5/multimodal — frame sampling over the real PNG payload: fixed
    // 16-byte "frames" at stride 64 (the video-keyframe access pattern:
    // seek, slice, fingerprint — never decode-all). Pure binary substring
    // math per row, map-side only; the oracle slices the IDENTICAL file
    // bytes via read_blob.
    "e14b_png_frames" -> { (s, d) =>
      val path = writePngFixtures(s, d, "e14b")
      s.read.format("binaryFile").load(path)
        .filter(length(col("content")) >= 16)
        .select(
          regexp_extract(col("path"), "png_(\\d+)\\.png$", 1)
            .cast(LongType).as("doc_id"),
          col("content").as("payload"))
        .withColumn("n_frames",
          expr("cast((length(payload) - 16) div 64 + 1 as bigint)"))
        .select(col("doc_id"), col("n_frames"),
          hex(expr("substring(payload, 1, 16)")).as("frame0_hex"),
          hex(expr("substring(payload, (n_frames - 1) * 64 + 1, 16)")).as("last_hex"))
        .orderBy("doc_id")
    },
    // E5/multimodal — REAL image decode: the fixture writes complete valid
    // PNGs (Multimodal.encodePng: zlib IDAT, CRC32'd chunks — a17's
    // driver-side fixture discipline, dims derived deterministically from
    // each doc's n_chars), then the scan parses IHDR width/height/depth/
    // color straight off the binary column with pure codegen'd expressions
    // (hex + substring + conv big-endian reads — no UDF). The oracle runs
    // the IDENTICAL big-endian reads on the IDENTICAL bytes via DuckDB's
    // read_blob, so the parse itself is what's gated. The fixture dir is
    // keyed by SF dir (two concurrent Verify runs on one host must not
    // race on shared files); the oracle entry reads the recorded path back
    // at dump time — Verify runs queries first, then dumps oracleSql, in
    // one JVM. Scale: header metadata is a bounded prefix read per file —
    // at 100 TB this is the scan-time column-stats pass of an image
    // corpus, never a pixel decode.
    "e65_png_ihdr" -> { (s, d) =>
      val path = pngFixtureFor(d)
      pngFixturePath = path
      val dir = new java.io.File(path); dir.mkdirs()
      Option(dir.listFiles).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".png")).foreach(_.delete())
      load(s, d, "documents").filter(col("doc_id").isin(0L, 10L, 20L))
        .select(col("doc_id"), col("n_chars")).collect()
        .foreach { r =>
          val w = (r.getLong(1) % 480 + 16).toInt
          val h = (r.getLong(1) * 3 % 360 + 16).toInt
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path, s"png_${r.getLong(0)}.png"),
            Multimodal.encodePng(w, h, seed = r.getLong(0)))
        }
      s.read.format("binaryFile").load(path)
        .filter(Multimodal.isPng(col("content")))
        .select(
          regexp_extract(col("path"), "png_(\\d+)\\.png$", 1)
            .cast(LongType).as("doc_id"),
          Multimodal.pngWidth(col("content")).as("width"),
          Multimodal.pngHeight(col("content")).as("height"),
          Multimodal.pngBitDepth(col("content")).as("bit_depth"),
          Multimodal.pngColorType(col("content")).as("color_type"),
          col("length").as("n_bytes"))
        .orderBy("doc_id")
    },
    // E5 multimodal #2: JPEG SOF dimensions — unlike PNG's fixed-offset
    // IHDR, the SOF segment floats behind APP0/DQT segments, so extraction
    // is a bounded marker WALK — one `aggregate` higher-order column
    // expression (no UDF, no driver loop; per-FILE interpreted eval is
    // dominated by the scan I/O — Multimodal.jpegSofOffset). Fixtures
    // are REAL JPEGs from the JDK's own ImageIO baseline writer; the
    // oracle re-walks the identical bytes with a recursive CTE.
    "e66_jpeg_sof" -> { (s, d) =>
      val path = jpegFixtureFor(d)
      jpegFixturePath = path
      val dir = new java.io.File(path); dir.mkdirs()
      Option(dir.listFiles).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".jpg")).foreach(_.delete())
      load(s, d, "documents").filter(col("doc_id").isin(0L, 10L, 20L))
        .select(col("doc_id"), col("n_chars")).collect()
        .foreach { r =>
          val w = (r.getLong(1) % 480 + 16).toInt
          val h = (r.getLong(1) * 3 % 360 + 16).toInt
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path, s"jpg_${r.getLong(0)}.jpg"),
            Multimodal.encodeJpeg(w, h, seed = r.getLong(0)))
        }
      s.read.format("binaryFile").load(path)
        .filter(Multimodal.isJpeg(col("content")))
        .withColumn("sof", Multimodal.jpegSofOffset(col("content")))
        .filter(col("sof") >= 0)
        .select(
          regexp_extract(col("path"), "jpg_(\\d+)\\.jpg$", 1)
            .cast(LongType).as("doc_id"),
          Multimodal.jpegWidthAt(col("content"), col("sof")).as("width"),
          Multimodal.jpegHeightAt(col("content"), col("sof")).as("height"),
          Multimodal.jpegPrecisionAt(col("content"), col("sof")).as("sof_precision"),
          Multimodal.jpegComponentsAt(col("content"), col("sof")).as("n_components"),
          col("length").as("n_bytes"))
        .orderBy("doc_id")
    },
    // E5 multimodal #3: audio — WAV/PCM needs no codec (samples ARE
    // little-endian int16s behind a RIFF header), so unlike the image
    // stubs this is a fully REAL audio decode: header fields come off the
    // binary column as pure codegen'd little-endian reads, the executor
    // decodes the actual sample stream (chunk-walk header, sign-extended
    // LE reads), and the stats are exact integers (sum, sum-of-squares,
    // peak) — the cross-engine gate is exact, not float-tolerant. The
    // fixture samples are a closed-form LCG, so the oracle rederives the
    // stream without touching the data bytes while reading the header
    // from the IDENTICAL file. Scale: decode parallelism = partitions,
    // one 8-field row per file crosses the exchange.
    "e70_wav_pcm" -> { (s, d) =>
      import s.implicits._
      val path = writeWavFixtures(s, d)
      s.read.format("binaryFile").load(path)
        .filter(Multimodal.isWav(col("content")))
        .select(
          regexp_extract(col("path"), "wav_(\\d+)\\.wav$", 1)
            .cast(LongType).as("doc_id"),
          col("content").as("payload"),
          Multimodal.wavSampleRate(col("content")).as("sample_rate"),
          Multimodal.wavChannels(col("content")).as("n_channels"),
          Multimodal.wavBits(col("content")).as("bits"))
        .as[(Long, Array[Byte], Long, Long, Long)]
        .mapPartitions { rows =>
          rows.map { case (id, b, sr, ch, bits) =>
            val st = Multimodal.wavPcmStats(b)
            (id, sr, ch, bits, st.n, st.sum, st.sumSq, st.peak)
          }
        }
        .toDF("doc_id", "sample_rate", "n_channels", "bits",
          "n_samples", "sum_amp", "sum_sq", "peak")
        .orderBy("doc_id")
    },
    // E5 multimodal — REAL resize over REAL decoded pixels: inflate +
    // unfilter (decodePngPixels), then nearest-neighbor resample into a
    // 24-box with pure integer floor math, so DuckDB rederives the exact
    // sample grid with `//` and the resized-pixel checksum is an exact
    // integer gate. This closes the decode→resize step a multimodal
    // training pipeline runs before feature extraction; the geometry
    // (fitBox) and the resample (resizeNearest) are both now real, the
    // stub remains only for modalities with no in-container codec.
    "e71_image_resize" -> { (s, d) =>
      import s.implicits._
      val path = writePngFixtures(s, d, "e71")
      s.read.format("binaryFile").load(path)
        .select(
          regexp_extract(col("path"), "png_(\\d+)\\.png$", 1)
            .cast(LongType).as("doc_id"),
          col("content").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { rows =>
          rows.map { case (id, b) =>
            val (w, h, _, _) = Multimodal.pngHeader(b)
            val px = Multimodal.decodePngPixels(b)
            val (rw, rh) = Multimodal.fitBox(w, h, 24)
            val rz = Multimodal.resizeNearest(px, w, h, rw, rh)
            val sum = rz.foldLeft(0L)((a, v) => a + (v & 0xff))
            (id, w, h, rw, rh, sum, sum.toDouble / rz.length)
          }
        }
        .toDF("doc_id", "width", "height", "rw", "rh", "px_sum", "mean_px")
        .orderBy("doc_id")
    },
    // E5 multimodal #4: video frame sampling — the access pattern a frame
    // sampler needs (read a frame index, seek to k sampled offsets, decode
    // ONLY those frames) is codec-independent, so the GVID container makes
    // it real: the fixture is an indexed container of real PNG frames, the
    // query picks first/middle/last via the index with pure column
    // arithmetic (big-endian reads at dynamic offsets + substring slice —
    // never materializing unsampled frames), and pixel-decodes only the
    // sampled slices on executors. The oracle seeks the IDENTICAL index
    // bytes and rederives each sampled frame's pixel sum in closed form.
    // Scale: per file the sampler reads 3 frames regardless of video
    // length — the seek-don't-scan contract that matters at 100 TB.
    "e72_video_frames" -> { (s, d) =>
      import s.implicits._
      val path = writeGvidFixtures(s, d)
      s.read.format("binaryFile").load(path)
        .filter(Multimodal.isGvid(col("content")))
        .select(
          regexp_extract(col("path"), "vid_(\\d+)\\.gvid$", 1)
            .cast(LongType).as("doc_id"),
          col("content").as("payload"),
          Multimodal.gvidFrameCount(col("content")).as("n_frames"))
        .withColumn("frame_idx", explode(array_distinct(array(
          lit(0L), expr("n_frames div 2"), col("n_frames") - 1))))
        .withColumn("off",
          Multimodal.beIntAt(col("payload"), lit(6L) + col("frame_idx") * 8, 4))
        .withColumn("len",
          Multimodal.beIntAt(col("payload"), lit(10L) + col("frame_idx") * 8, 4))
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          expr("substring(payload, cast(off + 1 as int), cast(len as int))")
            .as("frame"))
        .as[(Long, Long, Long, Array[Byte])]
        .mapPartitions { rows =>
          rows.map { case (id, f, nf, fb) =>
            val (w, h, _, _) = Multimodal.pngHeader(fb)
            val px = Multimodal.decodePngPixels(fb)
            val sum = px.foldLeft(0L)((a, v) => a + (v & 0xff))
            (id, f, nf, w, h, sum, sum.toDouble / px.length)
          }
        }
        .toDF("doc_id", "frame_idx", "n_frames", "width", "height",
          "px_sum", "mean_px")
        .orderBy("doc_id", "frame_idx")
    },
    // E1 near-dup canonicalization — connected components over the LSH
    // candidate graph (docs sharing any MinHash band bucket are edges), so
    // each near-dup CLUSTER keeps exactly one canonical doc (min doc_id).
    // Pairwise near-dup lists (e03b) are not consumable by a dedup pass
    // until transitively closed — this is that closure. Method: min-label
    // propagation to fixpoint; the driver loop is control-plane only (one
    // keyed join + agg per round, ≤ graph-diameter rounds; LSH components
    // are star-like, so the diameter is small). At 100 TB the same loop
    // runs with the alternating large-star/small-star optimization; the
    // per-round dataflow here is already that shape.
    "e21_dedup_components" -> { (s, d) =>
      lshComponents(s, d)
        .select(col("node").as("doc_id"), col("label").as("comp_id"),
          (col("node") === col("label")).as("is_canonical"))
        .orderBy("doc_id")
    },
    // E1 diagnostic — rounds-to-fixpoint, MEASURED: per-component
    // eccentricity from the canonical node over the same LSH candidate
    // graph as e21, reported as a depth histogram (depth d ⇒ synchronous
    // min-label propagation reaches that component's fixpoint in d
    // rounds; max depth bounds the whole loop). This is the number an
    // operator reads before trusting the e21/e25 driver loop at a new
    // corpus: a densified near-dup graph shows up HERE as a growing max
    // depth, before it shows up as wall-clock. The depth column comes
    // straight from lshComponents' own fixpoint loop (round of last label
    // improvement = BFS distance from the canonical node), so this query
    // is a pure aggregation over the shared closure — no second
    // candidate-graph build, no extra driver loop. Depths ≥ 64 fold into
    // an explicit overflow bucket (depth = 64) rather than dropping
    // nodes, mirrored in the oracle: truncation is visible, never silent.
    "e73_component_depth" -> { (s, d) =>
      lshComponentsArtifact(s, d)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("nn"),
          least(max(col("depth")), lit(64)).as("ecc"))
        .groupBy(col("ecc"))
        .agg(count(lit(1)).as("n_components"), sum(col("nn")).as("n_nodes"))
        .select(col("ecc").as("depth"), col("n_components"), col("n_nodes"))
        .orderBy("depth")
    },
    // E-sketch — count-min sketch frequency estimation, completing the
    // mergeable-sketch family (e26 KMV = cardinality, e60 Bloom =
    // membership, this = frequency): a depth-3 × width-128 CMS over the
    // corpus token stream, audited against exact counts on the top-20
    // heavy hitters. Like e60, the sketch is built in exact integer math
    // over the shared cross-engine token hash, so even its COLLISIONS are
    // bit-identical — the oracle audits the estimator itself, including
    // the one-sided error (n_cms ≥ n_exact always; overcount = how much
    // width-128 collisions inflate each hitter). Scale: the sketch is the
    // 100 TB path — explode → groupBy over D·W = 384 cells with map-side
    // combine (shuffle is 384 rows no matter the corpus, and cells merge
    // associatively across shards/days); the exact count beside it is the
    // bounded truth audit, same honesty move as e58's LSH recall.
    "e74_cms_heavy_hitters" -> { (s, d) =>
      val W = 128L
      val D = 3
      val tok = load(s, d, "documents")
        .select(explode(toks(col("text"))).as("t"))
        .filter(col("t") =!= "")
        .localCheckpoint() // sketch build + exact audit read it once; GC-released
      def cell(j: Int, t: Column): Column =
        pmod(tokenHash(concat(lit(s"$j:"), t)), lit(W))
      def cellsOf(t: Column): Column = explode(array(
        (0 until D).map(j => struct(lit(j).as("j"), cell(j, t).as("c"))): _*))
      val cells = tok.select(cellsOf(col("t")).as("jc"))
        .groupBy(col("jc.j").as("j"), col("jc.c").as("c"))
        .agg(count(lit(1)).as("cnt"))
      val exact = tok.groupBy(col("t")).agg(count(lit(1)).as("n_exact"))
      val probe = exact.orderBy(col("n_exact").desc, col("t")).limit(20)
      probe.select(col("t"), col("n_exact"), cellsOf(col("t")).as("jc"))
        .join(broadcast(cells),
          col("jc.j") === col("j") && col("jc.c") === col("c"))
        .groupBy(col("t"), col("n_exact"))
        .agg(min(col("cnt")).as("n_cms"))
        .select(col("t").as("token"), col("n_exact"), col("n_cms"),
          (col("n_cms") - col("n_exact")).as("overcount"))
        .orderBy(col("n_exact").desc, col("token"))
    },
    // E-sketch — mergeable quantile estimation, the fourth sketch beside
    // KMV (cardinality), Bloom (membership), and CMS (frequency): a
    // 128-bin equi-width histogram sketch over the event value stream,
    // its quantile estimates (smallest bin whose cumulative count reaches
    // ⌈q·N⌉, reported as the bin's upper edge) audited side by side
    // against exact percentile_disc — the clip-threshold/outlier-bound
    // stat a training pipeline reads per shard. Scale: the sketch is the
    // 100 TB path (fixed 128 cells, map-side combine, bins merge
    // associatively across shards — the exact disc percentile beside it
    // is the bounded truth audit); the cumulative pass is a deliberate
    // single-partition window over the 128-row bin table (graft_pin).
    "e75_quantile_sketch" -> { (s, d) =>
      val B = 128
      val v = Tables.events(s, d)
        .select(col("value").cast(DoubleType).as("x"))
        .filter(col("x").isNotNull)
      val mm = v.agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
        count(lit(1)).as("n"))
      val bins = v.crossJoin(broadcast(mm))
        .select(least(floor((col("x") - col("lo"))
            / ((col("hi") - col("lo")) / lit(B))), lit((B - 1).toLong))
          .cast(LongType).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      val wcum = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.PinnedKey.pin(lit(0)))
        .orderBy(col("bin"))
      val cum = bins.withColumn("cum", sum(col("cnt")).over(wcum))
      val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      import s.implicits._
      val est = qs.toDF("q").crossJoin(broadcast(mm))
        .join(cum, col("cum") >= ceil(col("q") * col("n")))
        .groupBy(col("q"), col("lo"), col("hi"), col("n"))
        .agg(min(col("bin")).as("bin"))
        .select(col("q"), col("n"),
          (col("lo") + (col("bin") + 1) * ((col("hi") - col("lo")) / lit(B)))
            .as("est_upper"))
      val exactCols = qs.map(q =>
        expr(s"percentile_disc($q) WITHIN GROUP (ORDER BY x)")
          .as(s"p${(q * 100).toInt}"))
      val exact = v.agg(exactCols.head, exactCols.tail: _*)
      val exactCol = qs.tail.foldLeft(
        when(col("q") === qs.head, col(s"p${(qs.head * 100).toInt}"))) {
        (acc, q) => acc.when(col("q") === q, col(s"p${(q * 100).toInt}"))
      }
      est.crossJoin(broadcast(exact))
        .select(col("q"), col("n").as("n_rows"), col("est_upper"),
          exactCol.as("exact_disc"),
          (col("est_upper") - exactCol).as("err"))
        .orderBy("q")
    },
    // E4/cleaning — Unicode normalization + control-character scrub, the
    // stage every web-corpus pipeline runs FIRST: canonically-equivalent
    // spellings ("e"+U+0301 vs "é", U+212B vs "Å") are invisible to every
    // exact-match operator downstream (fingerprints, shingles, exact
    // dedup), so they must compose before any of it runs. NFC is a native
    // codegen'd expression (functions/NormalizeNfc — no Spark built-in
    // exists; the JDK and DuckDB implement the same Unicode canonical
    // composition, so the oracle twins it exactly); the synthetic corpus
    // is pure ASCII, so like e67 every class of dirty input is injected
    // deterministically from doc_id. Exact-integer per-class report:
    // byte counts prove composition shrank what it should (3-byte
    // combining pairs → 2-byte composed) and the scrub dropped exactly
    // the control bytes.
    "e77_unicode_clean" -> { (s, d) =>
      val raw = load(s, d, "documents")
        .select(col("doc_id"), (col("doc_id") % 4).as("inject_class"),
          concat(col("text"),
            when(col("doc_id") % 4 === 0, " cafe\u0301")   // e + COMBINING ACUTE
              .when(col("doc_id") % 4 === 1, " \u212B")       // ANGSTROM SIGN (NFC: U+00C5)
              .when(col("doc_id") % 4 === 2, "\u0001tab\u0007") // control bytes
              .otherwise("")).as("raw"))
      val cleaned = raw.withColumn("clean",
        graft.functions.NormalizeNfc(
          regexp_replace(col("raw"), "[\\x01-\\x1F\\x7F]", "")))
      cleaned.groupBy(col("inject_class"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("clean") =!= col("raw")).cast(LongType)).as("n_changed"),
          sum(octet_length(col("raw"))).as("bytes_raw"),
          sum(octet_length(col("clean"))).as("bytes_clean"))
        .orderBy("inject_class")
    },
    // E4/cleaning — HTML/markup boilerplate strip: the EXTRACTION stage a
    // web-corpus pipeline runs on raw crawl payloads before any text
    // operator sees them (script/style removal → tag strip → entity decode
    // → whitespace collapse, in that fixed order — entities decode &amp;
    // LAST so "&amp;lt;" cannot double-decode). The synthetic corpus is
    // plain text, so like e67/e77 each doc is wrapped in a deterministic
    // doc_id-derived HTML page — every strip stage fires on every row, and
    // the content hash proves both engines produce byte-identical cleaned
    // text. Scale: pure map-side regexp/replace column expressions, regex
    // compiled once per task, no shuffle before the final sort.
    "e78_markup_strip" -> { (s, d) =>
      val html = concat(
        lit("<html><body class=\"c"), pmod(col("doc_id"), lit(7L)),
        lit("\"><h1>Doc "), col("doc_id"),
        lit("</h1><script>var x="), col("doc_id"),
        lit(";</script><p>"), col("text"),
        lit("</p><div>&amp; &lt;tail&gt; &quot;q&quot;</div></body></html>"))
      val noScript = regexp_replace(html, "<script[^>]*>.*?</script>", " ")
      val noTags = regexp_replace(noScript, "<[^>]+>", " ")
      val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&amp;" -> "&").foldLeft(noTags) { case (c, (e, ch)) =>
        replace(c, lit(e), lit(ch))
      }
      val clean = trim(regexp_replace(decoded, "\\s+", " "))
      load(s, d, "documents")
        .select(col("doc_id"), html.as("html"))
        .select(col("doc_id"),
          regexp_count(col("html"), lit("<[^>]+>")).cast(LongType).as("n_tags"),
          length(col("html")).cast(LongType).as("raw_len"))
        .join(load(s, d, "documents")
          .select(col("doc_id"),
            length(clean).cast(LongType).as("clean_len"),
            md5(clean).as("clean_md5")), "doc_id")
        .orderBy("doc_id")
    },
    // E4/provenance — URL extraction + registrable-domain rollup: the
    // per-domain accounting every web-corpus pipeline keys its curation
    // decisions on (domain allow/deny lists, per-domain caps, URL-level
    // dedup à la CCNet). URLs are injected deterministically from doc_id
    // (two per doc, mixed schemes/hosts) since the corpus carries none;
    // extraction is regexp_extract_all → host → last-two-label registrable
    // domain, all engine-invariant regex. Scale: one generator explode
    // (2 rows/doc) + one map-side-combined groupBy(domain) — shuffle is
    // |distinct domains|, never |docs|.
    "e79_url_domains" -> { (s, d) =>
      val txt = concat(col("text"),
        lit(" see https://www.site"), pmod(col("doc_id"), lit(20L)),
        lit(".example"), pmod(col("doc_id"), lit(3L)),
        lit(".com/p/"), col("doc_id"),
        lit(" or http://cdn"), pmod(col("doc_id"), lit(5L)),
        lit(".assets-net.io/f/"), pmod(col("doc_id"), lit(100L)))
      load(s, d, "documents")
        .select(col("doc_id"),
          explode(regexp_extract_all(txt, lit("https?://[^ ]+"), lit(0))).as("url"))
        .select(col("doc_id"), col("url"),
          regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"))
        .withColumn("domain", regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
        .groupBy(col("domain"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          count(lit(1)).as("n_urls"),
          sum(when(col("url").startsWith("https://"), 1L).otherwise(0L)).as("n_https"))
        .orderBy("domain")
    },
    // E1/dedup — duplicated-span REMOVAL (the rewrite stage downstream of
    // e39's scan and e42's coverage metric — the "dedup repeated substrings"
    // pass of Lee et al.-style pipelines): every 8-token window recurring
    // across ≥2 documents marks its positions dropped in EVERY document,
    // and each doc is rebuilt from the surviving positions in order. The
    // content hash proves both engines rebuild byte-identical scrubbed
    // text; docs left empty stay in the report (n_kept=0). Scale shape:
    // spans group on the window key with map-side combine (hash the
    // 8-token string to 8 bytes at 100 TB), the position cover is a
    // doc_id-keyed explode bounded by 8×|dup spans in doc|, and the
    // rebuild is one groupBy(doc_id) over kept tokens — the merge's
    // shuffle class, no all-pairs work anywhere.
    "e80_span_scrub" -> { (s, d) =>
      val tok = load(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ts")).persist()
      // two consumers of the span stream (dup-span vote + position cover):
      // persist so the tokenize+explode runs once
      val spans = tok.filter(size(col("ts")) >= 8)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ts")) - 7),
            i => struct(i.as("p"),
              array_join(slice(col("ts"), i, lit(8)), " ").as("span")))).as("sp"))
        .select(col("doc_id"), col("sp.p").as("p"), col("sp.span").as("span"))
        .persist()
      // ≥2 distinct docs ⟺ min(doc_id) ≠ max(doc_id) — plain partial
      // aggregates instead of the distinct-count's second keyed pass;
      // nd is dropped after the filter, so only the predicate matters
      val dup = spans.groupBy(col("span"))
        .agg(min(col("doc_id")).as("mnd"), max(col("doc_id")).as("mxd"))
        .filter(col("mnd") =!= col("mxd")).select("span")
      val cov = spans.join(dup, "span")
        .select(col("doc_id"), explode(sequence(col("p"), col("p") + 7)).as("p"))
        .distinct()
      val tokpos = tok
        .select(col("doc_id"), posexplode(col("ts")).as(Seq("p0", "t")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("t"))
      val keptAgg = tokpos.join(cov, Seq("doc_id", "p"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("p"), col("t")))),
            x => x.getField("t")), " ")).as("scrub_md5"))
      tok.select(col("doc_id"), size(col("ts")).cast(LongType).as("n_tok"))
        .join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("scrub_md5"), md5(lit(""))).as("scrub_md5"))
        .orderBy("doc_id")
    },
    // E4/quality — Gopher-style rule suite: the fixed repetition/shape
    // rules (Rae et al.) a pre-training pipeline applies before any learned
    // classifier — doc length bounds, mean-word-length band, minimum
    // stop-word fraction, maximum single-token share. Every rule is an
    // EXACT integer inequality (mean_wl ∈ [3.5, 10] ⇔ 2·Σlen ≥ 7·n ∧
    // Σlen ≤ 10·n, and so on) so the report carries no float anywhere.
    // Scale: per-doc signals are higher-order array folds (map-side, no
    // explode) except the top-token count, which is one doc_id+token
    // groupBy with map-side combine; the rollup shuffles |langs| rows.
    "e81_gopher_rules" -> { (s, d) =>
      val stop = Seq("the", "a", "of", "and")
      val tk = toks(col("text"))
      val base = load(s, d, "documents").select(col("doc_id"), col("lang"),
        size(tk).cast(LongType).as("n_words"),
        aggregate(tk, lit(0L), (acc, t) => acc + length(t)).as("sum_wl"),
        size(filter(tk, t => t.isin(stop: _*))).cast(LongType).as("n_stop"))
      val topw = load(s, d, "documents")
        .select(col("doc_id"), explode(tk).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("max_wc"))
      base.join(topw, "doc_id")
        .select(col("lang"),
          (col("n_words") < 30 || col("n_words") > 500).cast(LongType).as("f_len"),
          (col("sum_wl") * 2 < col("n_words") * 7 ||
            col("sum_wl") > col("n_words") * 10).cast(LongType).as("f_wl"),
          (col("n_stop") * 50 < col("n_words") * 3).cast(LongType).as("f_stop"),
          (col("max_wc") * 5 > col("n_words")).cast(LongType).as("f_rep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("f_len")).as("n_fail_len"),
          sum(col("f_wl")).as("n_fail_wl"),
          sum(col("f_stop")).as("n_fail_stop"),
          sum(col("f_rep")).as("n_fail_rep"),
          sum(when(col("f_len") + col("f_wl") + col("f_stop") + col("f_rep") === 0,
            1L).otherwise(0L)).as("n_pass"))
        .orderBy("lang")
    },
    // E4/curation tuning — gate ABLATION on the e81 rule suite: per rule,
    // how many docs fail it (n_fail), how many fail ONLY it (n_only — the
    // docs this rule alone is deleting), and the corpus pass count if the
    // rule were dropped (n_pass_if_dropped = n_pass + n_only). Marginal
    // attribution is what an operator actually tunes against: a rule with
    // large n_fail but near-zero n_only is redundant shadowing of the
    // other gates, while a large n_only says this rule's threshold alone
    // decides that slice of the corpus. Same exact integer inequalities
    // as e81 (no float anywhere); the 4-rule frame explodes map-side from
    // the per-doc flags, so the only shuffles are e81's own (the per-doc
    // top-token groupBy) plus a 4-row rollup and a 1-row broadcast total.
    "e116_gate_ablation" -> { (s, d) =>
      val stop = Seq("the", "a", "of", "and")
      val tk = toks(col("text"))
      val base = load(s, d, "documents").select(col("doc_id"),
        size(tk).cast(LongType).as("n_words"),
        aggregate(tk, lit(0L), (acc, t) => acc + length(t)).as("sum_wl"),
        size(filter(tk, t => t.isin(stop: _*))).cast(LongType).as("n_stop"))
      val topw = load(s, d, "documents")
        .select(col("doc_id"), explode(tk).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("max_wc"))
      val flags = base.join(topw, "doc_id")
        .select(
          (col("n_words") < 30 || col("n_words") > 500).cast(LongType).as("f_len"),
          (col("sum_wl") * 2 < col("n_words") * 7 ||
            col("sum_wl") > col("n_words") * 10).cast(LongType).as("f_wl"),
          (col("n_stop") * 50 < col("n_words") * 3).cast(LongType).as("f_stop"),
          (col("max_wc") * 5 > col("n_words")).cast(LongType).as("f_rep"))
        .withColumn("nf", col("f_len") + col("f_wl") + col("f_stop") + col("f_rep"))
      val perRule = flags.select(col("nf"), explode(array(
          struct(lit("1_len").as("rule"), col("f_len").as("f")),
          struct(lit("2_word_len").as("rule"), col("f_wl").as("f")),
          struct(lit("3_stop_ratio").as("rule"), col("f_stop").as("f")),
          struct(lit("4_repetition").as("rule"), col("f_rep").as("f")))).as("r"))
        .select(col("r.rule").as("rule"), col("r.f").as("f"), col("nf"))
        .groupBy(col("rule"))
        .agg(sum(col("f")).as("n_fail"),
          sum(when(col("f") === 1 && col("nf") === 1, 1L).otherwise(0L)).as("n_only"))
      val pass = flags.agg(
        sum(when(col("nf") === 0, 1L).otherwise(0L)).as("n_pass"))
      perRule.crossJoin(broadcast(pass))
        .select(col("rule"), col("n_fail"), col("n_only"),
          (col("n_pass") + col("n_only")).as("n_pass_if_dropped"))
        .orderBy("rule")
    },
    // E4/cleaning — corpus-frequency line dedup (the C4/RefinedWeb rule:
    // a LINE occurring in ≥5% of documents is boilerplate and is removed
    // from every document). Docs are wrapped in deterministic header/footer
    // boilerplate lines (doc_id-derived, 4+3 variants — each lands in
    // ~25%/33% of docs, well over threshold) since the single-line corpus
    // has none; the body line survives unless the whole text is an exact
    // corpus-wide duplicate. The threshold compares against the corpus
    // total through one broadcast scalar; the rebuild hash proves
    // byte-identical output. Scale: line-frequency groupBy is map-side
    // combined (shuffle = |distinct lines|), the verdict join is keyed by
    // line, the rebuild by doc_id — never all-pairs, and the 1-row total
    // broadcasts.
    "e82_line_dedup" -> { (s, d) =>
      val page = concat(
        lit("menu home about contact v"), pmod(col("doc_id"), lit(4L)),
        lit("\n"), col("text"), lit("\n"),
        lit("copyright footer site v"), pmod(col("doc_id"), lit(3L)))
      val docs = load(s, d, "documents")
        .select(col("doc_id"), split(page, "\n").as("ls"))
      val lines = docs
        .select(col("doc_id"), posexplode(col("ls")).as(Seq("p0", "line")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("line"))
      val ldf = lines.groupBy(col("line"))
        .agg(countDistinct(col("doc_id")).as("ldocs"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      val keptAgg = lines.join(ldf, "line")
        .crossJoin(broadcast(total))
        .filter(col("ldocs") * 20 < col("n_total"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("p"), col("line")))),
            x => x.getField("line")), "\n")).as("clean_md5"))
      docs.select(col("doc_id"), size(col("ls")).cast(LongType).as("n_lines"))
        .join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
        .orderBy("doc_id")
    },
    // E4/curation — per-host document cap (the RefinedWeb/C4 anti-spam
    // rule: no single host may contribute more than K documents; the
    // survivors are picked in deterministic hash order so the sample is
    // reproducible on any engine/run/partitioning). Hosts derive from the
    // e79 injected URL scheme (doc_id%20 × doc_id%3 → 60 hosts). Scale:
    // one row_number window per host (WindowGroupLimit pushes the K-cap
    // into the shuffle at scale) + a |hosts|-row rollup — the merge's
    // shuffle class, no global sort.
    "e83_host_cap" -> { (s, d) =>
      val K = 5
      val host = concat(lit("www.site"), pmod(col("doc_id"), lit(20L)),
        lit(".example"), pmod(col("doc_id"), lit(3L)), lit(".com"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host"))
        .orderBy(col("ord"), col("doc_id"))
      load(s, d, "documents")
        .select(col("doc_id"), host.as("host"),
          tokenHash(col("doc_id").cast(StringType)).as("ord"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") <= K, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") > K, 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("host")
    },
    // E4/tokenizer training — one BPE iteration: the adjacent-symbol pair
    // counts a byte-pair-encoding trainer computes each round (pair
    // frequency = Σ word_freq over each adjacency in each distinct word),
    // surfacing the top-10 merge candidates. Exact integers end to end.
    // Scale: the pair stream is |distinct words| × word length (vocab-
    // bounded, NOT corpus-bounded — word frequencies collapse first, so a
    // 100 TB corpus contributes exactly one row per distinct word to the
    // character work), then one map-side-combined groupBy(pair).
    "e84_bpe_step" -> { (s, d) =>
      val words = load(s, d, "documents")
        .select(explode(toks(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      words.filter(length(col("w")) >= 2)
        .select(col("w"), col("f"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(concat(col("w").substr(col("i"), lit(1)), lit(" "),
          col("w").substr(col("i") + 1, lit(1))).as("pair"), col("f"))
        .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(10)
    },
    // E4/tokenizer training — ITERATED BPE: e84 surfaces one round's merge
    // candidates; this RUNS the trainer for 3 rounds — count adjacent
    // symbol pairs over the distinct-word vocabulary, pick the most
    // frequent (ties by symbol pair, exact integers), rewrite every word
    // with the merge applied, repeat — reporting each round's merged pair,
    // its count, and the corpus token count after the merge (the
    // compression curve a tokenizer team actually reads). Words are
    // pipe-delimited symbol strings ("|c|a|t|"); one merge application is
    // literal replace("|a|b|", "|ab|") iterated 6× — a single left-to-right
    // non-overlapping replace pass is IDENTICAL on both engines (verified
    // java.lang.String.replace ≡ DuckDB replace), so the 6-pass fold is
    // engine-invariant by construction, and 6 passes exceed the fixpoint
    // depth for any ≤64-symbol word chain. Merge semantics, precisely:
    // iterated leftmost non-overlapping replace TO FIXPOINT, which equals
    // textbook greedy except on runs of a SELF-adjacent pair ≥5 long
    // ("aaaaa" with pair (a,a): abutting matches share a delimiter, so
    // the first pass takes alternate occurrences and isolated leftovers
    // can't pair) — a deliberate, documented variant; real BPE trainers
    // themselves differ on run/tie handling, natural-language symbol
    // streams essentially lack such runs, and BpePropertySpec pins this
    // distributed form against an independent sequential reference of the
    // same rule on random corpora INCLUDING adversarial runs. Scale:
    // everything runs on the
    // |distinct words| vocabulary (corpus collapses to one weighted row
    // per word first — the e84 economics); each round is one vocab-sized
    // agg + a 1-row broadcast; rounds checkpoint so round k+1 never
    // replays round k's plan.
    "e107_bpe_merges" -> { (s, d) =>
      val words0 = load(s, d, "documents")
        .select(explode(toks(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .withColumn("ws", concat(lit("|"),
          array_join(filter(split(col("w"), ""), c => c =!= ""), "|"), lit("|")))
        .select(col("f"), col("ws"))
        .localCheckpoint() // 3 rounds re-read the vocab; GC-released
      def syms(ws: Column) = filter(split(ws, "\\|"), x => x =!= "")
      def pairCounts(df: DataFrame) = df
        .select(col("f"), syms(col("ws")).as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("f"),
          explode(transform(sequence(lit(1), size(col("sy")) - 1),
            i => struct(element_at(col("sy"), i).as("s1"),
              element_at(col("sy"), i + 1).as("s2")))).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("f")).as("cnt"))
      var cur = words0
      val rounds = (1 to 3).map { step =>
        val best = pairCounts(cur)
          .orderBy(col("cnt").desc, col("s1").asc, col("s2").asc).limit(1)
          .localCheckpoint() // 1 row; feeds the report AND the rewrite
        val pat = concat(lit("|"), col("s1"), lit("|"), col("s2"), lit("|"))
        val rep = concat(lit("|"), col("s1"), col("s2"), lit("|"))
        cur = cur.crossJoin(broadcast(best))
          .select(col("f"),
            (1 to 6).foldLeft(col("ws"))((c, _) => replace(c, pat, rep)).as("ws"))
          .localCheckpoint() // pin the round: later rounds read data, not plan
        best.crossJoin(broadcast(cur.agg(
            sum(col("f") * size(syms(col("ws")))).as("corpus_symbols_after"))))
          .select(lit(step).as("step"),
            concat(col("s1"), lit(" "), col("s2")).as("merged_pair"),
            col("cnt"), col("corpus_symbols_after"))
      }
      rounds.reduce(_ unionByName _).orderBy("step")
    },
    // E4/quality diagnostics — per-language Pearson correlation between
    // document length and lexical diversity (TTR): the length-bias check
    // a quality-filter team runs before trusting a TTR threshold (TTR
    // falls mechanically with length; a strongly negative r means a flat
    // TTR cutoff IS a length cutoff in disguise). Exactness is the
    // c31/e53 recipe: x is an exact integer, y an exact one-division
    // double, every product rounds through DECIMAL(28,12) so the five
    // regression sums are order-free, and r divides once at the end
    // (round 6). One partial+final aggregate; |langs| rows out.
    "e108_len_ttr_corr" -> { (s, d) =>
      val tk = toks(col("text"))
      val dec = (c: Column) => c.cast(DecimalType(28, 12))
      val base = load(s, d, "documents")
        .select(col("lang"), size(tk).cast(DoubleType).as("x"),
          (size(array_distinct(tk)).cast(DoubleType) / size(tk)).as("y"))
      base.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
          sum(dec(col("x") * col("x"))).as("sxx"),
          sum(dec(col("y") * col("y"))).as("syy"),
          sum(dec(col("x") * col("y"))).as("sxy"))
        .select(col("lang"), col("n_docs"),
          round((col("n_docs") * col("sxy").cast(DoubleType)
              - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
            / (sqrt(col("n_docs") * col("sxx").cast(DoubleType)
                - col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
              * sqrt(col("n_docs") * col("syy").cast(DoubleType)
                - col("sy").cast(DoubleType) * col("sy").cast(DoubleType))),
            6).as("corr_len_ttr"))
        .orderBy("lang")
    },
    // E-series monitoring — hour-of-day seasonality profile per event
    // type: peak hour and a chi-square statistic against the uniform
    // profile (the ingest-cadence diagnostic that separates "organic
    // traffic" from "batch replays land at 03:00"). Exactness: counts are
    // integers, the frame includes EMPTY hours (an absent hour is signal,
    // (0·24−n)² = n²), chi² = Σ(24·n_h − n)² / (24n) is one division of
    // two exact integers — bit-identical with no rounding at all. Scale:
    // one (type, hod) agg; the frame is |types|·24 rows.
    "e109_seasonality" -> { (s, d) =>
      val HOUR = 3600L * 1000 * 1000 * 1000
      val ev = Tables.events(s, d)
        .select(col("event_type"), expr(s"(ts_ns div $HOUR) % 24").as("hod"))
      val counts = ev.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("c"))
      val frame = ev.select(col("event_type")).distinct()
        .select(col("event_type"),
          explode(sequence(lit(0L), lit(23L))).as("hod"))
      val fl = frame.join(counts, Seq("event_type", "hod"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val tot = fl.groupBy(col("event_type")).agg(sum(col("c")).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("c").desc, col("hod").asc)
      val peak = fl.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("hod").as("peak_hod"), col("c").as("peak_n"))
      fl.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("n_events"),
          ((col("c") * 24 - col("n_events"))
            * (col("c") * 24 - col("n_events"))).as("d2"))
        .groupBy(col("event_type"), col("n_events"))
        .agg(sum(col("d2")).as("chi2_num"))
        .join(broadcast(peak), "event_type")
        .select(col("event_type"), col("n_events"), col("peak_hod"),
          col("peak_n"),
          (col("chi2_num").cast(DoubleType)
            / (col("n_events") * 24).cast(DoubleType)).as("chi2_uniform"))
        .orderBy("event_type")
    },
    // E4/quality — HELD-OUT bigram-LM scoring (the CCNet perplexity-filter
    // pattern done honestly): the LM trains on the doc_id%10≠0 split only,
    // then scores the held-out %10 split — e41 scores in-sample, which
    // flatters every memorized document. Laplace +1 over the train vocab
    // keeps unseen bigrams finite: lp = ln((c2+1)/(c1+V)), all three
    // inputs exact integers so libm sees identical rationals on both
    // engines; the ln output rounds at 9 BEFORE the per-term
    // DECIMAL(28,12) cast (the e41/e97 round-before-cast discipline —
    // a 1-ulp cross-build ln drift is ~1e-15 on values ~-10, six orders
    // under the round-9 granularity), per-language average rounds at 6. Scale: count tables are
    // vocab-bounded (broadcast here, hash join keyed on the bigram at
    // 100 TB); the val-side pass is one explode + map-side-combined agg.
    "e110_heldout_lm" -> { (s, d) =>
      def bigrams(df: DataFrame) = df
        .select(col("doc_id"), col("lang"), toks(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), col("lang"),
          explode(transform(sequence(lit(1), size(col("ts")) - 1),
            i => struct(element_at(col("ts"), i).as("w1"),
              concat(element_at(col("ts"), i), lit(" "),
                element_at(col("ts"), i + 1)).as("bg")))).as("x"))
        .select(col("doc_id"), col("lang"), col("x.w1").as("w1"), col("x.bg").as("bg"))
      val docs = load(s, d, "documents")
      val train = bigrams(docs.filter(col("doc_id") % 10 =!= 0))
      val c2 = train.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      val c1 = train.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val v = docs.filter(col("doc_id") % 10 =!= 0)
        .select(explode(toks(col("text"))).as("t"))
        .agg(countDistinct(col("t")).as("vv"))
      bigrams(docs.filter(col("doc_id") % 10 === 0))
        .join(broadcast(c2), Seq("bg"), "left")
        .join(broadcast(c1), Seq("w1"), "left")
        .crossJoin(broadcast(v))
        .select(col("lang"), col("doc_id"),
          round(log((coalesce(col("c2"), lit(0L)) + 1).cast(DoubleType)
              / (coalesce(col("c1"), lit(0L)) + col("vv")).cast(DoubleType)), 9)
            .cast(DecimalType(28, 12)).as("lp"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_bigrams"),
          round(sum(col("lp")).cast(DoubleType) / count(lit(1)), 6).as("avg_lp"))
        .orderBy("lang")
    },
    // E4/tokenizer — fertility per language: BPE-ish tokens per word and
    // characters per token, the efficiency metric multilingual teams size
    // vocabularies by (a language whose fertility drifts high is paying
    // more sequence length for the same text). Exact integer sums per
    // lang, two rounded divisions at the end. Scale: both token counters
    // are row-local regexp/split sizes; the rollup shuffles |langs| rows.
    "e87_fertility" -> { (s, d) =>
      load(s, d, "documents")
        .select(col("lang"),
          size(toks(col("text"))).cast(LongType).as("w"),
          size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)"))
            .cast(LongType).as("bpe"),
          length(regexp_replace(col("text"), " ", "")).cast(LongType).as("ch"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("n_words"),
          sum(col("bpe")).as("n_bpe"),
          round(sum(col("bpe")).cast(DoubleType) / sum(col("w")), 6)
            .as("fertility"),
          round(sum(col("ch")).cast(DoubleType) / sum(col("bpe")), 6)
            .as("chars_per_tok"))
        .orderBy("lang")
    },
    // E4/retrieval evaluation — recall@10 and MRR of the e40 BM25 ranker
    // against a derivable relevance set (docs containing >= 2 distinct
    // query terms): the honesty check a retrieval stack ships with, in the
    // e58/e63 measured-not-asserted tradition. Ranks are integers with
    // full tie-breaks over the shared bit-stable scores; the two ratios
    // are single IEEE divisions of exact integers. Scale: the ranking is
    // already postings-bounded (e40); relevance is one more pass over the
    // same postings; the final aggregate is one row.
    "e88_retrieval_eval" -> { (s, d) =>
      val rel = load(s, d, "documents")
        .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("t"))
        .filter(col("t").isin("spark", "merge", "vector"))
        .groupBy(col("doc_id")).agg(countDistinct(col("t")).as("nq"))
        .filter(col("nq") >= 2)
        .select(col("doc_id"), lit(1L).as("rel"))
      val pin = graft.functions.PinnedKey.pin(lit(0))
      bm25Scores(s, d)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(pin)
            .orderBy(col("score").desc, col("doc_id"))))
        .join(rel, Seq("doc_id"), "left")
        .agg(sum(coalesce(col("rel"), lit(0L))).as("n_relevant"),
          sum(when(col("rank") <= 10 && col("rel") === 1L, 1L).otherwise(0L))
            .as("hits_at_10"),
          min(when(col("rel") === 1L, col("rank"))).cast(LongType)
            .as("first_rel_rank"))
        .select(col("n_relevant"), col("hits_at_10"), col("first_rel_rank"),
          round(lit(1.0) / col("first_rel_rank"), 6).as("mrr"),
          round(col("hits_at_10").cast(DoubleType)
            / least(lit(10L), col("n_relevant")), 6).as("recall_at_10"))
    },
    // E1/governance — train/test split LEAKAGE audit: near-dup candidate
    // pairs (the e03b bucket-local stream over the %10 audit sample)
    // crossing the e22 deterministic split boundaries — the
    // contamination-by-duplication check a release gate runs AFTER
    // splitting, because hash-splitting documents does nothing to keep
    // near-duplicates on one side. Output: pair counts per unordered
    // split pair; every off-diagonal row is leaked supervision. Scale:
    // e03b's candidate economics + two broadcastable split maps.
    "e89_split_leakage" -> { (s, d) =>
      val b = tokenHash(col("doc_id").cast(StringType)) % 100
      val splits = load(s, d, "documents")
        .select(col("doc_id"),
          when(b < 80, "train").when(b < 90, "val").otherwise("test")
            .as("split"))
      lshCandidates(s, d)
        .join(splits.select(col("doc_id").as("d1"), col("split").as("s1")), "d1")
        .join(splits.select(col("doc_id").as("d2"), col("split").as("s2")), "d2")
        .groupBy(least(col("s1"), col("s2")).as("split_a"),
          greatest(col("s1"), col("s2")).as("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("split_a", "split_b")
    },
    // E1/ingest-rule — the ONLINE near-dup rejection rule as a one-shot
    // oracle-gated query (the batch twin of CorpusIngest(nearDupMinSig):
    // NearDupIngestSpec proves stream ≡ this rule under any chunking;
    // THIS query proves the rule itself against an independent engine).
    // A doc is rejected when ≥6 of its 8 MinHash components agree with
    // any SMALLER-id doc; report per-lang kept/rejected counts. Same %10
    // audit-slice economics as the e03 family; the agreement check reads
    // 16 longs per candidate pair.
    "e90_reject_rule" -> { (s, d) =>
      // sig + candidates probe the corpus artifacts (bare parquet scans
      // after first build); the rule's own verify step — the part this
      // query gates — still computes from scratch below
      val sig = minhashSigsArtifact(s, d)
      val cand = lshCandidates(s, d)
      val nMatch = (0 until 8).map(i =>
        when(col(s"sig$i") === col(s"p$i"), 1).otherwise(0)).reduce(_ + _)
      val verified = cand
        .join(sig.select(col("doc_id").as("d1") +:
          (0 until 8).map(i => col(s"sig$i").as(s"p$i")): _*), "d1")
        .join(sig.select(col("doc_id").as("d2") +:
          (0 until 8).map(i => col(s"sig$i")): _*), "d2")
        .filter(nMatch >= 6)
        .select(col("d1"), col("d2"))
      val rejected = verified.select(col("d2").as("doc_id")).distinct()
      load(s, d, "documents").filter(col("doc_id") % 10 === 0)
        .join(rejected.withColumn("rej", lit(1L)), Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rej").isNull, 1L).otherwise(0L)).as("n_kept"),
          sum(coalesce(col("rej"), lit(0L))).as("n_rejected"))
        .orderBy("lang")
    },
    // E5×E1 — IMAGE near-dup via perceptual hash: the dedup pillar at the
    // image modality. Executors REALLY decode each PNG (inflate+unfilter),
    // compute a 64-bit dHash (9×8 NN-grayscale grid, row-adjacent
    // comparisons), and near-dup candidates come from 16-bit band equality
    // over the hash — the text LSH design transplanted: band buckets make
    // the candidate join bucket-local (collision odds 4·2^-16 for
    // unrelated images), and only candidates pay the XOR-hamming verify.
    // The fixture plants controlled near-dup twins (every 997th pixel byte
    // bumped — exact hashes differ, perceptual distance ~0) and the oracle
    // rederives decode→resample→hash→band→hamming entirely in closed-form
    // integer SQL. Scale: per image ONE 2-long row leaves the decode;
    // shuffle = 4 band rows/image; never all-pairs.
    "e91_image_dhash" -> { (s, d) =>
      import s.implicits._
      val path = writeDhashFixtures(s, d)
      val hashes = s.read.format("binaryFile").load(path)
        .select(
          regexp_extract(col("path"), "png_(\\d+)\\.png$", 1)
            .cast(LongType).as("doc_id"),
          col("content").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { rows =>
          rows.map { case (id, b) =>
            val (w, h, _, _) = Multimodal.pngHeader(b)
            val px = Multimodal.decodePngPixels(b)
            val (hi, lo) = Multimodal.dhash64(px, w, h)
            (id, hi, lo)
          }
        }
        .toDF("doc_id", "hi", "lo")
      val bands = hashes.select(col("doc_id"),
        explode(array(
          struct(lit(0).as("band"), (col("hi") % 65536).as("key")),
          struct(lit(1).as("band"), shiftright(col("hi"), 16).as("key")),
          struct(lit(2).as("band"), (col("lo") % 65536).as("key")),
          struct(lit(3).as("band"), shiftright(col("lo"), 16).as("key"))))
          .as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.key"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val hamming =
        (bit_count(col("a.hi").bitwiseXOR(col("b.hi"))) +
          bit_count(col("a.lo").bitwiseXOR(col("b.lo")))).cast(LongType)
      cand
        .join(hashes.as("a"), col("doc_a") === col("a.doc_id"))
        .join(hashes.as("b"), col("doc_b") === col("b.doc_id"))
        .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
        .filter(col("hamming") <= 12)
        .orderBy("doc_a", "doc_b")
    },
    // E4 — Unicode script composition profile: the multilingual-corpus
    // audit that runs before language-ID is trusted (a doc whose declared
    // lang disagrees with its dominant script is mis-tagged or mixed).
    // Injected non-ASCII classes (Cyrillic / CJK / Latin-1-accented by
    // doc_id mod 4) give the ASCII fixture real script structure; counts
    // are codepoint-exact via regexp class erasure, classification is a
    // deterministic disjoint CASE. Scale: pure map-side derivation + a
    // |langs×classes|-row rollup — the scan never shuffles data rows.
    "e92_script_mix" -> { (s, d) =>
      val m4 = pmod(col("doc_id"), lit(4L))
      val t = concat(col("text"),
        when(m4 === 0, lit(" привет мир"))
          .when(m4 === 1, lit(" 你好世界"))
          .when(m4 === 2, lit(" café résumé"))
          .otherwise(lit("")))
      def cnt(cls: String) =
        (length(t) - length(regexp_replace(t, cls, ""))).cast(LongType)
      val nCyr = cnt("[\\x{0400}-\\x{04FF}]")
      val nCjk = cnt("[\\x{4E00}-\\x{9FFF}]")
      val nAcc = cnt("[\\x{00C0}-\\x{00FF}]")
      load(s, d, "documents")
        .select(col("lang"),
          when(nCyr > 0, "cyrillic").when(nCjk > 0, "cjk")
            .when(nAcc > 0, "accented").otherwise("ascii").as("script_class"),
          cnt("[a-zA-Z]").as("lat"), nCyr.as("cyr"), nCjk.as("cjk"),
          nAcc.as("acc"),
          (length(t) - cnt("[\\x{0000}-\\x{007F}]")).as("nonascii"))
        .groupBy(col("lang"), col("script_class"))
        .agg(count(lit(1)).as("n_docs"), sum(col("lat")).as("n_latin"),
          sum(col("cyr")).as("n_cyr"), sum(col("cjk")).as("n_cjk"),
          sum(col("acc")).as("n_accented"),
          sum(col("nonascii")).as("n_nonascii"))
        .orderBy("lang", "script_class")
    },
    // E5×E1 — AUDIO near-dup via window-energy fingerprint: executors
    // REALLY decode the PCM stream, cut it into 64-sample windows, and
    // keep only the SIGN of each window-to-window energy delta (≤56 bits,
    // positive BIGINT) — robust to the fixture's planted dropout twins
    // (every 101st sample zeroed) because sparse dropout barely moves a
    // window's |amplitude| sum. Matching requires equal window counts
    // (length-compatible) + XOR-hamming ≤ 8; the oracle rederives
    // stream→windows→fingerprint→pairs in closed-form integer SQL.
    // Scale: ONE 3-long row per file leaves the decode; the candidate
    // join keys on n_windows (a length bucket), never sample data.
    "e93_audio_fp" -> { (s, d) =>
      import s.implicits._
      val path = writeWavFpFixtures(s, d)
      val fps = s.read.format("binaryFile").load(path)
        .filter(Multimodal.isWav(col("content")))
        .select(
          regexp_extract(col("path"), "wav_(\\d+)\\.wav$", 1)
            .cast(LongType).as("doc_id"),
          col("content").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { rows =>
          rows.map { case (id, b) =>
            val (n, nw, fp) = Multimodal.audioFingerprint(b)
            (id, n, nw, fp)
          }
        }
        .toDF("doc_id", "n_samples", "n_windows", "fp")
      val hamming = bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast(LongType)
      fps.as("a").join(fps.as("b"),
          col("a.n_windows") === col("b.n_windows") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n_windows").as("n_windows"), hamming.as("hamming"))
        .filter(col("hamming") <= 8)
        .orderBy("doc_a", "doc_b")
    },
    // E5 — landing-bucket format triage: the FIRST op a multimodal ingest
    // runs over an untyped blob bucket — classify every file by magic
    // bytes (PNG/JPEG/WAV/GVID/opaque) and report per-kind volume, so
    // downstream decode stages route by kind instead of trying codecs.
    // Pure codegen'd column predicates over the payload prefix (the same
    // isPng/isJpeg/isWav/isGvid expressions the decode queries gate on);
    // the fixture mixes real encodings of all four kinds plus junk.
    // Scale: classification is a prefix read per file, the rollup is
    // |kinds| rows — the scan cost IS the listing.
    "e94_format_detect" -> { (s, d) =>
      val path = writeMixedMediaFixtures(s, d)
      val kind = when(Multimodal.isPng(col("content")), "png")
        .when(Multimodal.isJpeg(col("content")), "jpeg")
        .when(Multimodal.isWav(col("content")), "wav")
        .when(Multimodal.isGvid(col("content")), "video")
        .otherwise("opaque")
      s.read.format("binaryFile").load(path)
        .select(kind.as("kind"), col("length").as("n_bytes"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_bytes")).as("total_bytes"),
          min(col("n_bytes")).as("min_bytes"), max(col("n_bytes")).as("max_bytes"))
        .orderBy("kind")
    },
    // E5 — per-channel normalization constants: the dataset-statistics
    // pass every vision pipeline runs before training (channel means/stds
    // for the normalize transform). Executors really decode each PNG and
    // fold per-channel n/Σv/Σv²/min/max as exact integers; the corpus
    // variance numerator n·Σv²−(Σv)² is exact too, so the only float in
    // the result is one IEEE division. Scale: THREE rows per image leave
    // the decode, the rollup is 3 rows total — decode-bound, shuffle-free
    // in any real sense.
    "e95_channel_stats" -> { (s, d) =>
      import s.implicits._
      val path = writePngFixtures(s, d, "e95")
      s.read.format("binaryFile").load(path)
        .select(
          regexp_extract(col("path"), "png_(\\d+)\\.png$", 1)
            .cast(LongType).as("doc_id"),
          col("content").as("payload"))
        .as[(Long, Array[Byte])]
        .flatMap { case (_, b) =>
          val px = Multimodal.decodePngPixels(b)
          val n = new Array[Long](3); val sm = new Array[Long](3)
          val sq = new Array[Long](3)
          val mn = Array.fill(3)(255L); val mx = new Array[Long](3)
          var i = 0
          while (i < px.length) {
            val c = i % 3; val v = (px(i) & 0xff).toLong
            n(c) += 1; sm(c) += v; sq(c) += v * v
            if (v < mn(c)) mn(c) = v
            if (v > mx(c)) mx(c) = v
            i += 1
          }
          Seq("r", "g", "b").zipWithIndex.map { case (ch, c) =>
            (ch, n(c), sm(c), sq(c), mn(c), mx(c))
          }
        }
        .toDF("channel", "n_px", "sum_v", "sum_sq", "min_v", "max_v")
        .groupBy(col("channel"))
        .agg(sum(col("n_px")).as("n_px"), sum(col("sum_v")).as("sum_v"),
          sum(col("sum_sq")).as("sum_sq"), min(col("min_v")).as("min_v"),
          max(col("max_v")).as("max_v"))
        .withColumn("var_num",
          col("n_px") * col("sum_sq") - col("sum_v") * col("sum_v"))
        .withColumn("mean_v", col("sum_v").cast(DoubleType) / col("n_px"))
        .orderBy("channel")
    },
    // E5×E1 — VIDEO near-dup via sampled-frame perceptual hashes: the
    // fourth and last modality of the dedup family (text e03, image e91,
    // audio e93). Each video is fingerprinted by the dHash of its
    // index-sampled first/middle/last frames (the e72 seek-don't-scan
    // contract: 3 frames decode per file regardless of length); two
    // videos are near-dups when ≥2 sampled positions match within
    // hamming ≤ 3, candidates surfaced by per-position 16-bit band
    // equality (lossless at that threshold). The fixture plants
    // per-frame perturbed twins — a re-encoded copy whose every byte
    // differs; the oracle rederives index-seek → per-frame decode →
    // hash → band → pair verdict in closed-form integer SQL. Scale:
    // 3 hash rows per video leave the decode, candidates are
    // (position, band)-bucket-local — never frame-by-frame comparison.
    "e99_video_neardup" -> { (s, d) =>
      import s.implicits._
      val path = writeGvidDupFixtures(s, d)
      val hashes = s.read.format("binaryFile").load(path)
        .filter(Multimodal.isGvid(col("content")))
        .select(
          regexp_extract(col("path"), "vid_(\\d+)\\.gvid$", 1)
            .cast(LongType).as("vid_id"),
          col("content").as("payload"),
          Multimodal.gvidFrameCount(col("content")).as("n_frames"))
        .withColumn("pos_k", explode(array_distinct(array(
          lit(0L), expr("n_frames div 2"), col("n_frames") - 1))))
        .withColumn("off",
          Multimodal.beIntAt(col("payload"), lit(6L) + col("pos_k") * 8, 4))
        .withColumn("len",
          Multimodal.beIntAt(col("payload"), lit(10L) + col("pos_k") * 8, 4))
        .select(col("vid_id"), col("pos_k"),
          expr("substring(payload, cast(off + 1 as int), cast(len as int))")
            .as("frame"))
        .as[(Long, Long, Array[Byte])]
        .mapPartitions { rows =>
          rows.map { case (vid, k, fb) =>
            val (w, h, _, _) = Multimodal.pngHeader(fb)
            val px = Multimodal.decodePngPixels(fb)
            val (hi, lo) = Multimodal.dhash64(px, w, h)
            (vid, k, hi, lo)
          }
        }
        .toDF("vid_id", "pos_k", "hi", "lo")
      val bands = hashes.select(col("vid_id"), col("pos_k"),
        explode(array(
          struct(lit(0).as("band"), (col("hi") % 65536).as("bkey")),
          struct(lit(1).as("band"), shiftright(col("hi"), 16).as("bkey")),
          struct(lit(2).as("band"), (col("lo") % 65536).as("bkey")),
          struct(lit(3).as("band"), shiftright(col("lo"), 16).as("bkey"))))
          .as("bk"))
        .select(col("vid_id"), col("pos_k"), col("bk.band"), col("bk.bkey"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.pos_k") === col("y.pos_k") && col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey") && col("x.vid_id") < col("y.vid_id"))
        .select(col("x.vid_id").as("vid_a"), col("y.vid_id").as("vid_b"),
          col("x.pos_k").as("pos_k"))
        .distinct()
      val hamming =
        (bit_count(col("a.hi").bitwiseXOR(col("b.hi"))) +
          bit_count(col("a.lo").bitwiseXOR(col("b.lo")))).cast(LongType)
      cand.as("c")
        .join(hashes.as("a"),
          col("c.vid_a") === col("a.vid_id") && col("c.pos_k") === col("a.pos_k"))
        .join(hashes.as("b"),
          col("c.vid_b") === col("b.vid_id") && col("c.pos_k") === col("b.pos_k"))
        .select(col("c.vid_a").as("vid_a"), col("c.vid_b").as("vid_b"),
          hamming.as("hm"))
        .filter(col("hm") <= 3)
        .groupBy(col("vid_a"), col("vid_b"))
        .agg(count(lit(1)).as("n_pos_matched"), max(col("hm")).as("max_hamming"))
        .filter(col("n_pos_matched") >= 2)
        .orderBy("vid_a", "vid_b")
    },
    // E4/evaluation — n-gram NOVELTY of held-out documents against the
    // training corpus (the memorization complement of e29's decontam
    // overlap: Lee et al. report % novel n-grams to show dedup reduces
    // verbatim regurgitation). Train = doc_id%10!=0, eval = %10==0;
    // per eval doc the fraction of its distinct 3-grams absent from the
    // ENTIRE train corpus, rolled up per lang in exact integers. Scale:
    // the train 3-gram set collapses to DISTINCT hashes once (map-side
    // combined), the eval side left-anti-joins on the hash — shuffle =
    // |distinct train 3-grams| + |eval 3-grams|, never docs × grams.
    "e100_ngram_novelty" -> { (s, d) =>
      def grams(df: DataFrame) = df
        .select(col("doc_id"), col("lang"), toks(col("text")).as("tk"))
        // the >=3 guard (e29/e32 discipline): without it a <3-token doc
        // makes sequence() count DOWN (step defaults to -1) and
        // element_at(tk, 0) throws, where the oracle's generate_series
        // just yields no grams
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(transform(sequence(lit(0), size(col("tk")) - 3),
            i => concat_ws(" ", element_at(col("tk"), i + 1),
              element_at(col("tk"), i + 2), element_at(col("tk"), i + 3)))))
            .as("g"))
        .withColumn("h", tokenHash(col("g")))
      val docs = load(s, d, "documents")
      val train = grams(docs.filter(col("doc_id") % 10 =!= 0))
        .select(col("h")).distinct()
      val eval = grams(docs.filter(col("doc_id") % 10 === 0))
      val perDoc = eval
        .join(train.withColumn("seen", lit(1L)), Seq("h"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_grams")).as("n_grams"),
          sum(col("n_novel")).as("n_novel"),
          sum(when(col("n_novel") * 2 < col("n_grams"), 1L).otherwise(0L))
            .as("n_memorized_docs"))
        .orderBy("lang")
    },
    // E1/training prep — duplication-aware sampling weights: every doc in
    // a near-dup cluster of size k carries weight 1/k, so duplicated
    // content contributes ONE unit of training signal no matter how many
    // copies survive upstream filters (the soft alternative to e25's hard
    // removal). Weights are exact integers in units of 1e-9 (floor of
    // 1e9/k), so the per-lang effective-dataset-size sums are engine- and
    // order-invariant with zero float/decimal-division semantics in play.
    // Scale: the e21 component labels + one |clusters|-row size agg + a
    // doc-keyed join — the merge's shuffle class.
    "e101_dup_weights" -> { (s, d) =>
      val comp = lshComponentsArtifact(s, d).select(col("node").as("doc_id"), col("label"))
      val sizes = comp.groupBy(col("label")).agg(count(lit(1)).as("k"))
      load(s, d, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang"))
        .join(comp, "doc_id").join(broadcast(sizes), "label")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_in_clusters"),
          sum(expr("1000000000L div k")).as("effective_docs_e9"),
          max(col("k")).as("max_cluster"))
        .orderBy("lang")
    },
    // E-series monitoring — two-sample Kolmogorov–Smirnov distance between
    // two sources' length distributions, in EXACT integer arithmetic: the
    // ECDF difference is compared through the cross-multiplied form
    // |cumA·nB − cumB·nA| (numerator over the common denominator nA·nB),
    // so the sup and its argmax are engine-exact with no float until the
    // single final division. The nonparametric complement of e97's
    // binned PSI — it needs no binning choice at all. Scale: lengths
    // collapse to |distinct lengths| counted rows map-side; the running
    // sum is a deliberate single-partition window over that bounded
    // table (graft_pin), totals broadcast.
    "e103_ks_drift" -> { (s, d) =>
      val docs = load(s, d, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), col("n_chars"))
      val counts = docs.groupBy(col("n_chars"))
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.PinnedKey.pin(lit(0)))
        .orderBy(col("n_chars"))
        .rowsBetween(Long.MinValue, 0)
      val tot = docs.agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("na"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("nb"))
      counts
        .select(col("n_chars"), sum(col("ca")).over(w).as("cuma"),
          sum(col("cb")).over(w).as("cumb"))
        .crossJoin(broadcast(tot))
        .select(col("n_chars"), col("na"), col("nb"),
          abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("diff"))
        .orderBy(col("diff").desc, col("n_chars").asc)
        .limit(1)
        .select(col("na"), col("nb"), col("n_chars").as("arg_len"),
          col("diff").as("ks_num"), (col("na") * col("nb")).as("ks_den"),
          (col("diff").cast(DoubleType) / (col("na") * col("nb"))).as("ks"))
    },
    // E1/training prep — near-dup-cluster-aware SHARD assignment: shards
    // are keyed by the cluster LABEL's hash, not the doc's, so every
    // member of a near-dup cluster lands in the SAME training shard —
    // without this, interleaved near-dups leak across shard boundaries
    // and defeat per-shard dedup/packing. The report carries its own
    // evidence: n_split_clusters counts clusters spanning >1 shard and
    // must be 0 by construction. Scale: e21 labels + one map-side shard
    // derivation + a |shards|-row rollup.
    "e102_cluster_shards" -> { (s, d) =>
      val comp = lshComponentsArtifact(s, d).select(col("node").as("doc_id"), col("label"))
      val docs = load(s, d, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), size(toks(col("text"))).cast(LongType).as("n_tok"))
        .join(comp, "doc_id")
        .withColumn("shard",
          pmod(tokenHash(col("label").cast(StringType)), lit(8L)))
      val split = docs.groupBy(col("label"))
        .agg(countDistinct(col("shard")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_split_clusters"))
      docs.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("label")).as("n_clusters"),
          sum(col("n_tok")).as("n_tokens"))
        .crossJoin(broadcast(split))
        .orderBy("shard")
    },
    // E4/curation — URL canonicalization + URL-level dedup (the CCNet
    // crawl-dedup key): raw URLs differ in case, default ports, trailing
    // slashes, tracking queries, and fragments while naming the SAME
    // resource, so exact-URL dedup without canonicalization silently keeps
    // duplicates. Injected variants (uppercase host+scheme+:443, tracking
    // query+fragment, and the clean form — all from doc_id, so docs
    // sharing id mod the host/path periods collide cross-doc) collapse via
    // lower → strip query/fragment → strip default port → strip trailing
    // slash, all engine-invariant regexp/string ops. Per-domain rollup:
    // how many raw URLs, how many canonical ones, how many canonical keys
    // had >1 raw variant / appeared in >1 doc. Scale: map-side generate +
    // canonicalize, one groupBy(canon) then one groupBy(domain) — shuffle
    // = |distinct canon| then |domains|, never |docs|.
    "e98_url_canonical" -> { (s, d) =>
      val txt = concat(col("text"),
        lit(" HTTPS://WWW.Site"), pmod(col("doc_id"), lit(20L)),
        lit(".Example"), pmod(col("doc_id"), lit(3L)),
        lit(".COM:443/p/"), pmod(col("doc_id"), lit(7L)),
        lit("/ and https://www.site"), pmod(col("doc_id"), lit(20L)),
        lit(".example"), pmod(col("doc_id"), lit(3L)),
        lit(".com/p/"), pmod(col("doc_id"), lit(7L)),
        lit("?utm_source=feed&ref="), col("doc_id"),
        lit("#sec and http://cdn"), pmod(col("doc_id"), lit(5L)),
        lit(".assets-net.io/f/"), pmod(col("doc_id"), lit(100L)))
      val urls = load(s, d, "documents")
        .select(col("doc_id"),
          explode(regexp_extract_all(txt, lit("(?i)https?://[^ ]+"), lit(0)))
            .as("url"))
      val lurl = lower(col("url"))
      val host = regexp_replace(
        regexp_extract(lurl, "^[a-z]+://([^/?#]+)", 1), ":(443|80)$", "")
      val path0 = regexp_extract(lurl, "^[a-z]+://[^/?#]+([^?#]*)", 1)
      val canon = concat(host,
        when(rtrim(path0, "/") === "", "/").otherwise(rtrim(path0, "/")))
      urls
        .select(col("doc_id"), canon.as("canon"),
          regexp_extract(host, "([^.]+\\.[^.]+)$", 1).as("domain"))
        .groupBy(col("domain"), col("canon"))
        .agg(count(lit(1)).as("n_raw"), countDistinct(col("doc_id")).as("n_docs"))
        .groupBy(col("domain"))
        .agg(sum(col("n_raw")).as("n_urls"),
          count(lit(1)).as("n_canonical"),
          sum(when(col("n_raw") > 1, 1L).otherwise(0L)).as("n_collapsed"),
          sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_crossdoc"))
        .orderBy("domain")
    },
    // E-series monitoring — per-key EWMA smoothing + spike flag over the
    // event stream, with α = 1/2 so every smoothed value is a DYADIC
    // rational: (acc+x)/2 folds are exact-by-IEEE in both engines when the
    // fold ORDER is pinned (ts_ns, event_id — unique), so the float
    // crosses the engine boundary bit-identical without any decimal
    // rounding. The online-metric primitive behind rate-of-change alerts.
    // Scale: one groupBy(user) carrying each key's event list — the same
    // shuffle class as sessionization; at 100 TB the fold runs inside
    // mapGroups per key, never materializing a global sort.
    "e96_ewma" -> { (s, d) =>
      val ewma = aggregate(
        transform(col("xs"), x => x.getField("value")),
        lit(0.0), (acc, v) => (acc + v) / 2.0)
      Tables.events(s, d).filter(col("user_id") < 40)
        .groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(
          col("ts_ns"), col("event_id"), col("value")))).as("xs"))
        .select(col("user_id"),
          size(col("xs")).cast(LongType).as("n_events"),
          ewma.as("ewma"),
          element_at(col("xs"), -1).getField("value").as("last_value"))
        .withColumn("is_spike", col("last_value") > col("ewma") * 2)
        .orderBy("user_id")
    },
    // E-series monitoring — population-stability-index drift between the
    // first and second time halves of the event stream (the
    // training-serving-skew / dataset-shift monitor an ML pipeline runs
    // per snapshot): categorical PSI over event_type with Laplace +1
    // smoothing so empty cells stay defined. Engine-invariance (the e103
    // exact-integer discipline, hardened after r7's cross-DuckDB-build
    // hash drift): the smoothed shares are computed as exact BIGINT
    // parts-per-billion via integer floor division — no double→decimal
    // round at the boundary — and every float the output carries derives
    // from those integers by one correctly-rounded IEEE op (p_share =
    // p_ppb/1e9, bit-identical on any engine). libm enters only inside
    // psi_term, fed the SAME integer-valued doubles on both engines, and
    // its output is rounded at 6 digits (≥9 orders of margin over a 1-ulp
    // log drift) before the DECIMAL(18,6) cast that makes the total an
    // order-free exact sum. The DECIMAL stays INTERNAL: the output casts
    // psi_term/psi_total back to DOUBLE (decimal→double is correctly
    // rounded from the same exact decimal on both engines), keeping the
    // output surface on the canonical types every other query uses —
    // r7/r8 showed the driver's gate diverges on decimal-typed OUTPUT
    // columns specifically, while the arithmetic was bit-exact. The ppb
    // shares clamp at 1 (GREATEST) so an absent type under a >1e9-event
    // half-total floors to ppb=1 instead of ln(0) = -Inf — the clamp
    // preserves exactness and the Laplace intent; past ~9e18/1e9 events
    // the shares graduate to DECIMAL arithmetic. Scale: two scans
    // collapse to |types|-row frames; the split point and totals
    // broadcast.
    "e97_psi_drift" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val mid = ev.agg(expr("(min(ts_ns) + max(ts_ns)) div 2").as("tmid"))
      val counts = ev.crossJoin(broadcast(mid))
        .select(col("event_type"),
          when(col("ts_ns") <= col("tmid"), 1L).otherwise(0L).as("r"))
        .groupBy(col("event_type"))
        .agg(sum(col("r")).as("a"), sum(lit(1L) - col("r")).as("b"))
      val tot = counts.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"),
        count(lit(1)).as("k"))
      val terms = counts.crossJoin(broadcast(tot))
        .select(col("event_type"), col("a").as("n_ref"), col("b").as("n_cur"),
          expr("greatest((a + 1) * 1000000000L div (ta + k), 1L)").as("p_ppb"),
          expr("greatest((b + 1) * 1000000000L div (tb + k), 1L)").as("q_ppb"))
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          (col("p_ppb").cast(DoubleType) / lit(1e9)).as("p_share"),
          (col("q_ppb").cast(DoubleType) / lit(1e9)).as("q_share"),
          round(((col("p_ppb") - col("q_ppb")).cast(DoubleType) / lit(1e9))
              * (log(col("p_ppb").cast(DoubleType))
                - log(col("q_ppb").cast(DoubleType))), 6)
            .cast(DecimalType(18, 6)).as("psi_term"))
      terms.crossJoin(broadcast(terms.agg(
          sum(col("psi_term")).cast(DecimalType(28, 6)).as("psi_total"))))
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          col("p_share"), col("q_share"),
          col("psi_term").cast(DoubleType).as("psi_term"),
          col("psi_total").cast(DoubleType).as("psi_total"))
        .orderBy("event_type")
    },
    // E1-eval/leakage — CLUSTER-level split leakage: e89 counts cross-split
    // candidate PAIRS; this audits the TRANSITIVE closure — a val/test doc
    // whose near-dup cluster contains any train member is leaked even when
    // its own candidate edge reaches train only indirectly (A~B~C with A
    // in train, C in test, B bridging). One row per observed split-set
    // ('test+train', 'train+val', …): clusters spanning exactly that set
    // and the docs inside them. Scale: the shared labels artifact + one
    // map-side hash-split derivation + two |clusters|-row aggs.
    "e104_split_leak_clusters" -> { (s, d) =>
      val hid = tokenHash(col("doc_id").cast(StringType)) % 100
      val comp = lshComponentsArtifact(s, d)
        .select(col("node").as("doc_id"), col("label"))
        .withColumn("split",
          when(hid < 80, "train").when(hid < 90, "val").otherwise("test"))
      comp.groupBy(col("label"))
        .agg(count(lit(1)).as("nd"),
          concat_ws("+", sort_array(collect_set(col("split")))).as("split_set"))
        .groupBy(col("split_set"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("nd")).as("n_docs"))
        .orderBy("split_set")
    },
    // E1/training prep — leakage-SAFE split assignment: the CONSTRUCTIVE
    // twin of the e104 audit. Splits are assigned per VERIFIED-near-dup
    // CONNECTED COMPONENT (hash of the cluster label, not of the
    // doc_id), so every real near-dup cluster lands whole on one side by
    // construction — the split discipline e45/e89/e104 exist to audit
    // for. The similarity MUST be discriminative for the assignment to
    // have balance: on this fixture's 31-word vocabulary, unigram
    // token-set Jaccard saturates (nearly every doc pair clears 0.5,
    // merging the corpus into ONE component = one split), while 3-gram
    // shingles separate the true perturbed-copy clusters from random
    // word collisions — so the edge set is exact shingle-Jaccard ≥ 0.5
    // over co-shingle pairs (e29's shingle transform, e04b's inverted-
    // index candidate economics: pairs sharing nothing are never
    // materialized). The output carries the proof: per-split volumes
    // plus the CROSS-split verified-pair count, computed (not asserted)
    // — constructively zero here, where the doc-hash split leaves
    // leaked pairs (e45's leaks=true rows). Singleton docs are their
    // own component, so volumes cover the full corpus. Scale: postings
    // self-join is bounded by Σ df² (at 100 TB the candidate stage
    // swaps in the banded MinHash-LSH of e03 to cap df fan-out — BUILT
    // as e113b, its own oracle gate); the
    // verify pays only surfaced pairs; the closure runs the O(log n)
    // large/small-star operator over the sparse verified graph; the
    // assignment itself is one map-side hash of the component label.
    "e113_leakage_safe_split" -> { (s, d) =>
      // shared shingle frame: a bare parquet scan of the write-once
      // artifact (see shingleSets3Artifact) — re-scanning it is cheaper
      // than a checkpoint at any scale
      val sh = shingleSets3Artifact(s, d)
      // feeds the closure AND the leak check
      val verified = exactShinglePairs(s, sh).localCheckpoint()
      leakSplitReport(s, d, verified)
    },
    // E1/splits — e113's 100 TB CANDIDATE stage, built: the co-shingle
    // postings self-join is Σ df²-bounded, and e113's own comment names
    // the production swap — banded MinHash-LSH caps the fan-out so the
    // candidate stream rides |corpus|, never df². This twin runs that
    // swap end-to-end: 8 minhash permutations over the SAME 3-gram
    // shingle space the verify measures (not unigrams — the LSH must
    // approximate the similarity it gates), 2×4 banding, bucket-local
    // candidate pairs, EXACT shingle-Jaccard ≥ 0.5 verify on surfaced
    // pairs only (each pulls two shingle arrays — the e03b economics),
    // then the identical closure/split/leak tail. The oracle recomputes
    // the IDENTICAL banded candidate set (the e114b discipline), so the
    // gate tests the production pipeline itself — where banding misses a
    // true ≥0.5 pair, BOTH engines miss it, and the split honestly
    // reports whatever leakage that miss leaves behind.
    "e113b_leakage_split_lsh" -> { (s, d) =>
      // shared shingle artifact feeds sigs AND the verify (parquet scan)
      val sets = shingleSets3Artifact(s, d)
      val verified = lshVerifiedPairs(sets).localCheckpoint()
      leakSplitReport(s, d, verified)
    },
    // E1/splits — e113b's measured honesty row (the e58 tradition): the
    // probabilistic candidate stage gets a NUMBER, not just a containment
    // gate. One row: |exact ≥0.5 pairs| (e113's edge set), |banding-
    // surfaced verified pairs| (e113b's, hot-bucket cap included), their
    // ratio = candidate recall, and the TRUE cross-split leak count the
    // misses leave — exact edges whose endpoints the LSH-closure split
    // separates (e113b's own reported leaks are zero by construction,
    // because its split keys on its own closure; the residual risk lives
    // exactly in the edges banding never surfaced). Scale: both edge
    // stages are the production pipelines measured elsewhere; the three
    // count aggs are 1-row control-plane frames.
    "e113c_lsh_recall" -> { (s, d) =>
      val sets = shingleSets3Artifact(s, d)
      // The exact and the banded pair stages are INDEPENDENT consumers of
      // `sets` (the report exists to compare them), yet each is a chain of
      // small sequential jobs that leaves most cores idle — materialize
      // them from two driver threads so the scheduler backfills one
      // chain's tail with the other's work (guide §2.6; alternating
      // same-JVM A/B: 2.5-3.9 s sequential vs 1.7-2.2 s overlapped).
      // Results identical: each stage still checkpoints exactly once.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val exactF = Future(exactShinglePairs(s, sets).localCheckpoint())
      val lshF = Future(lshVerifiedPairs(sets).localCheckpoint())
      val exactNd = Await.result(exactF, Duration.Inf)
      val lshNd = Await.result(lshF, Duration.Inf)
      val (comp, _) = operators.ConnectedComponents.run(
        load(s, d, "documents").select(col("doc_id").as("node")), lshNd)
      val hid = tokenHash(col("comp").cast(StringType)) % 100
      val sp = comp.withColumn("split",
        when(hid < 80, "train").when(hid < 90, "val").otherwise("test"))
        .select(col("node"), col("split"))
      val trueLeaks = exactNd
        .join(sp.select(col("node").as("a"), col("split").as("s1")), "a")
        .join(sp.select(col("node").as("b"), col("split").as("s2")), "b")
        .filter(col("s1") =!= col("s2"))
      exactNd.agg(count(lit(1)).as("n_exact_pairs"))
        .crossJoin(lshNd.agg(count(lit(1)).as("n_lsh_pairs")))
        .crossJoin(trueLeaks.agg(count(lit(1)).as("n_true_leak_pairs")))
        .select(col("n_exact_pairs"), col("n_lsh_pairs"),
          round(col("n_lsh_pairs").cast(DoubleType)
            / col("n_exact_pairs"), 6).as("recall"),
          col("n_true_leak_pairs"))
    },
    // E4/corpus stats — vocabulary-growth (Heaps'-law) checkpoints: docs
    // in doc_id order are cut into NTILE(10) deciles; each checkpoint row
    // reports the CUMULATIVE token-instance count and the CUMULATIVE
    // distinct-type count up to that decile, plus the running type/token
    // ratio. The curve is the corpus-health diagnostic the dedup family
    // feeds: a heavily duplicated corpus discovers new types far slower
    // than Heaps' V ∝ n^β predicts (the curve flattens), and the absolute
    // level sizes tokenizer vocabularies (how much tail the BPE budget of
    // e84/e107 must cover). Everything is exact integers — a type's
    // decile is the decile of its FIRST-SEEN doc (min doc_id per token),
    // so cumulative vocab is one windowed sum over 10 rows — with the
    // ratio as the single rounded division. Scale: the decile map is
    // NTILE-exact but windowless ([[ntileDecilesByDocId]] — count-derived
    // boundary literals + map-side binning on dense ids, bucket-partitioned
    // rank on sparse; never an Exchange SinglePartition); the only
    // corpus-sized shuffles are the two token groupBys (map-side combined);
    // both running sums live on a 10-row frame.
    "e115_heaps_curve" -> { (s, d) =>
      val tk = load(s, d, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("t"))
        .filter(col("t") =!= "")
      val docDecile = ntileDecilesByDocId(s, d)
      val perDocTok = tk.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
      // docs counted from the full decile map (a token-free doc still
      // advances cum_docs on both engines)
      val tokByDec = docDecile.join(perDocTok, Seq("doc_id"), "left")
        .groupBy(col("decile")).agg(
          sum(coalesce(col("nt"), lit(0L))).as("toks"),
          count(lit(1)).as("docs"))
      val firstSeen = tk.groupBy(col("t")).agg(min(col("doc_id")).as("doc_id"))
      val vocabByDec = firstSeen.join(docDecile, "doc_id")
        .groupBy(col("decile")).agg(count(lit(1)).as("types"))
      // cumulative sums over the 10-row decile frame — pinned constant
      // partition (10 rows forever, deliberate; see PinnedKey)
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.PinnedKey.pin(lit(0)))
        .orderBy(col("decile")).rowsBetween(Long.MinValue, 0)
      tokByDec.join(vocabByDec, Seq("decile"), "left")
        .select(col("decile"),
          sum(col("docs")).over(wc).as("cum_docs"),
          sum(col("toks")).over(wc).as("cum_tokens"),
          sum(coalesce(col("types"), lit(0L))).over(wc).as("cum_vocab"))
        .withColumn("type_token_ratio", round(col("cum_vocab")
          .cast(DoubleType) / col("cum_tokens").cast(DoubleType), 6))
        .orderBy("decile")
    },
    // E4/training prep — curriculum deciles: rank-based quality binning
    // (NTILE(10) over the e33 classifier logit) with per-bin volume and
    // score bounds — the curriculum-ordering artifact ("train easy→hard")
    // and the calibration table for a quality-threshold sweep. Rank-based
    // on purpose: deciles stay exact and engine-invariant even though the
    // score is a float (the logit itself is bit-identical per e33's
    // audit; ties break by doc_id on both engines). The single-partition
    // window is pinned deliberately (graft_pin survives constant
    // folding) — this form is the exact-semantics ANCHOR; e105b is the
    // windowless production form that must (and does — same oracle SQL,
    // plus NtileDecilesSpec's differential) reproduce it bit-for-bit.
    "e105_quality_deciles" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.PinnedKey.pin(lit(0)))
        .orderBy(col("score").asc, col("doc_id").asc)
      e105Scored(s, d).withColumn("decile", ntile(10).over(w))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("score")).as("min_score"), max(col("score")).as("max_score"))
        .orderBy("decile")
    },
    // E4/training prep — e105's 100 TB form: the IDENTICAL curriculum
    // artifact with the global ntile window replaced by the windowless
    // exact rank ([[ntileDecilesByScoreOf]] — ≤1024-range score histogram
    // collected driver-side, offsets broadcast, row_number PARTITIONED by
    // range, NTILE rank arithmetic as nine broadcast literals). Never an
    // Exchange SinglePartition over corpus-sized input; still bit-exact
    // (same oracle SQL as e105 — the scalable path earns the same gate,
    // not a documented tolerance). The scored frame checkpoints once so
    // the histogram pass and the binning pass don't re-tokenize the
    // corpus — at 100 TB that is one narrow materialization vs two full
    // text scans.
    "e105b_quality_deciles_scalable" -> { (s, d) =>
      ntileDecilesByScoreOf(e105Scored(s, d).localCheckpoint())
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("score")).as("min_score"), max(col("score")).as("max_score"))
        .orderBy("decile")
    },
    // E2/E4 decontamination, SEMANTIC form: e29/e32 catch verbatim overlap
    // via 3-grams; paraphrased eval leakage needs the embedding space.
    // Train vectors with cosine ≥ 0.25 against ANY eval vector (vec_id%97,
    // the e29 eval convention) are contaminated. Exactness: the threshold
    // test runs in INTEGERS — q = round(100·x) per dim, keep iff dot > 0
    // and 10000·dot² ≥ 625·‖qa‖²·‖qb‖² (0.25² = 625/10000) — no float
    // crosses the engine boundary until the round-6 report cosine. Scale:
    // eval benches are small by nature → the eval side BROADCASTS and the
    // train scan never shuffles (the e29 economics transplanted to
    // vectors); a large eval set graduates to LSH-bucketing both sides.
    "e106_semantic_decontam" -> { (s, d) =>
      val q = transform(col("embedding"),
        x => round(x.cast(DoubleType) * 100).cast(LongType))
      val n2of = (c: Column) =>
        aggregate(transform(c, v => v * v), lit(0L), (acc, v) => acc + v)
      val base = load(s, d, "embeddings")
        .select(col("vec_id"), col("label"), q.as("q"))
        .withColumn("n2", n2of(col("q")))
      val ev = base.filter(col("vec_id") % 97 === 0)
        .select(col("q").as("qe"), col("n2").as("n2e"))
      val tr = base.filter(col("vec_id") % 97 =!= 0)
      // dim guard mirrors the oracle's: zip_with null-pads a truncated
      // vector into a silent partial dot — fail loudly instead
      val dot = when(size(col("q")) === size(col("qe")),
        aggregate(zip_with(col("q"), col("qe"), (a, b) => a * b),
          lit(0L), (acc, v) => acc + v))
        .otherwise(raise_error(lit("e106: train/eval embedding dims differ")))
      tr.crossJoin(broadcast(ev))
        .select(col("vec_id"), col("label"), dot.as("dot"),
          col("n2"), col("n2e"))
        .select(col("vec_id"), col("label"),
          (col("dot") > 0 &&
            col("dot") * col("dot") * 10000 >=
              lit(625L) * col("n2") * col("n2e")).as("hit"),
          when(col("n2") > 0 && col("n2e") > 0,
            col("dot").cast(DoubleType)
              / (sqrt(col("n2").cast(DoubleType))
                * sqrt(col("n2e").cast(DoubleType)))).as("cs"))
        .groupBy(col("vec_id"), col("label"))
        .agg(max(when(col("hit"), 1L).otherwise(0L)).as("c"),
          max(col("cs")).as("m"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_train"), sum(col("c")).as("n_contaminated"),
          round(max(col("m")), 6).as("max_cos"))
        .orderBy("label")
    },
    // E1 end-to-end near-dup removal — the full pass an LLM pipeline runs:
    // LSH candidate graph → components → keep ONE canonical doc per
    // cluster → corpus before/after audit per language. Everything upstream
    // is the e03/e21 machinery; the removal itself is one semi-join against
    // the canonical set.
    "e25_dedup_corpus" -> { (s, d) =>
      val canon = lshComponentsArtifact(s, d)
        .filter(col("node") === col("label"))
        .select(col("node").as("doc_id"))
      val docs = load(s, d, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang"), size(toks(col("text"))).as("n_tok"))
      val before = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs_before"), sum(col("n_tok")).as("n_tokens_before"))
      val after = docs.join(canon, "doc_id").groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs_after"), sum(col("n_tok")).as("n_tokens_after"))
      before.join(broadcast(after), Seq("lang"), "left") // #langs rows
        .select(col("lang"), col("n_docs_before"), col("n_docs_after"),
          col("n_tokens_before"), col("n_tokens_after"))
        .orderBy("lang")
    },
    // E4/training prep — lexicon scrub (the bad-words/PII deny-list pass a
    // pipeline runs before training): tokens in the deny list are removed,
    // per-doc scrub counts + a content hash of the scrubbed text prove the
    // rewrite. Map-side only — at 100 TB the lexicon (even millions of
    // terms) broadcasts once per executor and the scan never shuffles; here
    // the 3-term list inlines as a literal in the codegen'd lambda.
    "e24_lexicon_scrub" -> { (s, d) =>
      val deny = Seq("slow", "error", "batch")
      val tk = toks(col("text"))
      val kept = filter(tk, t => !t.isin(deny: _*))
      load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          (size(tk) - size(kept)).cast(LongType).as("n_scrubbed"),
          md5(array_join(kept, " ")).as("scrubbed_md5"))
        .orderBy("doc_id")
    },
    // E4/training prep — deterministic train/val/test split assignment: the
    // md5-integer hash of the doc id buckets each document 80/10/10. Pure
    // map-side derivation (no RNG state, reproducible on any engine / any
    // run / any partitioning), then a count rollup per lang × split.
    "e22_split_assign" -> { (s, d) =>
      val b = tokenHash(col("doc_id").cast(StringType)) % 100
      load(s, d, "documents")
        .select(col("lang"),
          when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"))
        .groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    },
    // E-series cardinality sketch — KMV (k smallest distinct hash values)
    // estimating per-type daily-active-user counts. Unlike HLL the sketch
    // state is plain longs, so the estimate is bit-reproducible by the
    // DuckDB oracle from the same md5 hash. This composed form materializes
    // every distinct hash through the shuffle; e26b is the scale path.
    "e26_kmv_cardinality" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
      val dist = Tables.events(s, d)
        .select(col("event_type"), kmvHash.as("h")).distinct()
      dist.select(col("event_type"), col("h"),
          row_number().over(w.partitionBy("event_type").orderBy("h")).as("rn"),
          count(lit(1)).over(w.partitionBy("event_type")).as("nd"))
        .filter(col("rn") <= graft.functions.KmvAgg.K)
        .groupBy("event_type")
        .agg(max("nd").as("n_exact"), count(lit(1)).as("n_sketch"),
          max("h").as("kth_hash"))
        .select(col("event_type"), col("n_exact"), col("n_sketch"),
          col("kth_hash"),
          kmvEstimate(col("n_sketch"), col("kth_hash")).as("est_distinct"))
        .orderBy("event_type")
    },
    // The 100 TB form of e26: a single bounded TypedImperativeAggregate
    // buffer (≤ 64 longs/group) maintained map-side and merged across
    // executors — the shuffle carries n_groups × 512 B instead of every
    // distinct hash. Same output, same oracle as e26.
    "e26b_kmv_native" -> { (s, d) =>
      graft.functions.KmvAgg.register(s)
      Tables.events(s, d).select(col("event_type"), kmvHash.as("h"))
        .groupBy("event_type")
        .agg(count_distinct(col("h")).as("n_exact"),
          graft.functions.KmvAgg.kmv(col("h")).as("sk"))
        .select(col("event_type"), col("n_exact"),
          size(col("sk")).cast(LongType).as("n_sketch"),
          element_at(col("sk"), size(col("sk"))).as("kth_hash"))
        .withColumn("est_distinct",
          kmvEstimate(col("n_sketch"), col("kth_hash")))
        .orderBy("event_type")
    },
    // E-series time-series similarity search (see [[tsSimilarity]]): the
    // probe user's 10 nearest event-value series in 8-segment PAA space.
    "e27_ts_similarity" -> { (s, d) => tsSimilarity(s, d) },
    // E-series stratified sampling — a balanced per-language subsample
    // (min(n, 25) docs per lang) selected by md5-hash order: no RNG state,
    // reproducible under any partitioning or run count, and every stratum
    // is capped so no language dominates the sample. The per-stratum
    // rank-filter plans as WindowGroupLimit (bounded heap per lang), so at
    // 100 TB the pass reads the corpus once and shuffles only by lang.
    "e28_stratified_sample" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("__h"), col("doc_id"))
      load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          tokenHash(col("doc_id").cast(StringType)).as("__h"))
        .withColumn("sample_rank", row_number().over(w).cast(LongType))
        .filter(col("sample_rank") <= 25)
        .select(col("lang"), col("sample_rank"), col("doc_id"))
        .orderBy("lang", "sample_rank")
    },
    // E1/E4 decontamination — benchmark-overlap detection, the release gate
    // of every training-data pipeline: a training document sharing any
    // 3-gram shingle with the held-out eval set is flagged with its overlap
    // count (eval membership = doc_id % 97, the fixture stand-in for a real
    // benchmark corpus). Shingles are md5-hashed to longs and the eval-side
    // distinct shingle set — small by definition of an eval set — is
    // BROADCAST: the training corpus never shuffles, so at 100 TB this is
    // one map-side join pass over the corpus (the same economics as e04b's
    // inverted index, but with the tiny side known in advance).
    "e29_decontamination" -> { (s, d) =>
      val grams = shingleRows(load(s, d, "documents"), 3, "g", "doc_id")
      val evalGrams = grams.filter(col("doc_id") % 97 === 0)
        .select(col("g")).distinct()
      val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalGrams), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .join(sizes, "doc_id")
        .select(col("doc_id"), col("n_hits"), col("n_grams"),
          (col("n_hits").cast(DoubleType) / col("n_grams")).as("contamination"))
        .orderBy("doc_id")
    },
    // E1/E4 decontamination EXECUTED — e29 flags, this removes: training
    // docs sharing any eval 3-gram are dropped (broadcast anti-join, same
    // map-side economics) and the per-language before/after audit is the
    // release artifact — the corpus-level twin of e25's dedup audit.
    "e32_decontam_scrub" -> { (s, d) =>
      val docs = load(s, d, "documents")
      val grams = shingleRows(docs, 3, "g", "doc_id")
      val evalGrams = grams.filter(col("doc_id") % 97 === 0)
        .select(col("g")).distinct()
      val contaminated = grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalGrams), Seq("g"))
        .select(col("doc_id")).distinct()
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val kept = train.join(contaminated, Seq("doc_id"), "left_anti")
      train.groupBy(col("lang")).agg(count(lit(1)).as("n_train"))
        .join(kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept")),
          Seq("lang"), "left")
        .select(col("lang"), col("n_train"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_train") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
        .orderBy("lang")
    },
    // E4/training prep — model-based quality filtering as a pipeline stage:
    // a fixed-weight linear scorer (the shipped-classifier pattern — weights
    // trained offline, applied as broadcast constants) over the e11 feature
    // set. Pure per-row scalar math in one codegen'd projection, identical
    // expression tree on both engines; the decision threshold on the raw
    // logit (monotone in the sigmoid, so the probability never needs
    // computing — and libm exp is exactly what ISN'T bit-portable).
    // r8 audit: every op here (two exact int→double divisions, literal
    // multiplies, left-assoc adds) is a single correctly-rounded IEEE
    // op on bit-identical inputs — no libm, no decimal boundary — so the
    // raw-double hash is engine-invariant by construction; adding a
    // round() would only INTRODUCE a tie-point exposure.
    "e33_quality_classifier" -> { (s, d) =>
      val tk = toks(col("text"))
      val n = size(tk)
      val ttr = size(array_distinct(tk)).cast(DoubleType) / n
      val stopRatio = size(filter(tk, t => t === "the" || t === "a"))
        .cast(DoubleType) / n
      load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          (lit(-1.5) + lit(2.0) * ttr
            + lit(0.01) * least(n.cast(DoubleType), lit(100.0))
            + lit(3.0) * stopRatio).as("logit"))
        .withColumn("keep", col("logit") > 0.5)
        .orderBy("doc_id")
    },
    // E4/training prep — token-budgeted corpus mixing: fill a fixed
    // per-language token budget (2000 here) in deterministic hash order —
    // the "data mixture" op that composes a training corpus to target
    // proportions. Greedy prefix fill: a doc is kept while the budget
    // isn't exhausted BEFORE it (so each language overshoots by at most
    // one doc). One window shuffle keyed by lang; at 100 TB the same op
    // first estimates each language's cutoff hash from a sample, then
    // filters map-side — the window form is the exact-semantics anchor.
    "e34_token_budget_mix" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("__h"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(toks(col("text"))).cast(LongType).as("n_tok"),
          tokenHash(col("doc_id").cast(StringType)).as("__h"))
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") - col("n_tok") < 2000)
        .select(col("lang"), col("doc_id"), col("n_tok"), col("cum_tok"))
        .orderBy("lang", "cum_tok", "doc_id")
    },
    // E4/training prep — vocabulary coverage / OOV rate: build the top-100
    // corpus vocabulary (by document frequency, ties by token) and score
    // each doc's out-of-vocabulary token ratio — the tokenizer-fit metric
    // run before training. The vocab is top-K so it is broadcastable at ANY
    // corpus size (TakeOrdered of 100 rows → broadcast hash join on the
    // token stream); the doc-side pass is one explode + map-side-combined
    // groupBy(doc_id). Integer counts + one final division = bit-exact.
    "e35_oov_rate" -> { (s, d) =>
      val tok = load(s, d, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      val vocab = tok.groupBy(col("t"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("t").asc).limit(100)
        .select(col("t").as("vt"))
      tok.join(broadcast(vocab), col("t") === col("vt"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("vt").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate", col("n_oov").cast(DoubleType) / col("n_tok"))
        .orderBy("doc_id")
    },
    // E4/training prep — deterministic weighted sampling: priority
    // h(doc_id)/weight with weight = n_chars, keep the k smallest — longer
    // docs are proportionally likelier to win, yet the draw is a pure
    // function of the key (reproducible under any partitioning, and
    // mergeable: per-partition top-k then global top-k, which is exactly
    // Spark's TakeOrderedAndProject — no shuffle of the corpus). The
    // exact-arithmetic stand-in for Efraimidis–Spirakis A-res (u^(1/w)
    // needs libm pow; h/w keeps one IEEE division, identical on both
    // engines).
    "e36_weighted_sample" -> { (s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (tokenHash(col("doc_id").cast(StringType)).cast(DoubleType) /
            col("n_chars")).as("priority"))
        .orderBy(col("priority").asc, col("doc_id").asc)
        .limit(25)
    },
    // E4/training prep — corpus-mixture report: token counts and global
    // share per (source × language) — what the data-mixture dashboard reads
    // before e34 composes to target proportions. One map-side-combined
    // aggregate; the global total is a 1-row broadcast, so share is computed
    // without a second corpus pass or a global window.
    "e38_domain_mix" -> { (s, d) =>
      val agg = load(s, d, "documents")
        .select(col("source"), col("lang"),
          size(toks(col("text"))).cast(LongType).as("n_tok"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
      val tot = agg.agg(sum(col("n_tok")).as("tot"))
      agg.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tok"),
          (col("n_tok").cast(DoubleType) / col("tot")).as("share"))
        .orderBy("source", "lang")
    },
    // E1/dedup — exact substring-duplication scan (the first stage of
    // suffix-array-style "dedup repeated spans" pipelines): every 8-token
    // rolling window of every document, grouped to find spans that recur
    // across documents. Pure string/integer ops → bit-exact. Scale shape:
    // one explode (≈ tokens per doc rows) + one map-side-combined groupBy
    // keyed by the span — at 100 TB you group on xxhash64(span) (8-byte
    // shuffle key, collision-checked on the survivors) instead of the raw
    // 8-token string; the rolling-window generation itself is per-row
    // Catalyst higher-order functions, no UDF, no state.
    "e39_dup_spans" -> { (s, d) =>
      // bind the token array to an attribute BEFORE the lambda — an inline
      // split(text) inside transform() re-splits the whole text per element
      // (quadratic per doc; no common-subexpression elimination across a
      // higher-order-function boundary)
      load(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ts"))
        .filter(size(col("ts")) >= 8)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ts")) - 7),
            i => array_join(slice(col("ts"), i, lit(8)), " "))).as("span"))
        .groupBy(col("span"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occur"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_occur").desc, col("span"))
        .limit(20)
    },
    // E4/retrieval — BM25 keyword search (k1=1.2, b=0.75) for a 3-term
    // query. Determinism across engines: all arithmetic is IEEE ops on
    // integer-derived values (bit-exact), ln() only ever evaluates on the
    // 3 per-term idf inputs, and the per-doc score sums its ≤3 term
    // contributions in a FIXED left-to-right order (pivoted columns, not a
    // row-order-dependent double SUM), then rounds to 6. Scale shape: the
    // posting lists for the query terms are the only rows kept after the
    // explode-filter (pushdown-friendly), df and corpus stats are tiny
    // broadcast scalars, and the per-doc combine is one map-side-combined
    // groupBy(doc_id) — no corpus-wide shuffle beyond the postings.
    "e40_bm25" -> { (s, d) =>
      bm25Scores(s, d)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    },
    // E4/quality — bigram language-model scoring (the CCNet-style
    // perplexity filter): train bigram MLE counts on the corpus itself,
    // score each doc by its mean log-probability, surface the worst tail.
    // Determinism: ln() evaluates only on |V|²-bounded DISTINCT count
    // ratios; each per-bigram logprob is cast to DECIMAL(28,9) so the
    // per-doc sum is EXACT and order-independent (a double SUM would vary
    // with row order across engines/partitionings). Scale shape: the LM
    // tables are vocabulary-bounded (broadcast here; hash-join on the
    // bigram key at open vocab), the doc pass is one explode + one
    // groupBy(doc_id) with map-side combine — no all-corpus shuffle.
    "e41_bigram_lm" -> { (s, d) =>
      // token array bound to an attribute before the lambda (see e39: an
      // inline split re-splits per element); the bigram stream is persisted
      // because two plan branches read it (LM build + the scoring join)
      val bg = load(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ts")) - 1),
            i => struct(element_at(col("ts"), i).as("w1"),
              concat(element_at(col("ts"), i), lit(" "),
                element_at(col("ts"), i + 1)).as("bg")))).as("x"))
        .select(col("doc_id"), col("x.w1").as("w1"), col("x.bg").as("bg"))
        .localCheckpoint() // two readers; GC-released
      val c2 = bg.groupBy(col("w1"), col("bg")).agg(count(lit(1)).as("c2"))
      // The LM is ONE finished |V|²-bounded broadcast table: c1 folds in
      // as a window sum over the c2 frame (vocab-sized — one exchange of
      // distinct bigrams, never the instance stream) and ln() evaluates
      // once per DISTINCT bigram, not once per bigram INSTANCE (identical
      // doubles per instance by construction). The previous two-broadcast
      // form joined the instance stream twice and took the log per row —
      // at 100 TB that is trillions of ln() calls for a |V|²-sized table.
      val wv = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
      val lm = c2
        .withColumn("c1", sum(col("c2")).over(wv))
        .select(col("bg"),
          // (28,12), not (28,9): the per-term decimal exists to make the
          // SUM order-free; its scale sits 6 digits below the round-6
          // output so a 1-ulp cross-engine ln drift that flips this
          // term's last decimal moves the doc average by ~1e-12 — far
          // inside the output margin (the post-r7 e97 discipline)
          log(col("c2").cast(DoubleType) / col("c1"))
            .cast(DecimalType(28, 12)).as("lp"))
      bg.join(broadcast(lm), "bg")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("slp").cast(DoubleType) / col("n_bigrams"), 6).as("avg_lp"))
        .orderBy(col("avg_lp").asc, col("doc_id"))
        .limit(25)
    },
    // E1/dedup — duplicated-span coverage (e39's second stage): for each
    // doc, the fraction of its token positions covered by any 8-token span
    // that also occurs in another document — the removal-decision metric of
    // substring-level dedup. Pure integer counting → bit-exact. Scale
    // shape: the span stream is persisted once and read by both the
    // dup-set build and the coverage pass; the dup-set join is a semi join
    // keyed by the span (hash at 100 TB); covered positions are counted as
    // an INTERVAL UNION (surviving spans sorted by start, new coverage =
    // min(8, p − running-max prev start) per row) — no ×8 position
    // explosion, no distinct over exploded rows, one window per doc.
    "e42_dup_coverage" -> { (s, d) =>
      val tok = load(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ts"))
        .filter(size(col("ts")) >= 8)
      val spans = tok
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ts")) - 7),
            i => struct(i.as("p"),
              array_join(slice(col("ts"), i, lit(8)), " ").as("span")))).as("x"))
        .select(col("doc_id"), col("x.p").cast(LongType).as("p"), col("x.span").as("span"))
        .localCheckpoint() // dup-span filter and coverage both read it; GC-released
      // "appears in ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id): two
      // plain partial aggregates instead of a distinct-count (which plans
      // as a second keyed aggregation over (span, doc_id)) — the nd value
      // itself is dropped right after the filter, so only the predicate
      // must match, and it does exactly
      val dup = spans.groupBy(col("span"))
        .agg(min(col("doc_id")).as("mnd"), max(col("doc_id")).as("mxd"))
        .filter(col("mnd") =!= col("mxd")).select(col("span"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("p"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val cov = spans.join(dup, Seq("span"), "left_semi")
        .select(col("doc_id"), col("p"))
        .withColumn("prev_p", max(col("p")).over(w))
        .withColumn("contrib", when(col("prev_p").isNull, lit(8L))
          .otherwise(least(lit(8L), col("p") - col("prev_p"))))
        .groupBy(col("doc_id")).agg(sum(col("contrib")).as("n_cov"))
      tok.select(col("doc_id"), size(col("ts")).cast(LongType).as("n_tok"))
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_cov"), lit(0L)).as("n_cov"))
        .withColumn("dup_frac",
          round(col("n_cov").cast(DoubleType) / col("n_tok"), 6))
        .orderBy(col("dup_frac").desc, col("doc_id"))
        .limit(25)
    },
    // E1+E4 — split-leakage audit: near-duplicate pairs (LSH candidates,
    // the e03b set) that straddle train/val/test splits (the e22
    // assignment) — the contamination a random doc-level split ALWAYS
    // produces when near-dups exist, and the audit a release gate runs
    // before shipping a split. Verified with exact unigram Jaccard ≥ 0.5
    // so the report counts real near-dups, not bucket collisions; the
    // split is a pure function of doc_id, so labeling the pairs is
    // map-side — no join against a corpus-sized split table. Cross-split
    // rows (leaks=true) are the leakage.
    "e45_split_leakage" -> { (s, d) =>
      def splitOf(c: Column) = {
        val b = tokenHash(c.cast(StringType)) % 100
        when(b < 80, "train").when(b < 90, "val").otherwise("test")
      }
      // sealed overlap: one intersect per candidate, post-join
      withSets(lshCandidates(s, d), tokenSets(sample10(s, d)), "d1", "d2", "tk")
        .withColumn("n_common", overlap(col("tk1"), col("tk2")))
        .filter(jaccard(col("n_common"), size(col("tk1")), size(col("tk2"))) >= 0.5)
        .select(least(splitOf(col("d1")), splitOf(col("d2"))).as("split_a"),
          greatest(splitOf(col("d1")), splitOf(col("d2"))).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_neardup_pairs"))
        .withColumn("leaks", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    },
    // E4/analysis — TF-IDF keyword extraction: top-3 terms per document by
    // tf·ln(N/df), the classic salient-term summary fed to tagging and
    // retrieval indexes. ln() evaluates only on |V|-bounded distinct df
    // values; scores round to 6 BEFORE ranking so the rank tie-break
    // (term asc) is on identical values in both engines. df and N are
    // broadcast (vocab-bounded / scalar); the only corpus-wide work is the
    // tf aggregate and the per-doc top-3 window (WindowGroupLimit keeps it
    // a bounded per-key heap, not a full per-doc sort).
    "e44_keywords" -> { (s, d) =>
      val tf = load(s, d, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val n = load(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("t").asc)
      tf.join(broadcast(dfc), "t").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("t").as("term"), col("score"))
        .orderBy("doc_id", "rank")
    },
    // E4/quality — character-distribution entropy: H = ln(n) − Σc·ln(c)/n
    // over per-doc character counts — the compressibility proxy that flags
    // mojibake (spiky high entropy) and repeated-char junk (low entropy),
    // a standard web-corpus quality signal beside e11/e41. Determinism:
    // ln() evaluates only on small integer counts (identical doubles on
    // both engines); each c·ln(c) term is cast to DECIMAL(28,9) so the
    // per-doc sum is exact and order-independent. Scale shape: the per-char
    // explode is pipelined (never materialized) and the groupBy(doc, ch)
    // partial-aggregates map-side, so shuffle volume is |docs|·|alphabet|
    // rows, not total characters — one corpus pass at any size.
    "e46_char_entropy" -> { (s, d) =>
      // Histogram via the graft_char_counts kernel: one byte-walk per doc
      // instead of |chars| rows through Generate+HashAggregate — counts
      // bit-identical to the explode+groupBy form (see CharCounts's
      // segmentation contract); everything downstream is unchanged.
      val ch = load(s, d, "documents")
        .filter(length(col("text")) >= 1) // empty doc: sequence(1,0) counts down
        .select(col("doc_id"),
          explode(graft.functions.CharCounts(col("text"))).as("e"))
      ch.select(col("doc_id"), col("e.c").as("c"))
        .select(col("doc_id"), col("c"),
          // (28,12): per-term scale 6 digits below the round-6 output so
          // ulp-level ln drift can't reach the entropy hash (see e41)
          (col("c").cast(DoubleType) * log(col("c").cast(DoubleType)))
            .cast(DecimalType(28, 12)).as("clc"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"), sum(col("clc")).as("sclc"))
        .select(col("doc_id"), col("n").cast(LongType).as("n_chars"),
          round(log(col("n").cast(DoubleType))
            - col("sclc").cast(DoubleType) / col("n"), 6).as("entropy"))
        .orderBy(col("entropy").asc, col("doc_id"))
        .limit(25)
    },
    // E1/linkage — blocked fuzzy matching: Levenshtein near-match pairs of
    // part names under a cheap blocking key (first word + first letter of
    // the second) — the record-linkage/entity-resolution primitive that
    // catches typo-level dups exact hashing misses. Two scale moves:
    // (1) the corpus collapses to DISTINCT (block, name) groups BEFORE any
    // quadratic work — row-level pair counts are exactly recoverable from
    // group sizes (same-name pairs = C(cnt,2) at lev 0, cross-name pairs =
    // cnt_a·cnt_b), so the O(pairs·len²) edit-distance stage runs on the
    // value domain (64 names here for 20k rows), never on rows; (2) pairs
    // are block-local with a |len1−len2| ≤ 3 band pre-prune before the DP —
    // at 100 TB the key graduates to q-gram/LSH blocking, same plan shape.
    "e47_fuzzy_pairs" -> { (s, d) =>
      val p = load(s, d, "part").select(col("p_name"),
        concat(split_part(col("p_name"), lit(" "), lit(1)), lit(" "),
          substring(split_part(col("p_name"), lit(" "), lit(2)), 1, 1)).as("blk"))
      val g = p.groupBy(col("blk"), col("p_name")).agg(count(lit(1)).as("cnt"))
      val exact = g.groupBy(col("blk"))
        .agg(sum(expr("cnt * (cnt - 1) div 2")).as("n_exact"))
      val a = g.select(col("blk"), col("p_name").as("n1"), col("cnt").as("c1"))
      val b = g.select(col("blk"), col("p_name").as("n2"), col("cnt").as("c2"))
      val cross = a.join(b, Seq("blk"))
        .filter(col("n1") < col("n2") &&
          abs(length(col("n1")) - length(col("n2"))) <= 3)
        .withColumn("lev", levenshtein(col("n1"), col("n2")))
        .filter(col("lev") <= 3)
        .groupBy(col("blk"))
        .agg(sum(col("c1") * col("c2")).as("n_cross"),
          min(col("lev")).as("min_cross"))
      exact.join(broadcast(cross), Seq("blk"), "left")
        .select(col("blk"),
          (coalesce(col("n_cross"), lit(0L)) + col("n_exact")).as("n_close_pairs"),
          col("n_exact"),
          when(col("n_exact") > 0, 0).otherwise(col("min_cross")).as("min_lev"))
        .filter(col("n_close_pairs") > 0)
        .orderBy("blk")
    },
    // E4/diagnostics — Zipf slope: least-squares fit of ln(freq) against
    // ln(rank) over the top-50 terms — natural corpora sit near slope −1,
    // so a far-off slope flags synthetic/spammy text (a corpus-level
    // quality diagnostic beside the per-doc signals). Exactness: ln() only
    // on small integer ranks/frequencies (identical doubles both engines);
    // every product is cast to DECIMAL(28,9) so the regression sums are
    // order-free (the c31 exact-moments recipe); the slope divides once at
    // the end. One vocab aggregate + a 50-row cut — the top-50 is a
    // sorted limit (TakeOrderedAndProject: per-partition heap + driver
    // merge), so no global window ever sees the full vocabulary;
    // row_number only ranks the 50 survivors.
    "e53_zipf_slope" -> { (s, d) =>
      val tf = load(s, d, "documents")
        .select(explode(toks(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("f"))
      // graft_pin(0): the window input is the 50-row sorted limit below, so
      // the single partition is deliberate; the pin survives constant
      // folding, which a bare lit(0) partition would not
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.PinnedKey.pin(lit(0)))
        .orderBy(col("f").desc, col("t").asc)
      val top = tf.orderBy(col("f").desc, col("t").asc).limit(50)
        .withColumn("rank", row_number().over(w))
        .select(log(col("rank").cast(DoubleType)).as("x"),
          log(col("f").cast(DoubleType)).as("y"))
      // scale 12: regression sums stay order-free-exact while any
      // ulp-level ln drift lands 6 digits below the round-6 slope (e41)
      val dec = (c: Column) => c.cast(DecimalType(28, 12))
      top.agg(count(lit(1)).as("n"),
          sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
          sum(dec(col("x") * col("x"))).as("sxx"),
          sum(dec(col("x") * col("y"))).as("sxy"))
        .select(col("n"),
          round((col("n") * col("sxy").cast(DoubleType)
              - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
            / (col("n") * col("sxx").cast(DoubleType)
              - col("sx").cast(DoubleType) * col("sx").cast(DoubleType)),
            6).as("zipf_slope"))
    },
    // E-pipeline — yield funnel: docs and tokens surviving each cleaning
    // stage (raw → quality gate → exact dedup), the capacity-planning
    // report every corpus build publishes ("how much data do the filters
    // cost?"). Stages compose left to right exactly as the pipeline runs
    // them (dedup AFTER the gate, so a removed dup can't hide behind a
    // quality rejection). Each stage is one filter/window over the
    // previous — three passes over one projected scan, aggregates are
    // 1-row; the md5 dedup key keeps the heavy stage a hash groupBy.
    "e52_yield_funnel" -> { (s, d) =>
      val base = load(s, d, "documents")
        .select(col("doc_id"), lower(trim(col("text"))).as("lt"),
          size(toks(col("text"))).as("n_tok"),
          (size(array_distinct(toks(col("text")))).cast(DoubleType)
            / size(toks(col("text")))).as("ttr"))
      val q = base.filter(col("n_tok") >= 20 && col("ttr") >= 0.3)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("doc_id"))
      val dd = q
        .withColumn("k", md5(array_join(slice(split(col("lt"), " "), 1, 10), " ")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      def st(name: String, df: DataFrame) =
        df.agg(lit(name).as("stage"), count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"))
      st("1_raw", base).unionByName(st("2_quality", q))
        .unionByName(st("3_exact_dedup", dd))
        .orderBy("stage")
    },
    // E4/quality — robust outlier cut: per-language median + MAD (median
    // absolute deviation) of document length, flagging docs beyond 2·MAD —
    // the outlier filter that, unlike mean/stddev, is immune to the very
    // outliers it hunts. Two exact-percentile aggregates (per-lang, tiny)
    // broadcast back onto the corpus — the doc side never shuffles; at
    // open-ended group counts the percentile becomes a sketch
    // (approx_percentile) with the same plan shape.
    "e51_robust_outliers" -> { (s, d) =>
      val docs = load(s, d, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
      val med = docs.groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val dev = docs.join(broadcast(med), "lang")
        .withColumn("adev", abs(col("n_chars") - col("med")))
      val mad = dev.groupBy(col("lang"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "lang")
        .groupBy(col("lang"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("adev") > col("mad") * 2, 1L).otherwise(0L)).as("n_outliers"),
          max(col("adev")).as("max_adev"))
        .orderBy("lang")
    },
    // E1+E4 — sparse TF-IDF cosine: the inverted-index (term-at-a-time)
    // similarity that complements dense-embedding cosine (e07) — candidate
    // pairs come from LSH banding (never all-pairs), then each pair's score
    // is Σ w_a·w_b / (‖a‖·‖b‖) with w = tf·ln(N/df). Determinism: ln() only
    // on vocab-bounded distinct ratios; every product is cast to
    // DECIMAL(28,9) before summation so dot products and norms are exact
    // and order-independent; scores round to 6 BEFORE ranking. Scale shape:
    // weights/norms are one tf aggregate + a broadcast-df join; the pair
    // scoring joins the weight table twice on (doc, term) — hash shuffles
    // keyed by doc, work ∝ candidate postings, not corpus².
    "e50_tfidf_cosine" -> { (s, d) =>
      val docs = load(s, d, "documents").filter(col("doc_id") % 10 === 0)
      val tf = docs.select(col("doc_id"), explode(toks(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      // n_docs fetched once on the driver (a 1-row control-plane count —
      // the idf needs a scalar, not a crossJoin of a 1-row frame)
      val ndv = docs.agg(count(lit(1))).head().getLong(0)
      // persisted: the weight table feeds the two pair-join branches and
      // the norm aggregate — three readers of one corpus pass
      val wts = tf.join(broadcast(dfc), "t")
        .select(col("doc_id"), col("t"),
          (col("tf") * log(lit(ndv).cast(DoubleType) / col("df"))).as("w"))
        .localCheckpoint() // norm aggregate + both pair sides; GC-released
      val norms = wts
        .select(col("doc_id"), (col("w") * col("w")).cast(DecimalType(28, 9)).as("w2"))
        .groupBy(col("doc_id")).agg(sum(col("w2")).as("n2"))
      // the pair-term stream is |cand| × (terms per doc) — the e57-class
      // fan-out the planner cannot see behind the KB-sized candidate scan
      // (sf0.1: 97k pairs → ~2.4M dot-product terms probed on ONE task).
      // Width from two 1-row counts over already-materialized frames,
      // ~500k fan-out rows per task, floored at session parallelism;
      // REPARTITION_BY_NUM so AQE cannot coalesce the CPU-dense stage.
      val candN = lshCandidates(s, d).count()
      val wtsN = wts.count()
      val kPair = math.max(s.sessionState.conf.numShufflePartitions,
        math.min(Int.MaxValue.toLong,
          candN * math.max(1L, wtsN / math.max(1L, ndv)) / 500000L).toInt)
      val pd = lshCandidates(s, d).repartition(kPair, col("d1"))
        .join(wts.select(col("doc_id").as("d1"), col("t"), col("w").as("w1")), Seq("d1"))
        .join(wts.select(col("doc_id").as("d2"), col("t"), col("w").as("w2")), Seq("d2", "t"))
        .select(col("d1"), col("d2"),
          (col("w1") * col("w2")).cast(DecimalType(28, 9)).as("ww"))
        .groupBy(col("d1"), col("d2")).agg(sum(col("ww")).as("dp"))
      pd.join(norms.select(col("doc_id").as("d1"), col("n2").as("nn1")), "d1")
        .join(norms.select(col("doc_id").as("d2"), col("n2").as("nn2")), "d2")
        .select(col("d1"), col("d2"),
          round(col("dp").cast(DoubleType)
            / (sqrt(col("nn1").cast(DoubleType)) * sqrt(col("nn2").cast(DoubleType))),
            6).as("cos_tfidf"))
        .orderBy(col("cos_tfidf").desc, col("d1"), col("d2"))
        .limit(25)
    },
    // E1 — survivorship (canonical selection by QUALITY): e21/e25 keep the
    // min-doc_id member of each near-dup cluster, but a real pipeline keeps
    // the BEST member — here the e11 quality score, ties broken by doc_id.
    // The cluster machinery is the shared lshComponents fixpoint; the
    // selection adds one quality map-pass and a per-cluster top-1 window
    // (WindowGroupLimit heap, no per-cluster sort). Both engines compute
    // the identical IEEE score, so the argmax is deterministic cross-engine.
    "e49_dedup_survivorship" -> { (s, d) =>
      val tk = toks(col("text"))
      val n = size(tk)
      val ttr = size(array_distinct(tk)).cast(DoubleType) / n
      val stopRatio =
        size(filter(tk, t => t === "the" || t === "a")).cast(DoubleType) / n
      val q = load(s, d, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          (ttr * 0.5 + least(n.cast(DoubleType) / 100.0, lit(1.0)) * 0.3
            + stopRatio * 0.2).as("q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("comp_id")).orderBy(col("q").desc, col("doc_id").asc)
      val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("comp_id"))
      lshComponentsArtifact(s, d)
        .select(col("node").as("doc_id"), col("label").as("comp_id"))
        .join(q, "doc_id")
        .withColumn("n_members", count(lit(1)).over(wc))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("n_members") >= 2)
        .select(col("comp_id"), col("doc_id").as("survivor_doc"),
          col("n_members"), round(col("q"), 6).as("survivor_q"))
        .orderBy("comp_id")
    },
    // E-pipeline data-quality audit — the Deequ-style constraint suite a
    // warehouse runs before publishing a table: completeness (non-null
    // ratio), key uniqueness, value-domain membership, numeric range, and
    // cross-table referential integrity, emitted as one audit table of
    // (column, check, metric, pass). Shape for 100 TB: each source table
    // contributes ONE scan — all its per-column metrics ride a single
    // conditional aggregate (map-side partials, 1-row result) and fan out
    // to audit rows via a constant-size explode; the RI check is the only
    // join, a broadcast anti-join keyed on the fact's foreign key. Ratios
    // are exact integer divisions evaluated identically by both engines.
    "e54_dq_audit" -> { (s, d) =>
      val o = load(s, d, "orders")
      val li = load(s, d, "lineitem")
      val c = load(s, d, "customer")
      def row(colName: String, chk: String, metric: Column, pass: Column) =
        struct(lit(colName).as("col_name"), lit(chk).as("dq_check"),
          metric.as("metric"), pass.as("pass"))
      val om = o.agg(count(lit(1)).as("n"), count(col("o_custkey")).as("nn"),
          countDistinct(col("o_orderkey")).as("nd"),
          expr("count_if(o_orderstatus IN ('O','F','P'))").as("ndom"))
        .select(explode(array(
          row("orders.o_custkey", "completeness",
            col("nn").cast(DoubleType) / col("n"), col("nn") === col("n")),
          row("orders.o_orderkey", "uniqueness",
            col("nd").cast(DoubleType) / col("n"), col("nd") === col("n")),
          row("orders.o_orderstatus", "domain_OFP",
            col("ndom").cast(DoubleType) / col("n"), col("ndom") === col("n"))
        )).as("r"))
      val lm = li.agg(count(lit(1)).as("n"),
          expr("count_if(l_quantity BETWEEN 1 AND 50)").as("nrange"))
        .select(explode(array(
          row("lineitem.l_quantity", "range_1_50",
            col("nrange").cast(DoubleType) / col("n"), col("nrange") === col("n"))
        )).as("r"))
      val cm = c.agg(count(lit(1)).as("n"), count(col("c_name")).as("nn"))
        .select(explode(array(
          row("customer.c_name", "completeness",
            col("nn").cast(DoubleType) / col("n"), col("nn") === col("n"))
        )).as("r"))
      val orph = li.select(col("l_orderkey"))
        .join(broadcast(o.select(col("o_orderkey").as("l_orderkey"))),
          Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_orph"))
        .select(explode(array(
          row("lineitem.l_orderkey", "ref_integrity",
            col("n_orph").cast(DoubleType), col("n_orph") === 0)
        )).as("r"))
      om.unionByName(lm).unionByName(cm).unionByName(orph)
        .select(col("r.col_name"), col("r.dq_check"), col("r.metric"),
          col("r.pass"))
        .orderBy("col_name", "dq_check")
    },
    // E1 set-similarity join with PPJoin prefix filtering — the sharpest
    // member of the Jaccard family: e04 scores all same-language pairs,
    // e04b inverts the full posting list (with a df cut), and this orders
    // every document's shingles by GLOBAL RARITY (df asc, hash asc) and
    // indexes only the first |x| − ⌈t·|x|⌉ + 1 of them. The prefix lemma
    // guarantees two sets with J ≥ t share an element inside BOTH
    // prefixes, so the exact verify sees every qualifying pair — and at
    // t=0.5 half of every posting list disappears, with the survivors
    // being the RAREST shingles: exactly inverse to the hot-shingle df²
    // blowup a raw inverted index suffers. This is how a 100 TB
    // set-similarity join keeps candidate generation subquadratic without
    // the probabilistic miss rate of LSH. Verify step = e04's exact
    // integer arithmetic on the candidates; oracle = the dense join at
    // the same threshold, so the prefix filter's losslessness is itself
    // what the gate checks.
    "e55_jaccard_prefix" -> { (s, d) =>
      // doc_id%2 sample (wider than e04's %5): at t=0.5 the %5 sample has
      // no qualifying pair below sf0.1, which would make this gate vacuous.
      //
      // Verify-exchange economics (measured, ScaleProbe 10×/30×/100×):
      // candidate pairs are exactly linear in the corpus (5.1M→15.4M→51.4M,
      // max posting 71), but the verify join must move one bigram ARRAY per
      // surviving candidate through the second id-keyed exchange, so shuffle
      // bytes = |cand| × |array| — linear with a heavy constant that emerges
      // as a broadcast→SMJ step once the array side outgrows the broadcast
      // threshold (the e03b step, one strategy boundary, not an exponent).
      // Three constant-cutters below: (1) hashes stored as INT not LONG —
      // the 32-bit md5 prefix fits once shifted by −2³¹ (an exact bijection
      // of [0,2³²) onto the Int range; ANSI-safe, identical intersection
      // counts) — halves every array byte; (2) the lossless J≥0.5 length
      // filter runs on a narrow (doc_id, n) table BEFORE arrays attach
      // (drops ~30% of candidates while rows are still 16 bytes); (3) sizes
      // ride the filtered pairs so the verify never recomputes them.
      val base = shingleSets(load(s, d, "documents").filter(col("doc_id") % 2 === 0),
          2, "bg", "doc_id", "lang")
        .withColumn("bg",
          transform(col("bg"), h => (h - lit(2147483648L)).cast(IntegerType)))
        .localCheckpoint() // feeds the posting explode AND both verify sides; GC-released
      val post = base.select(col("doc_id"), col("lang"), explode(col("bg")).as("h"))
      val dfc = post.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val pre = post.join(dfc, "h")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("srt"))
        .select(col("doc_id"), col("lang"),
          explode(expr("slice(transform(srt, x -> x.h), 1," +
            " size(srt) - cast(ceil(0.5 * size(srt)) as int) + 1)")).as("h"))
      // Explicit width on the pair-generation stage too (same AQE
      // serialization as the verify below): one exchange, REUSED by both
      // self-join sides, so the bucket-local pair expansion and the
      // distinct's partial agg run wide. Sized with kVerify (defined
      // below, shared).
      // NOTE: this 1-row agg is an eager Spark job at DataFrame-BUILD time
      // (the localCheckpoint above already set that precedent): plan-only
      // consumers of this closure pay it too. The Long stays a Long until
      // after the clamp — at extreme scale totBg/400k would overflow a
      // bare .toInt before math.max could save it.
      val totBg = base.agg(coalesce(sum(size(col("bg"))), lit(0L))
        .cast(LongType)).head().getLong(0)
      val kVerify = math.max(s.sessionState.conf.numShufflePartitions.toLong,
        math.min(totBg / 400000L, Int.MaxValue.toLong)).toInt
      val preR = pre.repartition(kVerify, col("lang"), col("h"))
      val cand = preR.as("x").join(preR.as("y"),
          col("x.lang") === col("y.lang") && col("x.h") === col("y.h") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()
      // lossless length filter, array-free: J ≥ 0.5 forces 2·min(|x|,|y|)
      // ≥ max — applied on 16-byte pair rows + a narrow sizes table, so
      // mismatched-size candidates never cost an array exchange
      val sizes = base.select(col("doc_id"), size(col("bg")).as("n"))
      val candF = cand
        .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
        .filter(col("n1") * 2 >= col("n2") && col("n2") * 2 >= col("n1"))
      val s1 = base.select(col("doc_id").as("d1"), col("lang"), col("bg").as("bg1"))
      val s2 = base.select(col("doc_id").as("d2"), col("bg").as("bg2"))
      // Explicit verify-stage width (the exactShinglePairs recipe): the
      // intersect runs in the stage fed by the d2 exchange, whose BYTES are
      // tiny while its per-row cost is the whole query — AQE's byte-based
      // coalescing folds it to one partition and serializes the verify
      // (measured 2× on the bench host). kVerify (above) is sized from
      // Σ|bg| via one 1-row agg over the checkpointed base, floored at the
      // session's shuffle parallelism — scale-adaptive in both directions,
      // never a constant.
      candF.join(s1, "d1").repartition(kVerify, col("d2")).join(s2, "d2")
        // sealed overlap: the ≥0.5 filter otherwise folds into the
        // array-attach join's condition (intersect twice per candidate)
        .withColumn("n_common", overlap(col("bg1"), col("bg2")))
        .withColumn("jaccard", jaccard(col("n_common"), col("n1"), col("n2")))
        .filter(col("jaccard") >= 0.5)
        .select("lang", "d1", "d2", "jaccard")
        .orderBy("lang", "d1", "d2")
    },
    // E-graph — PageRank over the LSH near-dup candidate graph: the
    // "importance in a similarity neighborhood" analytic (a high-rank doc
    // is a boilerplate source many near-dups orbit). Fixed 5 damped
    // (0.85) iterations over the undirected e03 candidate edges; nodes =
    // edge endpoints. Determinism: the whole iteration runs in FIXED-POINT
    // integer arithmetic (rank scaled by 10^12; contribution = pr div
    // outdeg, damping = 85·sum div 100) — floor division and long sums
    // are bit-identical on any engine, where the decimal/double variant
    // of this query drifted one ulp between Spark and DuckDB at sf0.1.
    // Scale: und/deg are |edges|-sized; each iteration is one keyed join
    // + one agg (the label-propagation dataflow class), and the operator
    // localCheckpoints per iteration so the plan stays constant-depth —
    // the same discipline as operators/ConnectedComponents, shared via
    // operators/PageRank.
    "e56_pagerank" -> { (s, d) =>
      val cand = lshCandidates(s, d)
      val und = cand.select(col("d1").as("a"), col("d2").as("b"))
        .unionByName(cand.select(col("d2").as("a"), col("d1").as("b")))
      graft.operators.PageRank.run(und, iterations = 5)
        .select(col("node").as("doc_id"), col("pr").as("pagerank_e12"))
        .orderBy("doc_id")
    },
    // E-graph — triangle count + local clustering coefficient over the
    // LSH candidate graph: how CLIQUE-like each near-dup neighborhood is
    // (boilerplate families triangulate densely; chains of pairwise
    // near-dups don't). Triangles enumerate once via the oriented
    // edge list (a<b<c: E⋈E⋈E on the standard two-path + closing edge),
    // so each triangle is counted exactly once with no orientation
    // dedup pass. Coefficient = 2·tri / deg·(deg−1): exact integers into
    // one IEEE division — bit-identical cross-engine. Scale: the E⋈E
    // two-path join is the only superlinear stage; on an LSH graph its
    // size is Σ deg² of the candidate graph, which the e03 band-bucket
    // economics already bound — the same reason e03b is feasible.
    "e57_triangle_count" -> { (s, d) =>
      val e = lshCandidates(s, d)
        .select(col("d1").as("a"), col("d2").as("b"))
        .localCheckpoint() // three-way self-join; GC-released
      // The two-path join's OUTPUT is Σ in(v)·out(v) — on a dense
      // candidate graph orders of magnitude larger than the edge list the
      // planner sizes the stage by (sf0.1: 97k edges → 13.5M two-paths →
      // 12.3M triangles, all probed on ONE task because the KB-sized
      // input broadcast-joins at width 1). Width the fan-out explicitly:
      // Σ in·out from one 1-row agg over the checkpointed edges (e55's
      // sizing discipline), ~500k probe rows per task, floored at the
      // session's shuffle parallelism; REPARTITION_BY_NUM so AQE's
      // byte-based coalescing cannot re-serialize the CPU-dense stage.
      val twoPathEst = e.select(col("b").as("v"), lit(1L).as("i"), lit(0L).as("o"))
        .unionByName(e.select(col("a").as("v"), lit(0L).as("i"), lit(1L).as("o")))
        .groupBy(col("v")).agg(sum(col("i")).as("ind"), sum(col("o")).as("outd"))
        .agg(coalesce(sum(col("ind") * col("outd")), lit(0L)).cast(LongType))
        .head().getLong(0)
      val kFan = math.max(s.sessionState.conf.numShufflePartitions,
        math.min(Int.MaxValue.toLong, twoPathEst / 500000L).toInt)
      val tri = e.repartition(kFan, col("b")).as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val perNode = tri
        .select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      val deg = e.select(col("a").as("doc_id"))
        .unionByName(e.select(col("b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      deg.join(perNode, Seq("doc_id"), "left")
        .select(col("doc_id"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          when(col("degree") >= 2,
            (coalesce(col("n_tri"), lit(0L)) * 2).cast(DoubleType)
              / (col("degree") * (col("degree") - 1)))
            .otherwise(lit(0.0)).as("clustering"))
        .orderBy("doc_id")
    },
    // E1-eval — MEASURED precision/recall of the MinHash-LSH candidate
    // generator against exact ground truth (dense unigram Jaccard ≥ 0.1
    // on the same %10 sample the bands index): the honesty check every
    // probabilistic dedup ships with — r=2 rows × b=4 bands has a known
    // theoretical S-curve, this query reports what it actually did on
    // this corpus. The quadratic truth join is the point: recall is
    // evaluated on a bounded SAMPLE (here %10; at 100 TB a fixed-size
    // audit slice), never the full corpus — the LSH path itself stays
    // subquadratic. All counts exact integers; precision/recall are
    // single IEEE divisions.
    "e58_lsh_recall" -> { (s, d) =>
      val truth = sampledTruthPairs(s, d)
      val cand = lshCandidates(s, d)
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nC = cand.agg(count(lit(1)).as("n_cand"))
      val nTp = truth.join(cand, Seq("d1", "d2")).agg(count(lit(1)).as("tp"))
      nT.crossJoin(nC).crossJoin(nTp)
        .select(col("n_truth"), col("n_cand"), col("tp"),
          (col("n_cand") - col("tp")).as("fp"),
          (col("n_truth") - col("tp")).as("fn"),
          (col("tp").cast(DoubleType) / col("n_cand")).as("precision"),
          (col("tp").cast(DoubleType) / col("n_truth")).as("recall"))
    },
    // E1-report — near-dup cluster size distribution: how much of the
    // corpus sits in 2-doc pairs vs giant boilerplate families. The
    // capacity question a dedup rollout answers first ("removing dups
    // saves how much?") — two cheap aggregates over the e21 component
    // labels: label → cluster size, then size → (n_clusters, docs
    // removable = (size−1)·n). Scale cost is the components fixpoint,
    // already amortized; this report adds two |clusters|-sized shuffles.
    "e59_cluster_sizes" -> { (s, d) =>
      lshComponentsArtifact(s, d)
        .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          ((col("cluster_size") - 1) * col("n_clusters")).as("docs_removable"))
        .orderBy("cluster_size")
    },
    // E-sketch — Bloom-filter join prefilter with a measured FP audit:
    // the deny-list membership structure beside the KMV cardinality and
    // MinHash similarity sketches. m=1024 bits as 32×32-bit words (shifts
    // stay ≤31 — a 1<<63 is signed-overflow UB in some engines), k=2
    // md5-derived positions per key — set-bit words build with bit_or
    // (one |keys|-sized agg), membership is (bloom & mask) == mask on
    // both positions; the deny set is the %7 slice of error users so the
    // filter has something real to discriminate. Everything is integer bit math from the shared md5 hash,
    // so the filter — including its FALSE POSITIVES — is bit-identical
    // on any engine: the oracle checks the sketch itself, not just the
    // final set. At 100 TB the 32-word table broadcasts for free and the
    // probe never shuffles (the same economics Spark's own runtime bloom
    // uses, here made explicit and auditable).
    "e60_bloom_prefilter" -> { (s, d) =>
      val M = 1024L
      val pos = (c: Column, salt: String) =>
        pmod(tokenHash(concat(lit(salt), c.cast(StringType))), lit(M))
      val ev = Tables.events(s, d)
      val bad = ev.filter(col("event_type") === "error" &&
          col("user_id") % 7 === 0)
        .select(col("user_id")).distinct()
      val bits = bad
        .select(explode(array(pos(col("user_id"), "a"),
          pos(col("user_id"), "b"))).as("p"))
        .select(expr("p div 32").as("w"),
          expr("shiftleft(1L, cast(p % 32 as int))").as("m"))
        .groupBy(col("w")).agg(expr("bit_or(m)").as("bloom"))
      val cand = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      val hit = cand
        .select(col("user_id"), explode(array(pos(col("user_id"), "a"),
          pos(col("user_id"), "b"))).as("p"))
        .select(col("user_id"), expr("p div 32").as("w"),
          expr("shiftleft(1L, cast(p % 32 as int))").as("m"))
        .join(broadcast(bits), Seq("w"), "left")
        .withColumn("ok", col("bloom").isNotNull &&
          expr("bloom & m") === col("m"))
        .groupBy(col("user_id"))
        .agg(min(col("ok").cast("int")).as("allok"))
        .filter(col("allok") === 1).select("user_id")
      val nC = cand.agg(count(lit(1)).as("n_candidates"))
      val nP = hit.agg(count(lit(1)).as("n_pass"))
      val nT = hit.join(bad, "user_id").agg(count(lit(1)).as("n_true"))
      nC.crossJoin(nP).crossJoin(nT)
        .select(col("n_candidates"), col("n_pass"), col("n_true"),
          (col("n_pass") - col("n_true")).as("n_fp"),
          ((col("n_pass") - col("n_true")).cast(DoubleType)
            / col("n_candidates")).as("fp_rate"))
    },
    // E4/data-mixture — temperature-reweighted language shares (α = 0.5):
    // the standard multilingual rebalancing (raw token share p_i flattened
    // to p_i^α / Σ p_j^α) that upsamples tail languages. Exactness: sqrt
    // is one IEEE op on an exact integer count; each sqrt is cast to
    // DECIMAL(28,9) (deterministic round) so the NORMALIZING SUM is exact
    // decimal addition — order-free — and the final share divides once.
    // One aggregate over the corpus; the share table is #langs rows.
    "e62_temperature_mix" -> { (s, d) =>
      val perLang = load(s, d, "documents")
        .select(col("lang"), size(toks(col("text"))).as("n"))
        .groupBy(col("lang")).agg(sum(col("n")).as("n_tokens"))
        .withColumn("w", sqrt(col("n_tokens").cast(DoubleType))
          .cast(DecimalType(28, 9)))
      val z = perLang.agg(sum(col("w")).as("z"))
      perLang.crossJoin(broadcast(z))
        .select(col("lang"), col("n_tokens"),
          (col("w").cast(DoubleType) / col("z").cast(DoubleType))
            .as("temp_share"))
        .orderBy("lang")
    },
    // E1-eval — LSH banding calibration sweep: the e58 audit run for BOTH
    // practical 8-signature bandings (r=2×b=4: high recall, and r=4×b=2:
    // high precision) against the same exact ground truth, side by side —
    // the table an engineer reads before picking banding for a corpus.
    // The r=4 bucket combines 4 signatures via the md5 hash of their
    // joined string (a 4-way product would overflow BIGINT); everything
    // else is the shared sig machinery. Output: one row per config with
    // exact counts and single-division precision/recall.
    "e63_lsh_sweep" -> { (s, d) =>
      val truth = sampledTruthPairs(s, d) // artifact: both audits scan parquet
      // r=2×b=4 IS the production banding — reuse its candidate source;
      // only the r=4×b=2 bucketing is new (4 sigs md5-combined: a 4-way
      // integer product would overflow BIGINT)
      val r2b4 = lshCandidates(s, d)
      val r4b2 = sharedBands(bandsFromSigs(minhashSigsArtifact(s, d), 4, 2),
        "d1", "d2").select("d1", "d2")
      def audit(cfg: String, cand: DataFrame): DataFrame = {
        val nT = truth.agg(count(lit(1)).as("n_truth"))
        val nC = cand.agg(count(lit(1)).as("n_cand"))
        val nTp = truth.join(cand, Seq("d1", "d2")).agg(count(lit(1)).as("tp"))
        nT.crossJoin(nC).crossJoin(nTp)
          .select(lit(cfg).as("config"), col("n_truth"), col("n_cand"),
            col("tp"),
            (col("tp").cast(DoubleType) / col("n_cand")).as("precision"),
            (col("tp").cast(DoubleType) / col("n_truth")).as("recall"))
      }
      audit("r2xb4", r2b4).unionByName(audit("r4xb2", r4b2))
        .orderBy("config")
    },
    // E-pipeline — per-source scorecard: the data-vendor quality report a
    // corpus org publishes per ingest source — volume (docs, tokens),
    // exact-dedup rate (1 − distinct fingerprints / docs, the e01
    // fingerprint), mean lexical diversity (per-doc type-token ratio,
    // DECIMAL(28,9) per-row so the mean's numerator is an exact order-free
    // sum — the e41 recipe), and language spread. One partial+final
    // aggregate over a single corpus scan; output is |sources| rows.
    "e64_source_scorecard" -> { (s, d) =>
      val tk = toks(col("text"))
      val docs = load(s, d, "documents")
        .select(col("source"), col("lang"),
          md5(array_join(slice(toks(lower(trim(col("text")))), 1, 10), " "))
            .as("fp"),
          size(tk).as("n_tok"),
          (size(array_distinct(tk)).cast(DoubleType) / size(tk))
            .cast(DecimalType(28, 9)).as("ttr"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("ttr")).as("sum_ttr"),
          countDistinct(col("lang")).as("n_langs"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (lit(1.0) - col("n_unique").cast(DoubleType) / col("n_docs"))
            .as("dup_rate"),
          (col("sum_ttr").cast(DoubleType) / col("n_docs")).as("mean_ttr"),
          col("n_langs"))
        .orderBy("source")
    }
  )

  /** E-series time-series similarity — PAA (piecewise aggregate
    * approximation) search: each user's event-value series collapses to an
    * 8-segment mean vector over the global time span, and the probe user's
    * nearest neighbors are the smallest squared Euclidean distances between
    * vectors. The sketch is the scale move: a billion-event series becomes
    * 8 doubles per user (one groupBy, map-side combinable), and all
    * pairwise work happens in sketch space — the classic first stage of
    * distributed time-series search, with the full-resolution series only
    * re-read to re-rank survivors.
    *
    * Determinism: segment ids are integer math on epoch nanos; segment
    * means are exact DECIMAL sums divided once as DOUBLE; the distance is a
    * fixed left-to-right fold rounded to 6 decimals (FMA guard). */
  def tsSimilarity(s: SparkSession, d: String, probeUser: Long = 1L,
                   k: Int = 10): DataFrame = {
    val ev = Tables.events(s, d)
    val r = ev.agg(min(col("ts_ns")), max(col("ts_ns"))).head()
    val tmin = r.getLong(0); val span = r.getLong(1) - tmin + 1
    // integer division (Column./ would be float): seg ∈ [0, 8)
    val seg = expr(s"((ts_ns - ${tmin}L) * 8) div ${span}L")
    val segmented = ev.select(col("user_id"), seg.as("seg"),
      col("value").cast(DecimalType(18, 2)).as("v"))
    val sums = (0 until 8).flatMap(i => Seq(
      sum(when(col("seg") === i, col("v"))).as(s"s$i"),
      count(when(col("seg") === i, lit(1))).as(s"c$i")))
    val paa = segmented.groupBy(col("user_id")).agg(sums.head, sums.tail: _*)
      .select(col("user_id") +: (0 until 8).map(i =>
        when(col(s"c$i") > 0, col(s"s$i").cast(DoubleType) / col(s"c$i"))
          .otherwise(lit(0.0)).as(s"paa$i")): _*)
    val probe = paa.filter(col("user_id") === probeUser)
      .select((0 until 8).map(i => col(s"paa$i").as(s"p$i")): _*)
    val dist2 = (0 until 8).map { i =>
      val diff = col(s"paa$i") - col(s"p$i"); diff * diff
    }.reduceLeft(_ + _) // fixed left fold, both engines
    paa.crossJoin(broadcast(probe)) // 1-row probe
      .select(col("user_id"), round(dist2, 6).as("dist2"))
      .orderBy(col("dist2"), col("user_id"))
      .limit(k)
  }

  /** 60-bit uniform hash of the user-day key (`user_id|epoch-day`): md5
    * prefix as integer, exact in both engines; day bucket is integer
    * nanosecond division (no timezone in the key). */
  private def kmvHash: Column =
    conv(substring(md5(concat(col("user_id").cast(StringType), lit("|"),
      expr("ts_ns div 86400000000000").cast(StringType))), 1, 15), 16, 10)
      .cast(LongType)

  /** KMV estimator: (k−1)·M/h_(k) once the sketch is full (M = 2^60 hash
    * range), exact count while it isn't. Rounded so both engines agree past
    * any FMA contraction. */
  private def kmvEstimate(nSketch: Column, kth: Column): Column = {
    val num = (graft.functions.KmvAgg.K - 1) * 1152921504606846976.0 // 2^60
    when(nSketch < graft.functions.KmvAgg.K, nSketch.cast(DoubleType))
      .otherwise(round(lit(num) / kth.cast(DoubleType), 3))
  }

  // DuckDB twins of the SetSimilarity sign and band steps, spelled
  // independently of the Spark code (only the constants are shared).

  /** `sig` CTE: the k=8 MinHash signature per doc_id over hash column `h`
    * of CTE `src` ([[SetSimilarity.signatures]]). */
  private def sigCte(src: String, h: String): String = {
    val sigExprs = A.zip(B).zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($h * $a + $b) % $P) AS sig$i"
    }.mkString(", ")
    s"sig AS (SELECT doc_id, $sigExprs FROM $src GROUP BY doc_id)"
  }

  /** CTE `name`: `sig` banded 2×4 with the exact product bucket
    * ([[SetSimilarity.bandsFromSigs]] at r=2). */
  private def bandsCte(name: String): String =
    s"""$name AS (
       |  SELECT doc_id, 0 AS band, sig0 * $P + sig1 AS bucket FROM sig
       |  UNION ALL SELECT doc_id, 1, sig2 * $P + sig3 FROM sig
       |  UNION ALL SELECT doc_id, 2, sig4 * $P + sig5 FROM sig
       |  UNION ALL SELECT doc_id, 3, sig6 * $P + sig7 FROM sig)""".stripMargin

  /** tk → hh → sig over the distinct unigrams of the documents `where`
    * selects ([[SetSimilarity.minhashSigs]]). */
  private def unigramSigCte(where: String): String =
    s"""tk AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
       |       FROM documents$where),
       |hh AS (SELECT doc_id, ${String.format(tokenHashSql, "t")} AS h FROM tk),
       |${sigCte("hh", "h")}""".stripMargin

  private val minhashCte: String = unigramSigCte("")
  private val sampledSigCte: String = unigramSigCte(" WHERE doc_id % 10 = 0")

  /** tk → hh → sig → bands over the doc_id%10 sample: the candidate
    * prefix of the e03b-family and label-graph twins. */
  private val sampledBandsCte: String = s"$sampledSigCte,\n${bandsCte("bands")}"

  private val denseJaccardSql: String =
    """WITH base AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 1),
      |      i -> CAST(concat('0x', substring(md5(string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]), 1, 8)) AS BIGINT))) AS bg
      |  FROM documents
      |  WHERE doc_id % 5 = 0 AND len(string_split(text,' ')) >= 2),
      |pairs AS (
      |  SELECT a.lang AS lang, a.doc_id AS d1, b.doc_id AS d2,
      |    len(list_intersect(a.bg, b.bg)) AS n_common,
      |    len(a.bg) AS n1, len(b.bg) AS n2
      |  FROM base a JOIN base b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      |SELECT lang, d1, d2,
      |  n_common::DOUBLE / (n1 + n2 - n_common) AS jaccard
      |FROM pairs
      |WHERE n_common::DOUBLE / (n1 + n2 - n_common) >= 0.1
      |ORDER BY lang, d1, d2""".stripMargin

  /** e65's PNG fixture dir for SF dir `d` — keyed by SF so concurrent
    * Verify runs at different SFs on one host never race on shared files. */
  private def pngFixtureFor(d: String): String = {
    val tag = d.replaceAll("[^A-Za-z0-9.]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_png_fixture_$tag"
  }

  /** Shared PNG fixture writer for the e14 family: REAL encoded PNGs, dims
    * a deterministic function of each doc's n_chars, one SF-keyed dir per
    * query tag (each query owns its files — no cross-query ordering), path
    * recorded for the late-bound oracle. Dims stay small: the e14 oracle
    * recomputes every pixel byte in SQL. */
  private val pngFixturePaths =
    new scala.collection.concurrent.TrieMap[String, String]
  private def writePngFixtures(s: SparkSession, d: String, tag: String): String = {
    val t = d.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_png_${tag}_$t"
    val dir = new java.io.File(path); dir.mkdirs()
    Option(dir.listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".png")).foreach(_.delete())
    load(s, d, "documents").filter(col("doc_id").isin(0L, 5L, 10L, 15L, 20L))
      .select(col("doc_id"), col("n_chars")).collect()
      .foreach { r =>
        val w = (r.getLong(1) % 120 + 16).toInt
        val h = (r.getLong(1) * 3 % 90 + 16).toInt
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"png_${r.getLong(0)}.png"),
          Multimodal.encodePng(w, h, seed = r.getLong(0)))
      }
    pngFixturePaths(tag) = path
    path
  }
  private def pngPathFor(tag: String): String =
    pngFixturePaths.getOrElse(tag,
      s"${System.getProperty("java.io.tmpdir")}/graft_png_${tag}_default")

  /** The fixture path the e65 query last wrote — the oracle SQL must name
    * the same absolute path, and [[oracleSql]] carries no SF parameter, so
    * the query records its path here and the oracle entry (evaluated at
    * dump time, after the queries ran in the same Verify JVM) reads it
    * back. The default covers an oracle dump with e65 never run. */
  @volatile private var pngFixturePath: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_png_fixture_default"

  /** e66's JPEG fixture dir — same SF-keyed + late-bound discipline as the
    * PNG fixture above. */
  private def jpegFixtureFor(d: String): String = {
    val tag = d.replaceAll("[^A-Za-z0-9.]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_jpg_fixture_$tag"
  }

  @volatile private var jpegFixturePath: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_jpg_fixture_default"

  /** e70's WAV fixture dir — SF-keyed + late-bound like the PNG/JPEG
    * fixtures; file sizes stay small (≤ ~4 KB) because the oracle
    * rederives every sample in SQL. */
  private def wavFixtureFor(d: String): String = {
    val tag = d.replaceAll("[^A-Za-z0-9.]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_wav_fixture_$tag"
  }
  @volatile private var wavFixturePath: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_wav_fixture_default"
  private def writeWavFixtures(s: SparkSession, d: String): String = {
    val path = wavFixtureFor(d)
    wavFixturePath = path
    val dir = new java.io.File(path); dir.mkdirs()
    Option(dir.listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".wav")).foreach(_.delete())
    load(s, d, "documents").filter(col("doc_id").isin(0L, 10L, 20L))
      .select(col("doc_id"), col("n_chars")).collect()
      .foreach { r =>
        val n = (r.getLong(1) % 1500 + 400).toInt
        val sr = (8000 + (r.getLong(0) % 3) * 4000).toInt
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"wav_${r.getLong(0)}.wav"),
          Multimodal.encodeWav(n, sr, seed = r.getLong(0)))
      }
    path
  }

  /** e72's GVID fixture dir — same discipline; frame counts/dims derive
    * from n_chars so the sampled-index path is exercised at 2–6 frames. */
  private def gvidFixtureFor(d: String): String = {
    val tag = d.replaceAll("[^A-Za-z0-9.]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_gvid_fixture_$tag"
  }
  @volatile private var gvidFixturePath: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_gvid_fixture_default"
  private def writeGvidFixtures(s: SparkSession, d: String): String = {
    val path = gvidFixtureFor(d)
    gvidFixturePath = path
    val dir = new java.io.File(path); dir.mkdirs()
    Option(dir.listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".gvid")).foreach(_.delete())
    load(s, d, "documents").filter(col("doc_id").isin(0L, 10L, 20L))
      .select(col("doc_id"), col("n_chars")).collect()
      .foreach { r =>
        val nf = (r.getLong(1) % 5 + 2).toInt
        val w = (r.getLong(1) % 20 + 12).toInt
        val h = (r.getLong(1) % 14 + 8).toInt
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"vid_${r.getLong(0)}.gvid"),
          Multimodal.encodeVideo(nf, w, h, seed = r.getLong(0)))
      }
    path
  }

  /** e91's PNG near-dup fixture dir: for each base doc a REAL encoded PNG
    * (seed = doc_id) plus its perturbed twin (png_{1000+doc_id}, same
    * dims/seed, every 997th pixel byte bumped by one mod 256) — the
    * controlled near-duplicate pair a perceptual-hash dedup must link.
    * Same SF-keyed + late-bound discipline as the other media fixtures. */
  private def writeDhashFixtures(s: SparkSession, d: String): String = {
    val t = d.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_png_e91_$t"
    val dir = new java.io.File(path); dir.mkdirs()
    Option(dir.listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".png")).foreach(_.delete())
    load(s, d, "documents").filter(col("doc_id").isin(0L, 5L, 10L, 15L, 20L))
      .select(col("doc_id"), col("n_chars")).collect()
      .foreach { r =>
        val id = r.getLong(0)
        val w = (r.getLong(1) % 120 + 16).toInt
        val h = (r.getLong(1) * 3 % 90 + 16).toInt
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"png_$id.png"),
          Multimodal.encodePng(w, h, seed = id))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"png_${1000 + id}.png"),
          Multimodal.encodePngPerturbed(w, h, seed = id, mod = 997))
      }
    pngFixturePaths("e91") = path
    path
  }

  /** e93's WAV near-dup fixture dir: per base doc the closed-form PCM
    * stream (seed = doc_id) plus its dropout twin (wav_{1000+doc_id},
    * every 101st sample zeroed) — same late-bound oracle discipline. */
  @volatile private var wavFpFixturePath: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_wavfp_fixture_default"
  private def writeWavFpFixtures(s: SparkSession, d: String): String = {
    val t = d.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_wavfp_fixture_$t"
    wavFpFixturePath = path
    val dir = new java.io.File(path); dir.mkdirs()
    Option(dir.listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".wav")).foreach(_.delete())
    load(s, d, "documents").filter(col("doc_id").isin(0L, 10L, 20L))
      .select(col("doc_id"), col("n_chars")).collect()
      .foreach { r =>
        val id = r.getLong(0)
        val n = (r.getLong(1) % 1500 + 400).toInt
        val sr = (8000 + (id % 3) * 4000).toInt
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"wav_$id.wav"),
          Multimodal.encodeWav(n, sr, seed = id))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"wav_${1000 + id}.wav"),
          Multimodal.encodeWavDropout(n, sr, seed = id, dropMod = 101))
      }
    path
  }

  /** e94's mixed landing bucket: real encodings of all four media kinds
    * plus opaque junk in ONE dir — the untyped-blob-bucket shape a
    * multimodal ingest triages first. Same SF-keyed + late-bound oracle
    * discipline as the per-kind fixtures. */
  @volatile private var mixedFixturePath: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_mixed_fixture_default"
  private def writeMixedMediaFixtures(s: SparkSession, d: String): String = {
    val t = d.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_mixed_fixture_$t"
    mixedFixturePath = path
    val dir = new java.io.File(path); dir.mkdirs()
    Option(dir.listFiles).getOrElse(Array.empty).foreach(_.delete())
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(path, name), bytes)
    load(s, d, "documents")
      .filter(col("doc_id").isin(0L, 5L, 10L, 15L, 20L, 25L, 30L, 40L, 45L))
      .select(col("doc_id"), col("n_chars")).collect()
      .foreach { r =>
        val id = r.getLong(0); val nc = r.getLong(1)
        id match {
          case 0 | 5 =>
            put(s"f_$id.png", Multimodal.encodePng(
              (nc % 120 + 16).toInt, (nc * 3 % 90 + 16).toInt, seed = id))
          case 10 | 15 =>
            put(s"f_$id.jpg", Multimodal.encodeJpeg(
              (nc % 480 + 16).toInt, (nc * 3 % 360 + 16).toInt, seed = id))
          case 20 | 25 =>
            put(s"f_$id.wav", Multimodal.encodeWav(
              (nc % 1500 + 400).toInt, (8000 + (id % 3) * 4000).toInt, seed = id))
          case 30 =>
            put(s"f_$id.gvid", Multimodal.encodeVideo(
              (nc % 5 + 2).toInt, (nc % 20 + 12).toInt, (nc % 14 + 8).toInt,
              seed = id))
          case _ =>
            put(s"f_$id.bin",
              s"opaque payload $id / $nc".getBytes("UTF-8"))
        }
      }
    path
  }

  /** e99's GVID near-dup fixture: per base doc a real indexed video
    * (seed = doc_id) plus its perturbed twin (vid_{1000+doc_id}, every
    * frame the +1-mod-997 pixel twin) — the re-encoded-copy pair a video
    * dedup must link. */
  @volatile private var gvidDupFixturePath: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_gviddup_fixture_default"
  private def writeGvidDupFixtures(s: SparkSession, d: String): String = {
    val t = d.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_gviddup_fixture_$t"
    gvidDupFixturePath = path
    val dir = new java.io.File(path); dir.mkdirs()
    Option(dir.listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".gvid")).foreach(_.delete())
    load(s, d, "documents").filter(col("doc_id").isin(0L, 10L, 20L))
      .select(col("doc_id"), col("n_chars")).collect()
      .foreach { r =>
        val id = r.getLong(0); val nc = r.getLong(1)
        val (nf, w, h) = ((nc % 5 + 2).toInt, (nc % 20 + 12).toInt, (nc % 14 + 8).toInt)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"vid_$id.gvid"),
          Multimodal.encodeVideo(nf, w, h, seed = id))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"vid_${1000 + id}.gvid"),
          Multimodal.encodeVideoPerturbed(nf, w, h, seed = id, mod = 997))
      }
    path
  }

  /** DuckDB spelling of a little-endian unsigned read of `n` bytes at
    * 0-based `off` over read_blob's `content` — per-byte hex reads
    * recombined by place value, the oracle twin of [[Multimodal.leInt]]. */
  private def leBlobSql(off: Int, n: Int): String =
    (0 until n).map(i =>
      s"CAST('0x' || substring(hex(content), ${2 * (off + i) + 1}, 2) AS BIGINT) * ${1L << (8 * i)}"
    ).mkString("(", " + ", ")")

  // def, not val: the e65 entry late-binds the fixture path recorded by the
  // query run (Verify dumps this map only after running every query)
  def oracleSql: Map[String, String] = Map(
    "e01_exact_dedup" ->
      """SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY md5(array_to_string(string_split(lower(trim(text)), ' ')[1:10], ' '))
        |ORDER BY keep_doc_id""".stripMargin,
    "e02_minhash_sig" ->
      s"""WITH $minhashCte
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin,
    "e02b_minhash_native" ->
      s"""WITH $minhashCte
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin,
    "e03_lsh_buckets" ->
      s"""WITH $minhashCte,
         |${bandsCte("bands")},
         |bk AS (SELECT band, bucket, COUNT(*) AS k FROM bands GROUP BY band, bucket)
         |SELECT band, COUNT(*) AS n_buckets,
         |  SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_collision_buckets,
         |  SUM(k * (k - 1) // 2)::BIGINT AS n_candidate_pairs
         |FROM bk GROUP BY band ORDER BY band""".stripMargin,
    "e03b_lsh_pair_join" -> {
      s"""WITH $sampledBandsCte,
         |cand AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS n_shared_bands
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
         |         FROM documents WHERE doc_id % 10 = 0)
         |SELECT d1, d2, n_shared_bands,
         |  len(list_intersect(a.tk, b.tk))::DOUBLE
         |    / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) AS jaccard
         |FROM cand JOIN sets a ON d1 = a.doc_id JOIN sets b ON d2 = b.doc_id
         |ORDER BY d1, d2""".stripMargin
    },
    // exact integer floor-div binning over the same candidate CTE
    "e112_jaccard_histogram" -> {
      s"""WITH $sampledBandsCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
         |         FROM documents WHERE doc_id % 10 = 0),
         |j AS (SELECT len(list_intersect(a.tk, b.tk)) AS nc,
         |        len(a.tk) AS n1, len(b.tk) AS n2
         |      FROM cand JOIN sets a ON d1 = a.doc_id JOIN sets b ON d2 = b.doc_id)
         |SELECT LEAST((10 * nc) // (n1 + n2 - nc), 9) AS bin,
         |  COUNT(*) AS n_pairs
         |FROM j GROUP BY bin ORDER BY bin""".stripMargin
    },
    "e43_containment" -> {
      s"""WITH $sampledBandsCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
         |         FROM documents WHERE doc_id % 10 = 0),
         |j AS (SELECT d1, d2, len(list_intersect(a.tk, b.tk)) AS n_common,
         |        len(a.tk) AS n1, len(b.tk) AS n2
         |      FROM cand JOIN sets a ON d1 = a.doc_id JOIN sets b ON d2 = b.doc_id),
         |dirs AS (
         |  SELECT d1 AS a, d2 AS b, n_common::DOUBLE / n1 AS containment FROM j
         |  UNION ALL
         |  SELECT d2 AS a, d1 AS b, n_common::DOUBLE / n2 AS containment FROM j)
         |SELECT a, b, containment FROM dirs WHERE containment >= 0.5
         |ORDER BY containment DESC, a, b LIMIT 25""".stripMargin
    },
    "e04b_jaccard_sparse" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 1),
        |      i -> CAST(concat('0x', substring(md5(string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]), 1, 8)) AS BIGINT))) AS bg
        |  FROM documents
        |  WHERE doc_id % 5 = 0 AND len(string_split(text,' ')) >= 2),
        |inv AS (SELECT doc_id, lang, unnest(bg) AS sh FROM base),
        |dfreq AS (SELECT lang, sh, COUNT(*) AS df FROM inv GROUP BY 1, 2),
        |kept AS (SELECT i.doc_id, i.lang, i.sh
        |         FROM inv i JOIN dfreq f ON i.lang = f.lang AND i.sh = f.sh
        |         WHERE f.df <= 8),
        |sizes AS (SELECT doc_id, lang, COUNT(*) AS n FROM kept GROUP BY 1, 2),
        |common AS (
        |  SELECT x.lang AS lang, x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS nc
        |  FROM kept x JOIN kept y
        |    ON x.sh = y.sh AND x.lang = y.lang AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, 3)
        |SELECT c.lang AS lang, d1, d2,
        |  nc::DOUBLE / (s1.n + s2.n - nc) AS jaccard
        |FROM common c
        |JOIN sizes s1 ON c.d1 = s1.doc_id
        |JOIN sizes s2 ON c.d2 = s2.doc_id
        |WHERE nc::DOUBLE / (s1.n + s2.n - nc) >= 0.1
        |ORDER BY c.lang, d1, d2""".stripMargin,
    "e04_ngram_jaccard" -> denseJaccardSql,
    // identical semantics by construction — the B×B blocking never changes
    // which pairs exist, only where they are computed
    "e04c_jaccard_blocked" -> denseJaccardSql,
    "e05_simhash" -> {
      val hs = String.format(tokenHashSql, "t")
      val sums = (0 until 32).map(j =>
        s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN cnt ELSE -cnt END) AS s$j").mkString(", ")
      val bits = (0 until 32).map(j =>
        s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      s"""WITH tc AS (
         |  SELECT doc_id, t, COUNT(*) AS cnt
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
         |  GROUP BY doc_id, t),
         |hh AS (SELECT doc_id, $hs AS h, cnt FROM tc),
         |s AS (SELECT doc_id, $sums FROM hh GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM s),
         |ref AS (SELECT simhash AS ref_sh FROM sh WHERE doc_id = 0)
         |SELECT doc_id, simhash,
         |  CAST(bit_count(xor(simhash, ref_sh)) AS INT) AS hamming_to_doc0
         |FROM sh, ref ORDER BY doc_id""".stripMargin
    },
    "e10_lang_id" ->
      """SELECT lang,
        |  CASE WHEN len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a'))::DOUBLE
        |            / len(string_split(text, ' ')) > 0.08
        |       THEN 'en' ELSE 'other' END AS guess,
        |  COUNT(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin,
    "e10b_langid_ngram" ->
      """SELECT lang,
        |  CASE WHEN (len(regexp_extract_all(text, 'th')) + len(regexp_extract_all(text, 'he'))
        |             + len(regexp_extract_all(text, 'ng')))::DOUBLE / length(text) > 0.02
        |       THEN 'en_like' ELSE 'other' END AS guess,
        |  COUNT(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin,
    "e11_quality_score" ->
      """WITH q AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |SELECT doc_id, CAST(len(tk) AS INT) AS n_toks,
        |  len(list_distinct(tk))::DOUBLE / len(tk) AS ttr,
        |  list_reduce(list_prepend(0, list_transform(tk, t -> CAST(length(t) AS INT))), (a, x) -> a + x)::DOUBLE
        |    / len(tk) AS avg_tok_len,
        |  (len(list_distinct(tk))::DOUBLE / len(tk)) * 0.5
        |    + least(len(tk)::DOUBLE / 100.0, 1.0) * 0.3
        |    + (len(list_filter(tk, t -> t = 'the' OR t = 'a'))::DOUBLE / len(tk)) * 0.2
        |    AS quality_score
        |FROM q ORDER BY doc_id""".stripMargin,
    "e12_token_count" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  SUM(len(string_split(text, ' ')))::BIGINT AS ws_tokens,
        |  SUM(len(regexp_extract_all(text, '[a-z]{1,4}')))::BIGINT AS bpe_tokens,
        |  SUM(len(regexp_extract_all(text, '[a-z]{1,4}')))::DOUBLE / COUNT(*) AS bpe_per_doc
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "e13_fingerprint" -> {
      val hs = String.format(tokenHashSql, "t")
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform(string_split(text, ' '), t -> $hs)),
         |    (acc, x) -> (acc * 31 + x) % $P) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "e16_chunking" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |st AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk), 1), 24)) AS start FROM base),
        |ch AS (SELECT doc_id, CAST(start // 24 AS INT) AS chunk_idx,
        |         tk[start : start + 31] AS chunk FROM st)
        |SELECT doc_id, chunk_idx, CAST(len(chunk) AS INT) AS n_tok,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "e17_shard_pack" -> {
      val hs = String.format(tokenHashSql, "concat(doc_id, ':', chunk_idx)")
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |st AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk), 1), 24)) AS start FROM base),
         |ch AS (SELECT doc_id, start // 24 AS chunk_idx,
         |         len(tk[start : start + 31]) AS n_tok FROM st),
         |sh AS (SELECT doc_id, n_tok, CAST($hs % 16 AS INT) AS shard FROM ch)
         |SELECT shard, COUNT(*) AS n_chunks, SUM(n_tok)::BIGINT AS n_tokens,
         |  SUM(CASE WHEN n_tok = 32 THEN 1 ELSE 0 END)::BIGINT AS n_full,
         |  COUNT(DISTINCT doc_id) AS n_docs
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
    },
    "e18_rarest_term" ->
      """WITH dt AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
        |df AS (SELECT t, COUNT(*) AS term_df FROM dt GROUP BY t),
        |r AS (SELECT dt.doc_id, dt.t, df.term_df,
        |        ROW_NUMBER() OVER (PARTITION BY dt.doc_id ORDER BY df.term_df ASC, dt.t ASC) AS rn
        |      FROM dt JOIN df ON dt.t = df.t)
        |SELECT doc_id, t AS rarest_term, term_df FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "e19_repetition_filter" ->
      """WITH bg AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bigram
        |  FROM documents WHERE doc_id % 25 = 0),
        |pc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id, SUM(c)::BIGINT AS n_bigrams, MAX(c) AS max_rep,
        |  MAX(c)::DOUBLE / SUM(c) AS rep_ratio,
        |  (MAX(c)::DOUBLE / SUM(c)) > 0.05 AS is_repetitive
        |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e20_top_ngrams" ->
      """WITH bg AS (
        |  SELECT unnest(list_transform(generate_series(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bigram
        |  FROM documents)
        |SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,
    "e15_quality_gates" ->
      """SELECT 'documents' AS tbl, COUNT(*) AS n_rows,
        |  SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty,
        |  SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)::BIGINT AS n_violations,
        |  COUNT(DISTINCT lang) AS n_domains
        |FROM documents
        |UNION ALL
        |SELECT 'events', COUNT(*),
        |  SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END)::BIGINT,
        |  COUNT(DISTINCT event_type)
        |FROM events
        |ORDER BY tbl""".stripMargin,
    // the oracle cannot inflate zlib and does not need to: the fixture's
    // pixel stream is the closed-form LCG rawScanlines writes, so the
    // EXPECTED decoded-pixel mean is derived independently of the bytes —
    // Spark's value comes from actually inflating + unfiltering the file
    "e14_png_decode" ->
      ("""WITH files AS (
        |  SELECT CAST(regexp_extract(filename, 'png_(\d+)\.png', 1) AS BIGINT) AS doc_id,
        |    CAST('0x' || substring(hex(content), 33, 8) AS BIGINT) AS w,
        |    CAST('0x' || substring(hex(content), 41, 8) AS BIGINT) AS h,
        |    octet_length(content)::BIGINT AS n_bytes
        |  FROM read_blob('""".stripMargin + pngPathFor("e14") + """/*.png')),
        |px AS (
        |  SELECT doc_id, w, h, n_bytes,
        |    SUM(((doc_id + y*7919 + x)*1103515245 + 12345) // 65536 % 256) AS s,
        |    COUNT(*) AS cnt
        |  FROM files,
        |    LATERAL unnest(generate_series(0, h-1)) AS ys(y),
        |    LATERAL unnest(generate_series(0, w*3-1)) AS xs(x)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  n_bytes, s::DOUBLE / cnt AS mean_byte
        |FROM px ORDER BY doc_id""".stripMargin),
    "e21_dedup_components" -> {
      s"""WITH RECURSIVE
         |$sampledBandsCte,
         |edges AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM sig
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node)
         |SELECT node AS doc_id, MIN(label) AS comp_id,
         |  (node = MIN(label)) AS is_canonical
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
    },
    // the oracle reruns the component closure (e21's CTE), then a
    // depth-tracked BFS from each canonical node — MIN(d) per node is the
    // propagation round that node settles in, MAX per component its
    // fixpoint depth. Nodes the d < 64 BFS guard leaves unreached fold
    // into the explicit depth=64 overflow bucket (LEFT JOIN + COALESCE),
    // matching the Spark side's least(depth, 64) — truncation is visible
    // in both engines, never a silent row drop
    "e73_component_depth" -> {
      s"""WITH RECURSIVE
         |$sampledBandsCte,
         |edges AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM sig
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node),
         |comp AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
         |bfs(node, d) AS (
         |    SELECT node, 0 FROM comp WHERE node = label
         |  UNION
         |    SELECT u.b, bfs.d + 1 FROM bfs JOIN und u ON u.a = bfs.node
         |    WHERE bfs.d < 64),
         |dist AS (SELECT node, MIN(d) AS depth FROM bfs GROUP BY node),
         |ce AS (SELECT comp.label AS comp_id, COUNT(*) AS nn,
         |         MAX(LEAST(COALESCE(dist.depth, 64), 64)) AS ecc
         |       FROM comp LEFT JOIN dist ON comp.node = dist.node
         |       GROUP BY comp.label)
         |SELECT CAST(ecc AS INT) AS depth, COUNT(*) AS n_components,
         |  SUM(nn)::BIGINT AS n_nodes
         |FROM ce GROUP BY ecc ORDER BY depth""".stripMargin
    },
    // the oracle rebuilds the depth-3 × width-128 sketch cell by cell from
    // the same token hash, so the collision-inflated estimates match bitwise
    "e74_cms_heavy_hitters" -> {
      def cellSql(tExpr: String, j: Int): String =
        String.format(tokenHashSql, s"concat('$j:', $tExpr)") + " % 128"
      def cellsUnion(src: String, tExpr: String, extraCols: String): String =
        (0 until 3).map(j =>
          s"SELECT $extraCols$j AS j, ${cellSql(tExpr, j)} AS c FROM $src")
          .mkString("\n  UNION ALL ")
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         |tk AS (SELECT t FROM tok WHERE t <> ''),
         |jc AS (
         |  ${cellsUnion("tk", "t", "")}),
         |cells AS (SELECT j, c, COUNT(*) AS cnt FROM jc GROUP BY j, c),
         |exact AS (SELECT t, COUNT(*) AS n_exact FROM tk GROUP BY t),
         |probe AS (SELECT t, n_exact FROM exact
         |          ORDER BY n_exact DESC, t LIMIT 20),
         |pj AS (
         |  ${cellsUnion("probe", "t", "t, n_exact, ")}),
         |est AS (SELECT pj.t, pj.n_exact, MIN(cells.cnt) AS n_cms
         |        FROM pj JOIN cells ON cells.j = pj.j AND cells.c = pj.c
         |        GROUP BY pj.t, pj.n_exact)
         |SELECT t AS token, n_exact, n_cms, n_cms - n_exact AS overcount
         |FROM est ORDER BY n_exact DESC, token""".stripMargin
    },
    // DuckDB's nfc_normalize implements the same Unicode canonical
    // composition as the JDK Normalizer behind graft_nfc — injected
    // combining pairs, compatibility codepoints, and control bytes clean
    // identically, byte counts included
    "e77_unicode_clean" ->
      """WITH raw AS (
        |  SELECT doc_id, doc_id % 4 AS inject_class,
        |    text || CASE doc_id % 4
        |      WHEN 0 THEN ' cafe' || chr(769)
        |      WHEN 1 THEN ' ' || chr(8491)
        |      WHEN 2 THEN chr(1) || 'tab' || chr(7)
        |      ELSE '' END AS raw
        |  FROM documents),
        |c AS (SELECT inject_class, raw,
        |        nfc_normalize(regexp_replace(raw, '[\x01-\x1f\x7f]', '', 'g')) AS clean
        |      FROM raw)
        |SELECT inject_class, count(*) AS n_docs,
        |  sum((clean <> raw)::BIGINT)::BIGINT AS n_changed,
        |  sum(strlen(raw))::BIGINT AS bytes_raw,
        |  sum(strlen(clean))::BIGINT AS bytes_clean
        |FROM c GROUP BY inject_class ORDER BY inject_class""".stripMargin,
    // identical strip pipeline in RE2 — DuckDB regexp_replace needs the
    // 'g' flag Spark applies implicitly; entity decode order matches
    // (&amp; last)
    "e78_markup_strip" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><body class="c' || (doc_id % 7) || '"><h1>Doc ' || doc_id ||
        |  '</h1><script>var x=' || doc_id || ';</script><p>' || text ||
        |  '</p><div>&amp; &lt;tail&gt; &quot;q&quot;</div></body></html>' AS html
        |  FROM documents),
        |c AS (SELECT doc_id, html,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(html,
        |        '<script[^>]*>.*?</script>', ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean FROM h)
        |SELECT doc_id,
        |  len(regexp_extract_all(html, '<[^>]+>'))::BIGINT AS n_tags,
        |  length(html)::BIGINT AS raw_len,
        |  length(clean)::BIGINT AS clean_len,
        |  md5(clean) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    "e79_url_domains" ->
      """WITH t AS (SELECT doc_id, text ||
        |    ' see https://www.site' || (doc_id % 20) || '.example' ||
        |    (doc_id % 3) || '.com/p/' || doc_id ||
        |    ' or http://cdn' || (doc_id % 5) ||
        |    '.assets-net.io/f/' || (doc_id % 100) AS txt FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(txt, 'https?://[^ ]+')) AS url
        |      FROM t),
        |h AS (SELECT doc_id, url,
        |        regexp_extract(url, '^https?://([^/]+)', 1) AS host FROM u),
        |d AS (SELECT doc_id, url, host,
        |        regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain FROM h)
        |SELECT domain, count(DISTINCT doc_id) AS n_docs,
        |  count(DISTINCT host) AS n_hosts, count(*) AS n_urls,
        |  sum(CASE WHEN url LIKE 'https://%' THEN 1 ELSE 0 END)::BIGINT AS n_https
        |FROM d GROUP BY domain ORDER BY domain""".stripMargin,
    // the oracle re-marks the duplicated positions and rebuilds each doc
    // with an ORDER BY p string_agg — md5 equality IS the rewrite check
    "e80_span_scrub" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |spans AS (SELECT doc_id, i.i AS p,
        |            array_to_string(ts[i.i : i.i + 7], ' ') AS span
        |          FROM tok, UNNEST(generate_series(1, len(ts) - 7)) AS i(i)
        |          WHERE len(ts) >= 8),
        |dup AS (SELECT span FROM spans GROUP BY span
        |        HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT s.doc_id, u.u AS p
        |        FROM spans s JOIN dup USING (span),
        |             UNNEST(generate_series(s.p, s.p + 7)) AS u(u)),
        |tp AS (SELECT doc_id, i.i AS p, ts[i.i] AS t
        |       FROM tok, UNNEST(generate_series(1, len(ts))) AS i(i)),
        |kept AS (SELECT tp.doc_id, tp.p, tp.t FROM tp
        |         LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
        |         WHERE cov.p IS NULL),
        |ka AS (SELECT doc_id, count(*) AS n_kept,
        |         md5(string_agg(t, ' ' ORDER BY p)) AS scrub_md5
        |       FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, len(t.ts)::BIGINT AS n_tok,
        |  coalesce(ka.n_kept, 0)::BIGINT AS n_kept,
        |  coalesce(ka.scrub_md5, md5('')) AS scrub_md5
        |FROM tok t LEFT JOIN ka USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // every rule is the same exact integer inequality — no float crosses
    // the engine boundary anywhere in this query
    "e81_gopher_rules" ->
      """WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        |           FROM documents),
        |per AS (SELECT doc_id, lang, count(*)::BIGINT AS n_words,
        |          sum(length(t))::BIGINT AS sum_wl,
        |          sum(CASE WHEN t IN ('the', 'a', 'of', 'and') THEN 1 ELSE 0 END)::BIGINT
        |            AS n_stop
        |        FROM w GROUP BY doc_id, lang),
        |mx AS (SELECT doc_id, max(c)::BIGINT AS max_wc FROM
        |         (SELECT doc_id, t, count(*) AS c FROM w GROUP BY doc_id, t)
        |       GROUP BY doc_id),
        |f AS (SELECT lang,
        |        (per.n_words < 30 OR per.n_words > 500)::BIGINT AS f_len,
        |        (sum_wl * 2 < n_words * 7 OR sum_wl > n_words * 10)::BIGINT AS f_wl,
        |        (n_stop * 50 < n_words * 3)::BIGINT AS f_stop,
        |        (max_wc * 5 > n_words)::BIGINT AS f_rep
        |      FROM per JOIN mx USING (doc_id))
        |SELECT lang, count(*) AS n_docs,
        |  sum(f_len)::BIGINT AS n_fail_len, sum(f_wl)::BIGINT AS n_fail_wl,
        |  sum(f_stop)::BIGINT AS n_fail_stop, sum(f_rep)::BIGINT AS n_fail_rep,
        |  sum(CASE WHEN f_len + f_wl + f_stop + f_rep = 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_pass
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    // identical pipeline in SQL: the same integer rule flags unpivoted to
    // a 4-rule frame, marginal (fail-only-this-rule) counts, and the
    // pass-if-dropped composition
    "e116_gate_ablation" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |           FROM documents),
        |per AS (SELECT doc_id, count(*)::BIGINT AS n_words,
        |          sum(length(t))::BIGINT AS sum_wl,
        |          sum(CASE WHEN t IN ('the', 'a', 'of', 'and') THEN 1 ELSE 0 END)::BIGINT
        |            AS n_stop
        |        FROM w GROUP BY doc_id),
        |mx AS (SELECT doc_id, max(c)::BIGINT AS max_wc FROM
        |         (SELECT doc_id, t, count(*) AS c FROM w GROUP BY doc_id, t)
        |       GROUP BY doc_id),
        |f AS (SELECT
        |        (per.n_words < 30 OR per.n_words > 500)::BIGINT AS f_len,
        |        (sum_wl * 2 < n_words * 7 OR sum_wl > n_words * 10)::BIGINT AS f_wl,
        |        (n_stop * 50 < n_words * 3)::BIGINT AS f_stop,
        |        (max_wc * 5 > n_words)::BIGINT AS f_rep
        |      FROM per JOIN mx USING (doc_id)),
        |nf AS (SELECT *, f_len + f_wl + f_stop + f_rep AS nfail FROM f),
        |pr AS (SELECT rule, SUM(fl)::BIGINT AS n_fail,
        |         SUM(CASE WHEN fl = 1 AND nfail = 1 THEN 1 ELSE 0 END)::BIGINT
        |           AS n_only
        |       FROM (SELECT nfail, unnest(['1_len', '2_word_len',
        |                      '3_stop_ratio', '4_repetition']) AS rule,
        |               unnest([f_len, f_wl, f_stop, f_rep]) AS fl
        |             FROM nf)
        |       GROUP BY rule),
        |pass AS (SELECT SUM(CASE WHEN nfail = 0 THEN 1 ELSE 0 END)::BIGINT
        |           AS n_pass FROM nf)
        |SELECT rule, n_fail, n_only,
        |  (n_pass + n_only)::BIGINT AS n_pass_if_dropped
        |FROM pr CROSS JOIN pass ORDER BY rule""".stripMargin,
    // the oracle rebuilds candidates AND the 8-component agreement check,
    // so the acceptance rule the streaming ingest enforces is itself
    // cross-engine verified
    "e90_reject_rule" -> {
      val agree = (0 until 8).map(i =>
        s"(CASE WHEN s1.sig$i = s2.sig$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $sampledBandsCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |ver AS (SELECT d1, d2 FROM cand
         |        JOIN sig s1 ON cand.d1 = s1.doc_id
         |        JOIN sig s2 ON cand.d2 = s2.doc_id
         |        WHERE $agree >= 6),
         |rej AS (SELECT DISTINCT d2 AS doc_id FROM ver)
         |SELECT lang, count(*) AS n_docs,
         |  sum(CASE WHEN rej.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(CASE WHEN rej.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_rejected
         |FROM documents LEFT JOIN rej USING (doc_id)
         |WHERE doc_id % 10 = 0
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    "e87_fertility" ->
      """SELECT lang, count(*) AS n_docs,
        |  sum(len(string_split(text, ' ')))::BIGINT AS n_words,
        |  sum(len(regexp_extract_all(text, '[a-z]{1,4}')))::BIGINT AS n_bpe,
        |  round(sum(len(regexp_extract_all(text, '[a-z]{1,4}')))::DOUBLE
        |    / sum(len(string_split(text, ' '))), 6) AS fertility,
        |  round(sum(length(replace(text, ' ', '')))::DOUBLE
        |    / sum(len(regexp_extract_all(text, '[a-z]{1,4}'))), 6)
        |    AS chars_per_tok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "e88_retrieval_eval" ->
      s"""WITH $bm25ScoresSql,
         |rel AS (SELECT doc_id, 1::BIGINT AS rel FROM (
         |    SELECT doc_id, count(DISTINCT t) AS nq FROM (
         |      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
         |      FROM documents)
         |    WHERE t IN ('spark', 'merge', 'vector') GROUP BY doc_id)
         |  WHERE nq >= 2),
         |rk AS (SELECT bm25.doc_id, rel.rel,
         |         row_number() OVER (ORDER BY score DESC, bm25.doc_id) AS rank
         |       FROM bm25 LEFT JOIN rel ON bm25.doc_id = rel.doc_id),
         |ag AS (SELECT sum(coalesce(rel, 0))::BIGINT AS n_relevant,
         |         sum(CASE WHEN rank <= 10 AND rel = 1 THEN 1 ELSE 0 END)::BIGINT
         |           AS hits_at_10,
         |         min(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank
         |       FROM rk)
         |SELECT n_relevant, hits_at_10, first_rel_rank,
         |  round(1.0 / first_rel_rank, 6) AS mrr,
         |  round(hits_at_10::DOUBLE / least(10, n_relevant), 6) AS recall_at_10
         |FROM ag""".stripMargin,
    "e89_split_leakage" -> {
      val hid = String.format(tokenHashSql, "doc_id::VARCHAR")
      s"""WITH $sampledBandsCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |sp AS (SELECT doc_id,
         |         CASE WHEN $hid % 100 < 80 THEN 'train'
         |              WHEN $hid % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM documents)
         |SELECT least(a.split, b.split) AS split_a,
         |  greatest(a.split, b.split) AS split_b,
         |  COUNT(*) AS n_pairs
         |FROM cand JOIN sp a ON cand.d1 = a.doc_id
         |          JOIN sp b ON cand.d2 = b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "e83_host_cap" ->
      s"""WITH h AS (SELECT doc_id,
         |    'www.site' || (doc_id % 20) || '.example' || (doc_id % 3) || '.com' AS host,
         |    ${String.format(tokenHashSql, "doc_id::VARCHAR")} AS ord
         |  FROM documents),
         |r AS (SELECT host,
         |        row_number() OVER (PARTITION BY host ORDER BY ord, doc_id) AS rn
         |      FROM h)
         |SELECT host, count(*) AS n_docs,
         |  sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(CASE WHEN rn > 5 THEN 1 ELSE 0 END)::BIGINT AS n_dropped
         |FROM r GROUP BY host ORDER BY host""".stripMargin,
    // empty hours stay in the frame on both sides; chi2 is one exact
    // integer division, no rounding anywhere
    "e109_seasonality" ->
      """WITH ev AS (SELECT event_type,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hod FROM events),
        |tys AS (SELECT DISTINCT event_type FROM ev),
        |fr AS (SELECT event_type, h.h AS hod
        |       FROM tys, UNNEST(generate_series(0, 23)) AS h(h)),
        |c AS (SELECT event_type, hod, COUNT(*)::BIGINT AS c
        |      FROM ev GROUP BY 1, 2),
        |fl AS (SELECT fr.event_type, fr.hod, COALESCE(c.c, 0) AS c
        |       FROM fr LEFT JOIN c USING (event_type, hod)),
        |tot AS (SELECT event_type, SUM(c)::BIGINT AS n_events FROM fl GROUP BY 1),
        |pk AS (SELECT event_type, hod AS peak_hod, c AS peak_n FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY c DESC, hod ASC) AS rn FROM fl) WHERE rn = 1),
        |chi AS (SELECT f.event_type, t.n_events,
        |          SUM((f.c * 24 - t.n_events) * (f.c * 24 - t.n_events))::BIGINT
        |            AS chi2_num
        |        FROM fl f JOIN tot t USING (event_type) GROUP BY 1, 2)
        |SELECT chi.event_type, chi.n_events, pk.peak_hod, pk.peak_n,
        |  chi.chi2_num::DOUBLE / (chi.n_events * 24)::DOUBLE AS chi2_uniform
        |FROM chi JOIN pk USING (event_type) ORDER BY event_type""".stripMargin,
    // the c31/e53 exact-moments recipe per language; r divides once
    "e108_len_ttr_corr" ->
      """WITH b AS (SELECT lang,
        |    len(string_split(text, ' '))::DOUBLE AS x,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS y
        |  FROM documents),
        |s AS (SELECT lang, count(*) AS n_docs,
        |    sum(CAST(x AS DECIMAL(28,12))) AS sx,
        |    sum(CAST(y AS DECIMAL(28,12))) AS sy,
        |    sum(CAST(x * x AS DECIMAL(28,12))) AS sxx,
        |    sum(CAST(y * y AS DECIMAL(28,12))) AS syy,
        |    sum(CAST(x * y AS DECIMAL(28,12))) AS sxy
        |  FROM b GROUP BY lang)
        |SELECT lang, n_docs,
        |  round((n_docs * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (sqrt(n_docs * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |      * sqrt(n_docs * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
        |    AS corr_len_ttr
        |FROM s ORDER BY lang""".stripMargin,
    // LM counts from the train split only; Laplace (c2+1)/(c1+V) feeds
    // ln identical integers on both engines
    "e110_heldout_lm" ->
      """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
        |ok AS (SELECT * FROM tok WHERE len(ts) >= 2),
        |bg AS (SELECT doc_id, lang, ts[i.i] AS w1,
        |         ts[i.i] || ' ' || ts[i.i + 1] AS bg
        |       FROM ok, UNNEST(generate_series(1, len(ts) - 1)) AS i(i)),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bg WHERE doc_id % 10 <> 0 GROUP BY bg),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE doc_id % 10 <> 0 GROUP BY w1),
        |v AS (SELECT count(DISTINCT t) AS vv FROM
        |       (SELECT unnest(string_split(text, ' ')) AS t
        |        FROM documents WHERE doc_id % 10 <> 0)),
        |lp AS (SELECT b.lang, b.doc_id,
        |    CAST(round(ln((COALESCE(c2.c2, 0) + 1)::DOUBLE
        |      / (COALESCE(c1.c1, 0) + v.vv)::DOUBLE), 9) AS DECIMAL(28,12)) AS lp
        |  FROM bg b LEFT JOIN c2 USING (bg) LEFT JOIN c1 USING (w1) CROSS JOIN v
        |  WHERE b.doc_id % 10 = 0)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_bigrams,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_lp
        |FROM lp GROUP BY lang ORDER BY lang""".stripMargin,
    // 3 unrolled rounds of the same vocab → pair-count → argmax → 6×
    // literal-replace rewrite the Spark side folds; DuckDB's replace is
    // pass-identical to java.lang.String.replace, so every intermediate
    // word string matches bitwise
    "e107_bpe_merges" -> {
      def rep6(base: String): String =
        (1 to 6).foldLeft(base)((c, _) =>
          s"replace($c, '|' || s1 || '|' || s2 || '|', '|' || s1 || s2 || '|')")
      def round(i: Int, prev: String): String =
        s"""p$i AS (SELECT sy[i.i] AS s1, sy[i.i + 1] AS s2, SUM(f)::BIGINT AS cnt
           |  FROM (SELECT f, list_filter(string_split(ws, '|'), x -> x <> '') AS sy
           |        FROM $prev) v,
           |       UNNEST(generate_series(1, len(sy) - 1)) AS i(i)
           |  WHERE len(sy) >= 2 GROUP BY s1, s2),
           |b$i AS (SELECT s1, s2, cnt FROM p$i ORDER BY cnt DESC, s1, s2 LIMIT 1),
           |w$i AS (SELECT f, ${rep6("ws")} AS ws FROM $prev CROSS JOIN b$i),
           |a$i AS (SELECT SUM(f * len(list_filter(string_split(ws, '|'),
           |          x -> x <> '')))::BIGINT AS cs FROM w$i)""".stripMargin
      s"""WITH w0 AS (SELECT count(*) AS f,
         |    '|' || array_to_string(list_filter(string_split(t, ''), c -> c <> ''),
         |      '|') || '|' AS ws
         |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         |  WHERE t <> '' GROUP BY t),
         |${round(1, "w0")},
         |${round(2, "w1")},
         |${round(3, "w2")}
         |SELECT 1 AS step, s1 || ' ' || s2 AS merged_pair, cnt,
         |  (SELECT cs FROM a1) AS corpus_symbols_after FROM b1
         |UNION ALL SELECT 2, s1 || ' ' || s2, cnt, (SELECT cs FROM a2) FROM b2
         |UNION ALL SELECT 3, s1 || ' ' || s2, cnt, (SELECT cs FROM a3) FROM b3
         |ORDER BY step""".stripMargin
    },
    "e84_bpe_step" ->
      """WITH w AS (SELECT t AS w, count(*) AS f FROM
        |    (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |    WHERE t <> '' GROUP BY t),
        |p AS (SELECT substr(w, i.i, 1) || ' ' || substr(w, i.i + 1, 1) AS pair, f
        |      FROM w, UNNEST(generate_series(1, length(w) - 1)) AS i(i)
        |      WHERE length(w) >= 2)
        |SELECT pair, sum(f)::BIGINT AS cnt FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 10""".stripMargin,
    "e82_line_dedup" ->
      """WITH pg AS (SELECT doc_id,
        |    'menu home about contact v' || (doc_id % 4) || chr(10) || text ||
        |    chr(10) || 'copyright footer site v' || (doc_id % 3) AS page
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pg),
        |ln AS (SELECT doc_id, i.i AS p, ls[i.i] AS line
        |       FROM ls, UNNEST(generate_series(1, len(ls))) AS i(i)),
        |ldf AS (SELECT line, count(DISTINCT doc_id) AS ldocs FROM ln GROUP BY line),
        |tot AS (SELECT count(*) AS n_total FROM documents),
        |kept AS (SELECT ln.doc_id, ln.p, ln.line
        |         FROM ln JOIN ldf USING (line), tot
        |         WHERE ldocs * 20 < n_total),
        |ka AS (SELECT doc_id, count(*) AS n_kept,
        |         md5(string_agg(line, chr(10) ORDER BY p)) AS clean_md5
        |       FROM kept GROUP BY doc_id)
        |SELECT l.doc_id, len(l.ls)::BIGINT AS n_lines,
        |  coalesce(ka.n_kept, 0)::BIGINT AS n_kept,
        |  coalesce(ka.clean_md5, md5('')) AS clean_md5
        |FROM ls l LEFT JOIN ka USING (doc_id) ORDER BY l.doc_id""".stripMargin,
    // the oracle rebuilds the 128-bin sketch with the identical IEEE
    // binning arithmetic and compares the same disc percentiles
    "e75_quantile_sketch" ->
      """WITH v AS (SELECT value::DOUBLE AS x FROM events WHERE value IS NOT NULL),
        |mm AS (SELECT min(x) AS lo, max(x) AS hi, count(*) AS n FROM v),
        |bins AS (SELECT CAST(least(floor((x - lo) / ((hi - lo) / 128)), 127) AS BIGINT) AS bin,
        |           count(*) AS cnt
        |         FROM v CROSS JOIN mm GROUP BY 1),
        |cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM bins),
        |qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]::DOUBLE[]) AS q),
        |est AS (SELECT q, n, lo + (min(bin) + 1) * ((hi - lo) / 128) AS est_upper
        |        FROM qs CROSS JOIN mm JOIN cum ON cum.cum >= ceil(q * n)
        |        GROUP BY q, n, lo, hi),
        |ex AS (SELECT
        |         percentile_disc(0.25) WITHIN GROUP (ORDER BY x) AS p25,
        |         percentile_disc(0.5)  WITHIN GROUP (ORDER BY x) AS p50,
        |         percentile_disc(0.75) WITHIN GROUP (ORDER BY x) AS p75,
        |         percentile_disc(0.9)  WITHIN GROUP (ORDER BY x) AS p90,
        |         percentile_disc(0.99) WITHIN GROUP (ORDER BY x) AS p99
        |       FROM v),
        |ec AS (SELECT q, n, est_upper,
        |         CASE q WHEN 0.25 THEN p25 WHEN 0.5 THEN p50 WHEN 0.75 THEN p75
        |                WHEN 0.9 THEN p90 ELSE p99 END AS exact_disc
        |       FROM est CROSS JOIN ex)
        |SELECT q, n AS n_rows, est_upper, exact_disc,
        |  est_upper - exact_disc AS err
        |FROM ec ORDER BY q""".stripMargin,
    "e59_cluster_sizes" -> {
      s"""WITH RECURSIVE
         |$sampledBandsCte,
         |edges AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM sig
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node),
         |comp AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
         |cs AS (SELECT label, COUNT(*) AS cluster_size FROM comp GROUP BY label)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |  (cluster_size - 1) * COUNT(*) AS docs_removable
         |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin
    },
    "e60_bloom_prefilter" -> {
      val ha = String.format(tokenHashSql, "concat('a', CAST(user_id AS VARCHAR))")
      val hb = String.format(tokenHashSql, "concat('b', CAST(user_id AS VARCHAR))")
      s"""WITH bad AS (SELECT DISTINCT user_id FROM events
         |             WHERE event_type = 'error' AND user_id % 7 = 0),
         |bp AS (SELECT $ha % 1024 AS p FROM bad
         |       UNION ALL SELECT $hb % 1024 FROM bad),
         |bits AS (SELECT p // 32 AS w,
         |           bit_or(1::BIGINT << (p % 32)::INT) AS bloom
         |         FROM bp GROUP BY p // 32),
         |cand AS (SELECT DISTINCT user_id FROM events
         |         WHERE event_type = 'purchase'),
         |cp AS (SELECT user_id, $ha % 1024 AS p FROM cand
         |       UNION ALL SELECT user_id, $hb % 1024 FROM cand),
         |probe AS (SELECT cp.user_id,
         |            (bits.bloom IS NOT NULL
         |             AND (bits.bloom & (1::BIGINT << (cp.p % 32)::INT))
         |                 = (1::BIGINT << (cp.p % 32)::INT))::INT AS ok
         |          FROM cp LEFT JOIN bits ON bits.w = cp.p // 32),
         |hit AS (SELECT user_id FROM probe GROUP BY user_id
         |        HAVING min(ok) = 1),
         |nc AS (SELECT count(*) AS n_candidates FROM cand),
         |np AS (SELECT count(*) AS n_pass FROM hit),
         |nt AS (SELECT count(*) AS n_true FROM hit JOIN bad USING (user_id))
         |SELECT n_candidates, n_pass, n_true, n_pass - n_true AS n_fp,
         |  (n_pass - n_true)::DOUBLE / n_candidates AS fp_rate
         |FROM nc CROSS JOIN np CROSS JOIN nt""".stripMargin
    },
    "e62_temperature_mix" ->
      """WITH pl AS (SELECT lang,
        |              SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |            FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_tokens,
        |        CAST(sqrt(n_tokens::DOUBLE) AS DECIMAL(28,9)) AS w
        |      FROM pl),
        |z AS (SELECT SUM(w) AS z FROM w)
        |SELECT lang, n_tokens, w::DOUBLE / z::DOUBLE AS temp_share
        |FROM w CROSS JOIN z ORDER BY lang""".stripMargin,
    "e63_lsh_sweep" -> {
      def h4(j: Int) = String.format(tokenHashSql,
        (0 until 4).map(i => s"sig${4 * j + i}::VARCHAR")
          .mkString("concat_ws(',', ", ", ", ")"))
      s"""WITH sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
         |              FROM documents WHERE doc_id % 10 = 0),
         |truth AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.tk, b.tk))::DOUBLE
         |    / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= 0.1),
         |$sampledSigCte,
         |${bandsCte("b1")},
         |cand1 AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM b1 x JOIN b1 y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |b2 AS (
         |  SELECT doc_id, 0 AS band, ${h4(0)} AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, ${h4(1)} FROM sig),
         |cand2 AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM b2 x JOIN b2 y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |a1 AS (SELECT 'r2xb4' AS config,
         |        (SELECT count(*) FROM truth) AS n_truth,
         |        (SELECT count(*) FROM cand1) AS n_cand,
         |        (SELECT count(*) FROM truth JOIN cand1 USING (d1, d2)) AS tp),
         |a2 AS (SELECT 'r4xb2' AS config,
         |        (SELECT count(*) FROM truth) AS n_truth,
         |        (SELECT count(*) FROM cand2) AS n_cand,
         |        (SELECT count(*) FROM truth JOIN cand2 USING (d1, d2)) AS tp)
         |SELECT config, n_truth, n_cand, tp,
         |  tp::DOUBLE / n_cand AS precision, tp::DOUBLE / n_truth AS recall
         |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
         |ORDER BY config""".stripMargin
    },
    "e64_source_scorecard" ->
      """WITH docs AS (
        |  SELECT source, lang,
        |    md5(array_to_string(string_split(lower(trim(text)), ' ')[1:10],
        |      ' ')) AS fp,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS DECIMAL(28,9)) AS ttr
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  SUM(n_tok)::BIGINT AS n_tokens,
        |  1.0 - count(DISTINCT fp)::DOUBLE / count(*) AS dup_rate,
        |  SUM(ttr)::DOUBLE / count(*) AS mean_ttr,
        |  count(DISTINCT lang) AS n_langs
        |FROM docs GROUP BY source ORDER BY source""".stripMargin,
    "e25_dedup_corpus" -> {
      s"""WITH RECURSIVE
         |$sampledBandsCte,
         |edges AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM sig
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node),
         |comp AS (SELECT node, MIN(label) AS comp_id FROM reach GROUP BY node),
         |docs AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
         |         FROM documents WHERE doc_id % 10 = 0),
         |before_a AS (SELECT lang, COUNT(*) AS n_docs_before,
         |               SUM(n_tok)::BIGINT AS n_tokens_before
         |             FROM docs GROUP BY lang),
         |after_a AS (SELECT lang, COUNT(*) AS n_docs_after,
         |              SUM(n_tok)::BIGINT AS n_tokens_after
         |            FROM docs JOIN comp ON docs.doc_id = comp.node
         |            WHERE comp.node = comp.comp_id GROUP BY lang)
         |SELECT b.lang AS lang, n_docs_before, n_docs_after,
         |  n_tokens_before, n_tokens_after
         |FROM before_a b LEFT JOIN after_a a ON b.lang = a.lang
         |ORDER BY lang""".stripMargin
    },
    "e14b_png_frames" ->
      ("""WITH f AS (
        |  SELECT CAST(regexp_extract(filename, 'png_(\d+)\.png', 1) AS BIGINT) AS doc_id,
        |    content, (octet_length(content) - 16) // 64 + 1 AS n_frames
        |  FROM read_blob('""".stripMargin + pngPathFor("e14b") + """/*.png')
        |  WHERE octet_length(content) >= 16)
        |SELECT doc_id, n_frames::BIGINT AS n_frames,
        |  substring(hex(content), 1, 32) AS frame0_hex,
        |  substring(hex(content), (n_frames - 1) * 128 + 1, 32) AS last_hex
        |FROM f ORDER BY doc_id""".stripMargin),
    // the SAME big-endian header reads on the SAME fixture bytes, via
    // read_blob — hex+substring+0x-cast is DuckDB's spelling of Spark's
    // hex+substring+conv; the gate compares the two engines' PARSE of
    // identical files (the Spark query writes them before the oracle runs)
    "e65_png_ihdr" ->
      ("""SELECT CAST(regexp_extract(filename, 'png_(\d+)\.png', 1) AS BIGINT) AS doc_id,
        |  CAST('0x' || substring(hex(content), 33, 8) AS BIGINT) AS width,
        |  CAST('0x' || substring(hex(content), 41, 8) AS BIGINT) AS height,
        |  CAST('0x' || substring(hex(content), 49, 2) AS BIGINT) AS bit_depth,
        |  CAST('0x' || substring(hex(content), 51, 2) AS BIGINT) AS color_type,
        |  octet_length(content)::BIGINT AS n_bytes
        |FROM read_blob('""".stripMargin + pngFixturePath + """/*.png')
        |WHERE substring(hex(content), 1, 16) = '89504E470D0A1A0A'
        |ORDER BY doc_id""".stripMargin),
    // the oracle re-runs the SAME marker walk over the SAME bytes as a
    // recursive CTE: step from offset 2, hop 2+len per non-SOF segment,
    // stop at the first SOF code — then read the dims at that offset
    "e66_jpeg_sof" ->
      ("""WITH RECURSIVE seg AS (
        |  SELECT filename, content, 2::BIGINT AS off, 1 AS depth
        |  FROM read_blob('""".stripMargin + jpegFixturePath + """/*.jpg')
        |  WHERE substring(hex(content), 1, 4) = 'FFD8'
        |  UNION ALL
        |  SELECT filename, content,
        |    off + 2 + CAST('0x' || substring(hex(content), off*2+5, 4) AS BIGINT),
        |    depth + 1
        |  FROM seg
        |  WHERE depth < 16 AND substring(hex(content), off*2+3, 2) NOT IN
        |    ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF')
        |),
        |sof AS (
        |  SELECT filename, content, off FROM seg
        |  WHERE substring(hex(content), off*2+3, 2) IN
        |    ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF')
        |)
        |SELECT CAST(regexp_extract(filename, 'jpg_(\d+)\.jpg', 1) AS BIGINT) AS doc_id,
        |  CAST('0x' || substring(hex(content), (off+7)*2+1, 4) AS BIGINT) AS width,
        |  CAST('0x' || substring(hex(content), (off+5)*2+1, 4) AS BIGINT) AS height,
        |  CAST('0x' || substring(hex(content), (off+4)*2+1, 2) AS BIGINT) AS sof_precision,
        |  CAST('0x' || substring(hex(content), (off+9)*2+1, 2) AS BIGINT) AS n_components,
        |  octet_length(content)::BIGINT AS n_bytes
        |FROM sof ORDER BY doc_id""".stripMargin),
    // the header comes off the IDENTICAL fixture bytes (little-endian
    // per-byte reads — DuckDB's spelling of Multimodal.leInt); the sample
    // stats are rederived from the closed-form LCG sample stream, so a
    // decode defect (sign-extension, offset, short read) lands as an
    // exact-integer mismatch
    "e70_wav_pcm" -> {
      val sgn = "CASE WHEN v >= 32768 THEN v - 65536 ELSE v END"
      s"""WITH f AS (
         |  SELECT CAST(regexp_extract(filename, 'wav_(\\d+)\\.wav', 1) AS BIGINT) AS doc_id,
         |    content
         |  FROM read_blob('$wavFixturePath/*.wav')
         |  WHERE substring(hex(content), 1, 8) = '52494646'),
         |hdr AS (
         |  SELECT doc_id,
         |    ${leBlobSql(24, 4)} AS sample_rate,
         |    ${leBlobSql(22, 2)} AS n_channels,
         |    ${leBlobSql(34, 2)} AS bits,
         |    ${leBlobSql(40, 4)} // 2 AS n_samples
         |  FROM f),
         |sm AS (
         |  SELECT doc_id, ((doc_id + i) * 1103515245 + 12345) // 65536 % 65536 AS v
         |  FROM hdr, LATERAL unnest(generate_series(0, n_samples - 1)) AS t(i)),
         |st AS (
         |  SELECT doc_id,
         |    SUM($sgn)::BIGINT AS sum_amp,
         |    SUM(($sgn) * ($sgn))::BIGINT AS sum_sq,
         |    MAX(abs($sgn))::BIGINT AS peak
         |  FROM sm GROUP BY doc_id)
         |SELECT h.doc_id AS doc_id, sample_rate, n_channels, bits,
         |  n_samples::BIGINT AS n_samples, sum_amp, sum_sq, peak
         |FROM hdr h JOIN st ON h.doc_id = st.doc_id
         |ORDER BY doc_id""".stripMargin
    },
    // the oracle rederives stream → dropout → 64-sample window energies →
    // sign-of-delta fingerprint → hamming pairs in exact integer SQL
    "e93_audio_fp" -> {
      s"""WITH f AS (
         |  SELECT CAST(regexp_extract(filename, 'wav_(\\d+)\\.wav', 1) AS BIGINT) AS doc_id,
         |    content
         |  FROM read_blob('$wavFpFixturePath/*.wav')
         |  WHERE substring(hex(content), 1, 8) = '52494646'),
         |hdr AS (
         |  SELECT doc_id, ${leBlobSql(40, 4)} // 2 AS n_samples,
         |    doc_id % 1000 AS seed,
         |    CASE WHEN doc_id >= 1000 THEN 101 ELSE 0 END AS dm
         |  FROM f),
         |sm AS (
         |  SELECT doc_id, i,
         |    CASE WHEN dm > 0 AND i % dm = 0 THEN 0
         |         WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
         |  FROM (
         |    SELECT doc_id, dm, t.i AS i,
         |      ((seed + t.i) * 1103515245 + 12345) // 65536 % 65536 AS v
         |    FROM hdr,
         |      LATERAL unnest(generate_series(0, (n_samples // 64) * 64 - 1)) AS t(i))),
         |wn AS (
         |  SELECT doc_id, i // 64 AS w, SUM(abs(s)) AS e
         |  FROM sm GROUP BY doc_id, i // 64),
         |bits AS (
         |  SELECT a.doc_id, a.w AS idx,
         |    CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
         |  FROM wn a JOIN wn b ON a.doc_id = b.doc_id AND b.w = a.w + 1
         |  WHERE a.w < 56),
         |fp AS (
         |  SELECT h.doc_id, h.n_samples // 64 AS nw,
         |    coalesce(SUM(bit * (1::BIGINT << idx)), 0)::BIGINT AS fpv
         |  FROM hdr h LEFT JOIN bits ON h.doc_id = bits.doc_id
         |  GROUP BY 1, 2)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  a.nw::BIGINT AS n_windows,
         |  bit_count(xor(a.fpv, b.fpv))::BIGINT AS hamming
         |FROM fp a JOIN fp b ON a.nw = b.nw AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fpv, b.fpv)) <= 8
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // dims from the fixture's IHDR bytes, target geometry by the same
    // integer floor math as fitBox, and the resized checksum from the
    // closed-form pixel stream sampled at (ty*h//rh, tx*w//rw) — the
    // oracle never resamples; it derives what a correct nearest-neighbor
    // resample MUST sum to
    "e71_image_resize" ->
      ("""WITH f AS (
        |  SELECT CAST(regexp_extract(filename, 'png_(\d+)\.png', 1) AS BIGINT) AS doc_id,
        |    CAST('0x' || substring(hex(content), 33, 8) AS BIGINT) AS w,
        |    CAST('0x' || substring(hex(content), 41, 8) AS BIGINT) AS h
        |  FROM read_blob('""".stripMargin + pngPathFor("e71") + """/*.png')),
        |dims AS (
        |  SELECT doc_id, w, h,
        |    CASE WHEN w <= 24 AND h <= 24 THEN w
        |         WHEN w >= h THEN 24 ELSE greatest(1, (w * 24) // h) END AS rw,
        |    CASE WHEN w <= 24 AND h <= 24 THEN h
        |         WHEN w >= h THEN greatest(1, (h * 24) // w) ELSE 24 END AS rh
        |  FROM f),
        |px AS (
        |  SELECT doc_id, w, h, rw, rh,
        |    SUM(((doc_id + (ty * h // rh) * 7919 + ((tx * w // rw) * 3 + c))
        |         * 1103515245 + 12345) // 65536 % 256)::BIGINT AS px_sum,
        |    COUNT(*) AS cnt
        |  FROM dims,
        |    LATERAL unnest(generate_series(0, rh - 1)) AS a(ty),
        |    LATERAL unnest(generate_series(0, rw - 1)) AS b(tx),
        |    LATERAL unnest(generate_series(0, 2)) AS cc(c)
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(rw AS INT) AS rw, CAST(rh AS INT) AS rh,
        |  px_sum, px_sum::DOUBLE / cnt AS mean_px
        |FROM px ORDER BY doc_id""".stripMargin),
    // the oracle seeks the IDENTICAL container index (big-endian reads at
    // computed offsets), reads each sampled frame's IHDR through the
    // index, and rederives that frame's pixel sum from the closed form
    // with the frame-keyed seed doc_id*100 + frame_idx
    "e72_video_frames" ->
      ("""WITH f AS (
        |  SELECT CAST(regexp_extract(filename, 'vid_(\d+)\.gvid', 1) AS BIGINT) AS doc_id,
        |    content, CAST('0x' || substring(hex(content), 9, 4) AS BIGINT) AS n_frames
        |  FROM read_blob('""".stripMargin + gvidFixturePath + """/*.gvid')
        |  WHERE substring(hex(content), 1, 8) = '47564944'),
        |sampled AS (
        |  SELECT doc_id, content, n_frames, unnest(list_distinct(
        |    [0, n_frames // 2, n_frames - 1])) AS frame_idx
        |  FROM f),
        |idx AS (
        |  SELECT doc_id, content, n_frames, frame_idx,
        |    CAST('0x' || substring(hex(content), (6 + frame_idx * 8) * 2 + 1, 8) AS BIGINT) AS off
        |  FROM sampled),
        |hdr AS (
        |  SELECT doc_id, n_frames, frame_idx,
        |    CAST('0x' || substring(hex(content), (off + 16) * 2 + 1, 8) AS BIGINT) AS w,
        |    CAST('0x' || substring(hex(content), (off + 20) * 2 + 1, 8) AS BIGINT) AS h
        |  FROM idx),
        |px AS (
        |  SELECT doc_id, n_frames, frame_idx, w, h,
        |    SUM(((doc_id * 100 + frame_idx + y * 7919 + x) * 1103515245 + 12345)
        |        // 65536 % 256)::BIGINT AS px_sum,
        |    COUNT(*) AS cnt
        |  FROM hdr,
        |    LATERAL unnest(generate_series(0, h - 1)) AS ys(y),
        |    LATERAL unnest(generate_series(0, w * 3 - 1)) AS xs(x)
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id, frame_idx::BIGINT AS frame_idx, n_frames,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  px_sum, px_sum::DOUBLE / cnt AS mean_px
        |FROM px ORDER BY doc_id, frame_idx""".stripMargin),
    // the oracle rederives the ENTIRE perceptual pipeline in closed-form
    // integer SQL — perturbed pixel stream, 9×8 NN grayscale grid, bit
    // comparisons, band buckets, XOR hamming — from the same header bytes
    "e91_image_dhash" ->
      ("""WITH f AS (
        |  SELECT CAST(regexp_extract(filename, 'png_(\d+)\.png', 1) AS BIGINT) AS doc_id,
        |    CAST('0x' || substring(hex(content), 33, 8) AS BIGINT) AS w,
        |    CAST('0x' || substring(hex(content), 41, 8) AS BIGINT) AS h
        |  FROM read_blob('""".stripMargin + pngPathFor("e91") + """/*.png')),
        |p AS (
        |  SELECT doc_id, w, h, doc_id % 1000 AS seed,
        |    CASE WHEN doc_id >= 1000 THEN 997 ELSE 0 END AS pm
        |  FROM f),
        |g AS (
        |  SELECT doc_id, ty, tx, SUM(pxv) // 3 AS gray
        |  FROM (
        |    SELECT doc_id, a.ty AS ty, b.tx AS tx,
        |      ((((seed + (a.ty * h // 8) * 7919 + ((b.tx * w // 9) * 3 + cc.c))
        |         * 1103515245 + 12345) // 65536 % 256)
        |       + CASE WHEN pm > 0 AND
        |           ((a.ty * h // 8) * (w * 3) + (b.tx * w // 9) * 3 + cc.c) % pm = 0
        |         THEN 1 ELSE 0 END) % 256 AS pxv
        |    FROM p,
        |      LATERAL unnest(generate_series(0, 7)) AS a(ty),
        |      LATERAL unnest(generate_series(0, 8)) AS b(tx),
        |      LATERAL unnest(generate_series(0, 2)) AS cc(c))
        |  GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT g1.doc_id, (g1.ty * 8 + g1.tx) AS idx,
        |    CASE WHEN g2.gray > g1.gray THEN 1 ELSE 0 END AS bit
        |  FROM g g1 JOIN g g2
        |    ON g1.doc_id = g2.doc_id AND g1.ty = g2.ty AND g2.tx = g1.tx + 1
        |  WHERE g1.tx < 8),
        |hsh AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN idx < 32 THEN bit * (1::BIGINT << idx) ELSE 0 END)::BIGINT AS hi,
        |    SUM(CASE WHEN idx >= 32 THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END)::BIGINT AS lo
        |  FROM bits GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id,
        |    unnest([0, 1, 2, 3]) AS band,
        |    unnest([hi % 65536, hi // 65536, lo % 65536, lo // 65536]) AS bkey
        |  FROM hsh),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
        |SELECT c.doc_a, c.doc_b,
        |  (bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)))::BIGINT AS hamming
        |FROM cand c
        |JOIN hsh ha ON ha.doc_id = c.doc_a
        |JOIN hsh hb ON hb.doc_id = c.doc_b
        |WHERE bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) <= 12
        |ORDER BY doc_a, doc_b""".stripMargin),
    // same shared token hash; the train gram set is DISTINCT-collapsed
    // before the anti-join, mirroring the Spark plan
    "e100_ngram_novelty" -> {
      val hs = String.format(tokenHashSql, "g")
      s"""WITH t3 AS (
         |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
         |    generate_series(1, len(string_split(text, ' ')) - 2),
         |    i -> string_split(text, ' ')[i] || ' ' ||
         |         string_split(text, ' ')[i + 1] || ' ' ||
         |         string_split(text, ' ')[i + 2]))) AS g
         |  FROM documents),
         |tr AS (SELECT DISTINCT $hs AS h FROM t3 WHERE doc_id % 10 <> 0),
         |ev AS (SELECT doc_id, lang, $hs AS h FROM t3 WHERE doc_id % 10 = 0),
         |pd AS (
         |  SELECT doc_id, lang, COUNT(*) AS n_grams,
         |    SUM(CASE WHEN tr.h IS NULL THEN 1 ELSE 0 END) AS n_novel
         |  FROM ev LEFT JOIN tr ON ev.h = tr.h GROUP BY 1, 2)
         |SELECT lang, COUNT(*)::BIGINT AS n_docs,
         |  SUM(n_grams)::BIGINT AS n_grams, SUM(n_novel)::BIGINT AS n_novel,
         |  SUM(CASE WHEN n_novel * 2 < n_grams THEN 1 ELSE 0 END)::BIGINT
         |    AS n_memorized_docs
         |FROM pd GROUP BY lang ORDER BY lang""".stripMargin
    },
    // the sup and argmax resolve on exact integers; ORDER BY diff DESC,
    // n_chars ASC picks the same row in both engines
    "e103_ks_drift" ->
      """WITH d AS (SELECT source, n_chars FROM documents
        |           WHERE source IN ('src0', 'src1')),
        |c AS (SELECT n_chars,
        |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::BIGINT AS cb
        |  FROM d GROUP BY n_chars),
        |t AS (SELECT
        |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS na,
        |    SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::BIGINT AS nb
        |  FROM d),
        |cum AS (SELECT n_chars,
        |    SUM(ca) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cuma,
        |    SUM(cb) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cumb
        |  FROM c),
        |diffs AS (SELECT n_chars, na, nb,
        |    abs(cuma * nb - cumb * na)::BIGINT AS diff
        |  FROM cum, t)
        |SELECT na, nb, n_chars AS arg_len, diff AS ks_num,
        |  (na * nb)::BIGINT AS ks_den, diff::DOUBLE / (na * nb) AS ks
        |FROM diffs ORDER BY diff DESC, n_chars ASC LIMIT 1""".stripMargin,
    // e21's closure + the shared hash of the component label; the
    // split-cluster invariant is recomputed, not assumed
    "e102_cluster_shards" -> {
      val lh = String.format(tokenHashSql, "CAST(comp AS VARCHAR)")
      s"""WITH RECURSIVE
         |$sampledBandsCte,
         |edges AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM sig
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node),
         |lab AS (SELECT node AS doc_id, MIN(label) AS comp FROM reach GROUP BY node),
         |sharded AS (
         |  SELECT d.doc_id, lab.comp, ($lh) % 8 AS shard,
         |    len(string_split(d.text, ' '))::BIGINT AS n_tok
         |  FROM documents d JOIN lab ON d.doc_id = lab.doc_id
         |  WHERE d.doc_id % 10 = 0),
         |split AS (
         |  SELECT SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END)::BIGINT AS n_split_clusters
         |  FROM (SELECT comp, COUNT(DISTINCT shard) AS ns FROM sharded GROUP BY comp))
         |SELECT shard, COUNT(*)::BIGINT AS n_docs,
         |  COUNT(DISTINCT comp)::BIGINT AS n_clusters,
         |  SUM(n_tok)::BIGINT AS n_tokens, split.n_split_clusters
         |FROM sharded, split
         |GROUP BY shard, split.n_split_clusters ORDER BY shard""".stripMargin
    },
    // e21's recursive closure reused verbatim; weights are floor(1e9/k)
    // integers so no division semantics cross the engine boundary
    "e101_dup_weights" -> {
      s"""WITH RECURSIVE
         |$sampledBandsCte,
         |edges AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM sig
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node),
         |lab AS (SELECT node AS doc_id, MIN(label) AS comp FROM reach GROUP BY node),
         |sz AS (SELECT comp, COUNT(*) AS k FROM lab GROUP BY comp)
         |SELECT d.lang, COUNT(*)::BIGINT AS n_docs,
         |  SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END)::BIGINT AS n_in_clusters,
         |  SUM(1000000000 // k)::BIGINT AS effective_docs_e9,
         |  MAX(k)::BIGINT AS max_cluster
         |FROM documents d JOIN lab ON d.doc_id = lab.doc_id JOIN sz USING (comp)
         |WHERE d.doc_id % 10 = 0
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    },
    // e72's index-seek CTEs composed with e91's closed-form hash pipeline,
    // frame-keyed seeds (vid%1000)*100 + frame_idx, per-frame perturbation
    "e99_video_neardup" -> {
      s"""WITH f AS (
         |  SELECT CAST(regexp_extract(filename, 'vid_(\\d+)\\.gvid', 1) AS BIGINT) AS vid_id,
         |    content, CAST('0x' || substring(hex(content), 9, 4) AS BIGINT) AS n_frames
         |  FROM read_blob('$gvidDupFixturePath/*.gvid')
         |  WHERE substring(hex(content), 1, 8) = '47564944'),
         |sampled AS (
         |  SELECT vid_id, content, unnest(list_distinct(
         |    [0, n_frames // 2, n_frames - 1])) AS pos_k
         |  FROM f),
         |idx AS (
         |  SELECT vid_id, content, pos_k,
         |    CAST('0x' || substring(hex(content), (6 + pos_k * 8) * 2 + 1, 8) AS BIGINT) AS off
         |  FROM sampled),
         |hdr AS (
         |  SELECT vid_id, pos_k,
         |    (vid_id % 1000) * 100 + pos_k AS seed,
         |    CASE WHEN vid_id >= 1000 THEN 997 ELSE 0 END AS pm,
         |    CAST('0x' || substring(hex(content), (off + 16) * 2 + 1, 8) AS BIGINT) AS w,
         |    CAST('0x' || substring(hex(content), (off + 20) * 2 + 1, 8) AS BIGINT) AS h
         |  FROM idx),
         |g AS (
         |  SELECT vid_id, pos_k, ty, tx, SUM(pxv) // 3 AS gray
         |  FROM (
         |    SELECT vid_id, pos_k, a.ty AS ty, b.tx AS tx,
         |      ((((seed + (a.ty * h // 8) * 7919 + ((b.tx * w // 9) * 3 + cc.c))
         |         * 1103515245 + 12345) // 65536 % 256)
         |       + CASE WHEN pm > 0 AND
         |           ((a.ty * h // 8) * (w * 3) + (b.tx * w // 9) * 3 + cc.c) % pm = 0
         |         THEN 1 ELSE 0 END) % 256 AS pxv
         |    FROM hdr,
         |      LATERAL unnest(generate_series(0, 7)) AS a(ty),
         |      LATERAL unnest(generate_series(0, 8)) AS b(tx),
         |      LATERAL unnest(generate_series(0, 2)) AS cc(c))
         |  GROUP BY 1, 2, 3, 4),
         |bits AS (
         |  SELECT g1.vid_id, g1.pos_k, (g1.ty * 8 + g1.tx) AS idx,
         |    CASE WHEN g2.gray > g1.gray THEN 1 ELSE 0 END AS bit
         |  FROM g g1 JOIN g g2 ON g1.vid_id = g2.vid_id AND g1.pos_k = g2.pos_k
         |    AND g1.ty = g2.ty AND g2.tx = g1.tx + 1
         |  WHERE g1.tx < 8),
         |hsh AS (
         |  SELECT vid_id, pos_k,
         |    SUM(CASE WHEN idx < 32 THEN bit * (1::BIGINT << idx) ELSE 0 END)::BIGINT AS hi,
         |    SUM(CASE WHEN idx >= 32 THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END)::BIGINT AS lo
         |  FROM bits GROUP BY 1, 2),
         |bands AS (
         |  SELECT vid_id, pos_k,
         |    unnest([0, 1, 2, 3]) AS band,
         |    unnest([hi % 65536, hi // 65536, lo % 65536, lo // 65536]) AS bkey
         |  FROM hsh),
         |cand AS (
         |  SELECT DISTINCT x.vid_id AS vid_a, y.vid_id AS vid_b, x.pos_k AS pos_k
         |  FROM bands x JOIN bands y ON x.pos_k = y.pos_k AND x.band = y.band
         |    AND x.bkey = y.bkey AND x.vid_id < y.vid_id),
         |hm AS (
         |  SELECT c.vid_a, c.vid_b,
         |    bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) AS hm
         |  FROM cand c
         |  JOIN hsh ha ON ha.vid_id = c.vid_a AND ha.pos_k = c.pos_k
         |  JOIN hsh hb ON hb.vid_id = c.vid_b AND hb.pos_k = c.pos_k
         |  WHERE bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) <= 3)
         |SELECT vid_a, vid_b, COUNT(*)::BIGINT AS n_pos_matched,
         |  MAX(hm)::BIGINT AS max_hamming
         |FROM hm GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY vid_a, vid_b""".stripMargin
    },
    // identical canonicalization chain in DuckDB's RE2 — lower, query/
    // fragment strip via the path capture, default-port strip, trailing
    // slash strip
    "e98_url_canonical" ->
      """WITH txt AS (SELECT doc_id, text ||
        |    ' HTTPS://WWW.Site' || (doc_id % 20) || '.Example' || (doc_id % 3) ||
        |    '.COM:443/p/' || (doc_id % 7) ||
        |    '/ and https://www.site' || (doc_id % 20) || '.example' || (doc_id % 3) ||
        |    '.com/p/' || (doc_id % 7) || '?utm_source=feed&ref=' || doc_id ||
        |    '#sec and http://cdn' || (doc_id % 5) || '.assets-net.io/f/' ||
        |    (doc_id % 100) AS s
        |  FROM documents),
        |u AS (SELECT doc_id,
        |    unnest(regexp_extract_all(s, '(?i)https?://[^ ]+', 0)) AS url
        |  FROM txt),
        |c AS (SELECT doc_id,
        |    regexp_replace(regexp_extract(lower(url), '^[a-z]+://([^/?#]+)', 1),
        |      ':(443|80)$', '') AS host,
        |    regexp_extract(lower(url), '^[a-z]+://[^/?#]+([^?#]*)', 1) AS p
        |  FROM u),
        |k AS (SELECT doc_id,
        |    host || CASE WHEN rtrim(p, '/') = '' THEN '/' ELSE rtrim(p, '/') END AS canon,
        |    regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM c),
        |g AS (SELECT domain, canon, COUNT(*) AS n_raw,
        |    COUNT(DISTINCT doc_id) AS n_docs
        |  FROM k GROUP BY 1, 2)
        |SELECT domain, SUM(n_raw)::BIGINT AS n_urls,
        |  COUNT(*)::BIGINT AS n_canonical,
        |  SUM(CASE WHEN n_raw > 1 THEN 1 ELSE 0 END)::BIGINT AS n_collapsed,
        |  SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_crossdoc
        |FROM g GROUP BY domain ORDER BY domain""".stripMargin,
    // the fold order is pinned by (epoch ns, unique event_id) and every
    // (acc+x)/2 step is the identical IEEE op — bit-exact doubles with no
    // rounding
    "e96_ewma" ->
      """WITH g AS (
        |  SELECT user_id, count(*)::BIGINT AS n_events,
        |    list(value ORDER BY epoch_ns(ts), event_id) AS vs
        |  FROM events WHERE user_id < 40 GROUP BY user_id),
        |e AS (
        |  SELECT user_id, n_events,
        |    list_reduce(list_prepend(0.0::DOUBLE, vs),
        |      (acc, x) -> (acc + x) / 2.0::DOUBLE) AS ewma,
        |    vs[-1] AS last_value
        |  FROM g)
        |SELECT user_id, n_events, ewma, last_value,
        |  last_value > ewma * 2 AS is_spike
        |FROM e ORDER BY user_id""".stripMargin,
    // ln (natural log — DuckDB's log is base 10); shares as exact BIGINT
    // parts-per-billion (integer floor div), floats derived from those
    // integers by single IEEE ops, libm output rounded at 6 — mirrors the
    // Spark side's engine-invariance discipline exactly
    "e97_psi_drift" ->
      """WITH bounds AS (
        |  SELECT (MIN(epoch_ns(ts)) + MAX(epoch_ns(ts))) // 2 AS tmid FROM events),
        |c AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN epoch_ns(ts) <= tmid THEN 1 ELSE 0 END)::BIGINT AS a,
        |    SUM(CASE WHEN epoch_ns(ts) <= tmid THEN 0 ELSE 1 END)::BIGINT AS b
        |  FROM events, bounds GROUP BY event_type),
        |t AS (SELECT SUM(a)::BIGINT AS ta, SUM(b)::BIGINT AS tb, COUNT(*) AS k FROM c),
        |terms AS (
        |  SELECT event_type, a AS n_ref, b AS n_cur,
        |    GREATEST((a + 1) * 1000000000 // (ta + k), 1) AS p_ppb,
        |    GREATEST((b + 1) * 1000000000 // (tb + k), 1) AS q_ppb
        |  FROM c, t),
        |tt AS (
        |  SELECT event_type, n_ref, n_cur,
        |    p_ppb::DOUBLE / 1000000000.0 AS p_share,
        |    q_ppb::DOUBLE / 1000000000.0 AS q_share,
        |    CAST(round((p_ppb - q_ppb)::DOUBLE / 1000000000.0
        |      * (ln(p_ppb::DOUBLE) - ln(q_ppb::DOUBLE)), 6) AS DECIMAL(18,6)) AS psi_term
        |  FROM terms)
        |SELECT event_type, n_ref, n_cur, p_share, q_share,
        |  psi_term::DOUBLE AS psi_term,
        |  (SELECT CAST(SUM(psi_term) AS DECIMAL(28,6)) FROM tt)::DOUBLE AS psi_total
        |FROM tt ORDER BY event_type""".stripMargin,
    // the oracle re-derives the component closure (e21/e73's recursive
    // CTE), splits each node by the same doc_id hash, and folds the
    // per-cluster distinct split list into the set string
    "e104_split_leak_clusters" -> {
      val hid = String.format(tokenHashSql, "node::VARCHAR")
      s"""WITH RECURSIVE
         |$sampledBandsCte,
         |edges AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM sig
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node),
         |comp AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
         |sp AS (SELECT node, label,
         |         CASE WHEN $hid % 100 < 80 THEN 'train'
         |              WHEN $hid % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM comp),
         |ls AS (SELECT DISTINCT label, split FROM sp),
         |sets AS (SELECT label, string_agg(split, '+' ORDER BY split) AS split_set
         |         FROM ls GROUP BY label),
         |sizes AS (SELECT label, COUNT(*) AS nd FROM sp GROUP BY label)
         |SELECT split_set, COUNT(*) AS n_clusters, SUM(nd)::BIGINT AS n_docs
         |FROM sets JOIN sizes USING (label)
         |GROUP BY split_set ORDER BY split_set""".stripMargin
    },
    // Identical pipeline in SQL: full-corpus 3-gram md5-hashed shingles,
    // inverted-index co-shingle pairs, exact shingle-Jaccard ≥ 0.5
    // verify as the edge set, closure over VERIFIED edges only, then
    // the split hashes the COMPONENT LABEL: volumes per split plus the
    // computed-not-asserted cross-split verified-pair count
    // (constructively zero)
    "e113_leakage_safe_split" -> {
      val hg = String.format(tokenHashSql,
        "w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]")
      val hid = String.format(tokenHashSql, "comp::VARCHAR")
      s"""WITH RECURSIVE
         |tk AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id,
         |         unnest(list_distinct([$hg FOR i IN range(1, len(w) - 1)])) AS g
         |       FROM tk WHERE len(w) >= 3),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |shared AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
         |           FROM sh x JOIN sh y
         |             ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |nd AS (SELECT a, b FROM shared
         |       JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
         |       WHERE nc::DOUBLE / (sa.n + sb.n - nc) >= 0.5),
         |und AS (SELECT a, b FROM nd UNION ALL SELECT b, a FROM nd),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM documents
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node),
         |cc AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node),
         |sp AS (SELECT node, comp,
         |         CASE WHEN $hid % 100 < 80 THEN 'train'
         |              WHEN $hid % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM cc),
         |vol AS (SELECT split, COUNT(*) AS n_docs,
         |          COUNT(DISTINCT comp) AS n_clusters
         |        FROM sp GROUP BY split),
         |leak AS (SELECT LEAST(pa.split, pb.split) AS split, COUNT(*) AS n_leak
         |         FROM nd e
         |         JOIN sp pa ON pa.node = e.a JOIN sp pb ON pb.node = e.b
         |         WHERE pa.split <> pb.split GROUP BY 1)
         |SELECT v.split, v.n_docs::BIGINT AS n_docs,
         |  v.n_clusters::BIGINT AS n_clusters,
         |  COALESCE(l.n_leak, 0)::BIGINT AS n_leak_pairs
         |FROM vol v LEFT JOIN leak l USING (split)
         |ORDER BY v.split""".stripMargin
    },
    // e113's LSH-candidate production twin: the oracle recomputes the
    // IDENTICAL banded candidate set (8 minhash permutations over the
    // shingle hashes, 2x4 banding), verifies exactly on surfaced pairs,
    // and runs the same closure/split/leak tail — where banding misses a
    // true pair, both engines miss it identically
    "e113b_leakage_split_lsh" -> {
      val hg = String.format(tokenHashSql,
        "w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]")
      val hid = String.format(tokenHashSql, "comp::VARCHAR")
      s"""WITH RECURSIVE
         |tk AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id,
         |         unnest(list_distinct([$hg FOR i IN range(1, len(w) - 1)])) AS g
         |       FROM tk WHERE len(w) >= 3),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |${sigCte("sh", "g")},
         |${bandsCte("bands")},
         |hot AS (SELECT band, bucket FROM bands
         |        GROUP BY band, bucket HAVING COUNT(*) > 128),
         |kept AS (SELECT bands.* FROM bands ANTI JOIN hot USING (band, bucket)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM kept x JOIN kept y
         |           ON x.band = y.band AND x.bucket = y.bucket
         |              AND x.doc_id < y.doc_id),
         |shared AS (SELECT c.a, c.b, COUNT(*) AS nc
         |           FROM cand c
         |           JOIN sh x ON x.doc_id = c.a
         |           JOIN sh y ON y.doc_id = c.b AND y.g = x.g
         |           GROUP BY 1, 2),
         |nd AS (SELECT a, b FROM shared
         |       JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
         |       WHERE nc::DOUBLE / (sa.n + sb.n - nc) >= 0.5),
         |und AS (SELECT a, b FROM nd UNION ALL SELECT b, a FROM nd),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM documents
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node),
         |cc AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node),
         |sp AS (SELECT node, comp,
         |         CASE WHEN $hid % 100 < 80 THEN 'train'
         |              WHEN $hid % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM cc),
         |vol AS (SELECT split, COUNT(*) AS n_docs,
         |          COUNT(DISTINCT comp) AS n_clusters
         |        FROM sp GROUP BY split),
         |leak AS (SELECT LEAST(pa.split, pb.split) AS split, COUNT(*) AS n_leak
         |         FROM nd e
         |         JOIN sp pa ON pa.node = e.a JOIN sp pb ON pb.node = e.b
         |         WHERE pa.split <> pb.split GROUP BY 1)
         |SELECT v.split, v.n_docs::BIGINT AS n_docs,
         |  v.n_clusters::BIGINT AS n_clusters,
         |  COALESCE(l.n_leak, 0)::BIGINT AS n_leak_pairs
         |FROM vol v LEFT JOIN leak l USING (split)
         |ORDER BY v.split""".stripMargin
    },
    // the recall audit recomputes BOTH edge stages (exact postings join
    // and the capped banded candidates), closes over the LSH edges, and
    // counts exact edges crossing the LSH-derived split
    "e113c_lsh_recall" -> {
      val hg = String.format(tokenHashSql,
        "w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]")
      val hid = String.format(tokenHashSql, "comp::VARCHAR")
      s"""WITH RECURSIVE
         |tk AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id,
         |         unnest(list_distinct([$hg FOR i IN range(1, len(w) - 1)])) AS g
         |       FROM tk WHERE len(w) >= 3),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |shared_e AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
         |             FROM sh x JOIN sh y
         |               ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |nd_e AS (SELECT a, b FROM shared_e
         |         JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
         |         WHERE nc::DOUBLE / (sa.n + sb.n - nc) >= 0.5),
         |${sigCte("sh", "g")},
         |${bandsCte("bands")},
         |hot AS (SELECT band, bucket FROM bands
         |        GROUP BY band, bucket HAVING COUNT(*) > 128),
         |kept AS (SELECT bands.* FROM bands ANTI JOIN hot USING (band, bucket)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM kept x JOIN kept y
         |           ON x.band = y.band AND x.bucket = y.bucket
         |              AND x.doc_id < y.doc_id),
         |shared_l AS (SELECT c.a, c.b, COUNT(*) AS nc
         |             FROM cand c
         |             JOIN sh x ON x.doc_id = c.a
         |             JOIN sh y ON y.doc_id = c.b AND y.g = x.g
         |             GROUP BY 1, 2),
         |nd_l AS (SELECT a, b FROM shared_l
         |         JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
         |         WHERE nc::DOUBLE / (sa.n + sb.n - nc) >= 0.5),
         |und AS (SELECT a, b FROM nd_l UNION ALL SELECT b, a FROM nd_l),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM documents
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node),
         |cc AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node),
         |sp AS (SELECT node, comp,
         |         CASE WHEN $hid % 100 < 80 THEN 'train'
         |              WHEN $hid % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM cc),
         |leaks AS (SELECT COUNT(*) AS n_true_leak_pairs
         |          FROM nd_e e
         |          JOIN sp pa ON pa.node = e.a JOIN sp pb ON pb.node = e.b
         |          WHERE pa.split <> pb.split)
         |SELECT (SELECT COUNT(*) FROM nd_e)::BIGINT AS n_exact_pairs,
         |  (SELECT COUNT(*) FROM nd_l)::BIGINT AS n_lsh_pairs,
         |  ROUND((SELECT COUNT(*) FROM nd_l)::DOUBLE
         |    / (SELECT COUNT(*) FROM nd_e), 6) AS recall,
         |  n_true_leak_pairs::BIGINT AS n_true_leak_pairs
         |FROM leaks""".stripMargin
    },
    // identical pipeline in SQL: NTILE deciles over doc_id order, types
    // assigned to their first-seen doc's decile, both running sums
    // windowed over the 10-row frame, one rounded division
    "e115_heaps_curve" ->
      """WITH dd AS (SELECT doc_id,
        |    CAST(NTILE(10) OVER (ORDER BY doc_id) AS INT) AS decile
        |  FROM documents),
        |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tkf AS (SELECT doc_id, t FROM tk WHERE t <> ''),
        |pd AS (SELECT doc_id, COUNT(*) AS nt FROM tkf GROUP BY doc_id),
        |tbd AS (SELECT decile, SUM(COALESCE(nt, 0)) AS toks, COUNT(*) AS docs
        |        FROM dd LEFT JOIN pd USING (doc_id) GROUP BY decile),
        |fs AS (SELECT t, MIN(doc_id) AS doc_id FROM tkf GROUP BY t),
        |vbd AS (SELECT decile, COUNT(*) AS types
        |        FROM fs JOIN dd USING (doc_id) GROUP BY decile),
        |c AS (SELECT tbd.decile,
        |        SUM(docs) OVER w AS cum_docs,
        |        SUM(toks) OVER w AS cum_tokens,
        |        SUM(COALESCE(types, 0)) OVER w AS cum_vocab
        |      FROM tbd LEFT JOIN vbd USING (decile)
        |      WINDOW w AS (ORDER BY tbd.decile
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT decile, cum_docs::BIGINT AS cum_docs,
        |  cum_tokens::BIGINT AS cum_tokens, cum_vocab::BIGINT AS cum_vocab,
        |  round(cum_vocab::DOUBLE / cum_tokens::DOUBLE, 6) AS type_token_ratio
        |FROM c ORDER BY decile""".stripMargin,
    // NTILE is rank-based (SQL standard: larger groups first), so the
    // binning is exact on both engines; the decile casts to INT to match
    // Spark's ntile type
    "e105_quality_deciles" ->
      """WITH f AS (SELECT doc_id, len(string_split(text,' ')) AS n,
        |    len(list_distinct(string_split(text,' ')))::DOUBLE
        |      / len(string_split(text,' ')) AS ttr,
        |    len(list_filter(string_split(text,' '), t -> t = 'the' OR t = 'a'))::DOUBLE
        |      / len(string_split(text,' ')) AS stop_ratio
        |  FROM documents),
        |sc AS (SELECT doc_id, n::BIGINT AS n_tok,
        |    -1.5 + 2.0 * ttr + 0.01 * least(n::DOUBLE, 100.0)
        |      + 3.0 * stop_ratio AS score
        |  FROM f),
        |t AS (SELECT *, CAST(NTILE(10) OVER (ORDER BY score ASC, doc_id ASC) AS INT)
        |        AS decile FROM sc)
        |SELECT decile, count(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
        |  MIN(score) AS min_score, MAX(score) AS max_score
        |FROM t GROUP BY decile ORDER BY decile""".stripMargin,
    // e105b is e105's windowless production form: SAME artifact, same
    // oracle — the scalable path earns the identical bit-exact gate
    "e105b_quality_deciles_scalable" ->
      """WITH f AS (SELECT doc_id, len(string_split(text,' ')) AS n,
        |    len(list_distinct(string_split(text,' ')))::DOUBLE
        |      / len(string_split(text,' ')) AS ttr,
        |    len(list_filter(string_split(text,' '), t -> t = 'the' OR t = 'a'))::DOUBLE
        |      / len(string_split(text,' ')) AS stop_ratio
        |  FROM documents),
        |sc AS (SELECT doc_id, n::BIGINT AS n_tok,
        |    -1.5 + 2.0 * ttr + 0.01 * least(n::DOUBLE, 100.0)
        |      + 3.0 * stop_ratio AS score
        |  FROM f),
        |t AS (SELECT *, CAST(NTILE(10) OVER (ORDER BY score ASC, doc_id ASC) AS INT)
        |        AS decile FROM sc)
        |SELECT decile, count(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
        |  MIN(score) AS min_score, MAX(score) AS max_score
        |FROM t GROUP BY decile ORDER BY decile""".stripMargin,
    // same integer quantization + integer threshold test as the Spark
    // side; the report cosine is the only float and rounds at 6
    "e106_semantic_decontam" ->
      """WITH q AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(x::DOUBLE * 100) AS BIGINT)) AS q
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, q,
        |    list_reduce(list_prepend(0::BIGINT, list_transform(q, v -> v * v)),
        |      (a, x) -> a + x) AS n2
        |  FROM q),
        |ev AS (SELECT q AS qe, n2 AS n2e FROM n WHERE vec_id % 97 = 0),
        |tr AS (SELECT * FROM n WHERE vec_id % 97 <> 0),
        |pairs AS (
        |  SELECT t.vec_id, t.label,
        |    -- series tracks the DATA's dimension, not a fixture constant
        |    -- (a truncated vector must fail loudly, not dot partially)
        |    CASE WHEN len(t.q) = len(e.qe) THEN
        |      list_reduce(list_prepend(0::BIGINT,
        |        list_transform(generate_series(1, len(t.q)), i -> t.q[i] * e.qe[i])),
        |        (a, x) -> a + x)
        |    ELSE error('e106: train/eval embedding dims differ') END AS dot,
        |    t.n2 AS n2t, e.n2e
        |  FROM tr t CROSS JOIN ev e),
        |scp AS (SELECT vec_id, label,
        |    dot > 0 AND dot * dot * 10000 >= 625 * n2t * n2e AS hit,
        |    CASE WHEN n2t > 0 AND n2e > 0
        |      THEN dot::DOUBLE / (sqrt(n2t::DOUBLE) * sqrt(n2e::DOUBLE)) END AS cs
        |  FROM pairs),
        |per AS (SELECT vec_id, label,
        |    MAX(CASE WHEN hit THEN 1 ELSE 0 END) AS c, MAX(cs) AS m
        |  FROM scp GROUP BY vec_id, label)
        |SELECT label, count(*) AS n_train, SUM(c)::BIGINT AS n_contaminated,
        |  round(MAX(m), 6) AS max_cos
        |FROM per GROUP BY label ORDER BY label""".stripMargin,
    // the oracle re-classifies the IDENTICAL bytes by the same magic
    // prefixes the Spark column predicates read
    "e94_format_detect" -> {
      s"""WITH f AS (
         |  SELECT content, octet_length(content) AS n_bytes
         |  FROM read_blob('$mixedFixturePath/*')),
         |k AS (
         |  SELECT CASE
         |    WHEN substring(hex(content), 1, 16) = '89504E470D0A1A0A' THEN 'png'
         |    WHEN substring(hex(content), 1, 4) = 'FFD8' THEN 'jpeg'
         |    WHEN substring(hex(content), 1, 8) = '52494646'
         |      AND substring(hex(content), 17, 8) = '57415645' THEN 'wav'
         |    WHEN substring(hex(content), 1, 8) = '47564944' THEN 'video'
         |    ELSE 'opaque' END AS kind, n_bytes
         |  FROM f)
         |SELECT kind, count(*) AS n_files, SUM(n_bytes)::BIGINT AS total_bytes,
         |  MIN(n_bytes)::BIGINT AS min_bytes, MAX(n_bytes)::BIGINT AS max_bytes
         |FROM k GROUP BY kind ORDER BY kind""".stripMargin
    },
    // the oracle rederives every channel's exact integer moments from the
    // closed-form pixel stream (channel = byte index mod 3)
    "e95_channel_stats" ->
      ("""WITH f AS (
        |  SELECT CAST(regexp_extract(filename, 'png_(\d+)\.png', 1) AS BIGINT) AS doc_id,
        |    CAST('0x' || substring(hex(content), 33, 8) AS BIGINT) AS w,
        |    CAST('0x' || substring(hex(content), 41, 8) AS BIGINT) AS h
        |  FROM read_blob('""".stripMargin + pngPathFor("e95") + """/*.png')),
        |px AS (
        |  SELECT x % 3 AS c,
        |    ((doc_id + y * 7919 + x) * 1103515245 + 12345) // 65536 % 256 AS v
        |  FROM f,
        |    LATERAL unnest(generate_series(0, h - 1)) AS ys(y),
        |    LATERAL unnest(generate_series(0, w * 3 - 1)) AS xs(x)),
        |agg AS (
        |  SELECT CASE c WHEN 0 THEN 'r' WHEN 1 THEN 'g' ELSE 'b' END AS channel,
        |    count(*) AS n_px, SUM(v)::BIGINT AS sum_v, SUM(v * v)::BIGINT AS sum_sq,
        |    MIN(v)::BIGINT AS min_v, MAX(v)::BIGINT AS max_v
        |  FROM px GROUP BY 1)
        |SELECT channel, n_px, sum_v, sum_sq, min_v, max_v,
        |  (n_px * sum_sq - sum_v * sum_v)::BIGINT AS var_num,
        |  sum_v::DOUBLE / n_px AS mean_v
        |FROM agg ORDER BY channel""".stripMargin),
    // codepoint-exact class counts via regexp erasure ('g' = replace ALL,
    // Spark's default); the injected suffixes must stay byte-identical
    // with the Spark literals
    "e92_script_mix" ->
      """WITH t AS (SELECT lang,
        |  text || CASE doc_id % 4
        |    WHEN 0 THEN ' привет мир' WHEN 1 THEN ' 你好世界'
        |    WHEN 2 THEN ' café résumé' ELSE '' END AS s
        |  FROM documents),
        |c AS (SELECT lang,
        |  length(s) - length(regexp_replace(s, '[a-zA-Z]', '', 'g')) AS lat,
        |  length(s) - length(regexp_replace(s, '[\x{0400}-\x{04FF}]', '', 'g')) AS cyr,
        |  length(s) - length(regexp_replace(s, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS cjk,
        |  length(s) - length(regexp_replace(s, '[\x{00C0}-\x{00FF}]', '', 'g')) AS acc,
        |  length(regexp_replace(s, '[\x{0000}-\x{007F}]', '', 'g')) AS nonascii
        |  FROM t)
        |SELECT lang,
        |  CASE WHEN cyr > 0 THEN 'cyrillic' WHEN cjk > 0 THEN 'cjk'
        |       WHEN acc > 0 THEN 'accented' ELSE 'ascii' END AS script_class,
        |  count(*) AS n_docs, SUM(lat)::BIGINT AS n_latin,
        |  SUM(cyr)::BIGINT AS n_cyr, SUM(cjk)::BIGINT AS n_cjk,
        |  SUM(acc)::BIGINT AS n_accented, SUM(nonascii)::BIGINT AS n_nonascii
        |FROM c GROUP BY 1, 2 ORDER BY lang, script_class""".stripMargin,
    "e24_lexicon_scrub" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
        |k AS (SELECT doc_id, lang, tk,
        |  list_filter(tk, x -> x NOT IN ('slow', 'error', 'batch')) AS kept FROM t)
        |SELECT doc_id, lang, len(tk) - len(kept) AS n_scrubbed,
        |  md5(array_to_string(kept, ' ')) AS scrubbed_md5
        |FROM k ORDER BY doc_id""".stripMargin,
    "e22_split_assign" ->
      s"""WITH s AS (SELECT lang,
         |  ${String.format(tokenHashSql, "CAST(doc_id AS VARCHAR)")} % 100 AS b
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |  COUNT(*) AS n
         |FROM s GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "e69_source_overlap" -> {
      s"""WITH $sampledBandsCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
         |SELECT least(a.source, b.source) AS src_a,
         |  greatest(a.source, b.source) AS src_b,
         |  COUNT(*) AS n_candidate_pairs
         |FROM cand JOIN documents a ON cand.d1 = a.doc_id
         |          JOIN documents b ON cand.d2 = b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "e67_pii_redact" ->
      """WITH a AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com from 10.0.' ||
        |    (doc_id % 256) || '.7 tel +1-555-' || printf('%04d', doc_id % 10000) AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(txt, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::INT AS n_email,
        |  len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INT AS n_ip,
        |  len(regexp_extract_all(txt, '\+1-555-\d{4}'))::INT AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(txt,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+1-555-\d{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM a ORDER BY doc_id""".stripMargin,
    "e68_sequence_pack" -> {
      val th = String.format(tokenHashSql, "CAST(doc_id AS VARCHAR)")
      s"""WITH dd AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
         |    ($th) % 8 AS shard, $th AS ord FROM documents),
         |p AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY ord, doc_id)::BIGINT AS end_tok FROM dd)
         |SELECT shard, count(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
         |  ((max(end_tok) + 511) // 512)::BIGINT AS n_sequences,
         |  SUM(CASE WHEN (end_tok - n_tok) // 512 <> (end_tok - 1) // 512 THEN 1 ELSE 0 END)::BIGINT AS n_split_docs,
         |  (max(end_tok) - ((max(end_tok) + 511) // 512 - 1) * 512)::BIGINT AS last_fill
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin
    },
    "e26_kmv_cardinality" -> kmvSql,
    "e26b_kmv_native" -> kmvSql,
    "e27_ts_similarity" -> tsSimSql,
    "e29_decontamination" ->
      """WITH tg AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |      i -> CAST(concat('0x', substring(md5(string_split(text,' ')[i] || ' ' ||
        |             string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]), 1, 8)) AS BIGINT))) AS gs
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |ev AS (SELECT DISTINCT unnest(gs) AS g FROM tg WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id, unnest(gs) AS g FROM tg WHERE doc_id % 97 <> 0),
        |hits AS (SELECT doc_id, COUNT(*)::BIGINT AS n_hits
        |         FROM tr JOIN ev USING (g) GROUP BY doc_id),
        |sz AS (SELECT doc_id, len(gs)::BIGINT AS n_grams FROM tg)
        |SELECT h.doc_id, n_hits, n_grams, n_hits::DOUBLE / n_grams AS contamination
        |FROM hits h JOIN sz USING (doc_id) ORDER BY doc_id""".stripMargin,
    "e32_decontam_scrub" ->
      """WITH tg AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |      i -> CAST(concat('0x', substring(md5(string_split(text,' ')[i] || ' ' ||
        |             string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]), 1, 8)) AS BIGINT))) AS gs
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |ev AS (SELECT DISTINCT unnest(gs) AS g FROM tg WHERE doc_id % 97 = 0),
        |bad AS (SELECT DISTINCT doc_id FROM
        |          (SELECT doc_id, unnest(gs) AS g FROM tg WHERE doc_id % 97 <> 0) t
        |        JOIN ev USING (g)),
        |train AS (SELECT doc_id, lang FROM documents WHERE doc_id % 97 <> 0),
        |kept AS (SELECT lang, COUNT(*)::BIGINT AS n_kept FROM train
        |         WHERE doc_id NOT IN (SELECT doc_id FROM bad) GROUP BY lang)
        |SELECT t.lang, COUNT(*)::BIGINT AS n_train,
        |  COALESCE(ANY_VALUE(k.n_kept), 0)::BIGINT AS n_kept,
        |  (COUNT(*) - COALESCE(ANY_VALUE(k.n_kept), 0))::BIGINT AS n_removed
        |FROM train t LEFT JOIN kept k ON t.lang = k.lang
        |GROUP BY t.lang ORDER BY t.lang""".stripMargin,
    "e33_quality_classifier" ->
      """WITH f AS (SELECT doc_id, lang,
        |    len(string_split(text,' ')) AS n,
        |    len(list_distinct(string_split(text,' ')))::DOUBLE / len(string_split(text,' ')) AS ttr,
        |    len(list_filter(string_split(text,' '), t -> t = 'the' OR t = 'a'))::DOUBLE
        |      / len(string_split(text,' ')) AS stop_ratio
        |  FROM documents)
        |SELECT doc_id, lang,
        |  -1.5 + 2.0 * ttr + 0.01 * least(n::DOUBLE, 100.0) + 3.0 * stop_ratio AS logit,
        |  (-1.5 + 2.0 * ttr + 0.01 * least(n::DOUBLE, 100.0) + 3.0 * stop_ratio) > 0.5 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "e34_token_budget_mix" ->
      """WITH t AS (SELECT doc_id, lang,
        |    len(string_split(text,' '))::BIGINT AS n_tok,
        |    CAST(concat('0x', substring(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT) AS h
        |  FROM documents),
        |c AS (SELECT *, (SUM(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_tok FROM t)
        |SELECT lang, doc_id, n_tok, cum_tok FROM c
        |WHERE cum_tok - n_tok < 2000 ORDER BY lang, cum_tok, doc_id""".stripMargin,
    "e35_oov_rate" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
        |vocab AS (SELECT t AS vt FROM (
        |    SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY t)
        |  ORDER BY df DESC, t ASC LIMIT 100)
        |SELECT doc_id, count(*)::BIGINT AS n_tok,
        |  (count(*) FILTER (WHERE vt IS NULL))::BIGINT AS n_oov,
        |  (count(*) FILTER (WHERE vt IS NULL))::DOUBLE / count(*) AS oov_rate
        |FROM tok LEFT JOIN vocab ON t = vt
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e36_weighted_sample" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(concat('0x', substring(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT)::DOUBLE
        |    / n_chars AS priority
        |FROM documents ORDER BY priority ASC, doc_id ASC LIMIT 25""".stripMargin,
    "e38_domain_mix" ->
      """WITH t AS (SELECT source, lang,
        |    len(string_split(text,' '))::BIGINT AS n_tok FROM documents),
        |a AS (SELECT source, lang, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tok
        |  FROM t GROUP BY source, lang),
        |tot AS (SELECT SUM(n_tok)::BIGINT AS tot FROM a)
        |SELECT source, lang, n_docs, n_tok, n_tok::DOUBLE / tot AS share
        |FROM a, tot ORDER BY source, lang""".stripMargin,
    "e39_dup_spans" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |ok AS (SELECT * FROM tok WHERE len(ts) >= 8),
        |spans AS (SELECT doc_id, array_to_string(ts[i.i : i.i + 7], ' ') AS span
        |          FROM ok, UNNEST(generate_series(1, len(ts) - 7)) AS i(i))
        |SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occur
        |FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, n_occur DESC, span LIMIT 20""".stripMargin,
    "e40_bm25" ->
      s"""WITH $bm25ScoresSql
         |SELECT doc_id, score FROM bm25
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "e41_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |ok AS (SELECT * FROM tok WHERE len(ts) >= 2),
        |bg AS (SELECT doc_id, ts[i.i] AS w1, ts[i.i] || ' ' || ts[i.i + 1] AS bg
        |       FROM ok, UNNEST(generate_series(1, len(ts) - 1)) AS i(i)),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |lp AS (SELECT b.doc_id, CAST(ln(c2.c2::DOUBLE / c1.c1) AS DECIMAL(28,12)) AS lp
        |       FROM bg b JOIN c2 USING (bg) JOIN c1 USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_lp
        |FROM lp GROUP BY doc_id ORDER BY avg_lp ASC, doc_id LIMIT 25""".stripMargin,
    "e42_dup_coverage" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |ok AS (SELECT * FROM tok WHERE len(ts) >= 8),
        |spans AS (SELECT doc_id, i.i AS p, array_to_string(ts[i.i : i.i + 7], ' ') AS span
        |          FROM ok, UNNEST(generate_series(1, len(ts) - 7)) AS i(i)),
        |dup AS (SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        |surv AS (SELECT doc_id, p FROM spans JOIN dup USING (span)),
        |iv AS (SELECT doc_id, p,
        |         max(p) OVER (PARTITION BY doc_id ORDER BY p
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_p
        |       FROM surv),
        |cov AS (SELECT doc_id,
        |         SUM(CASE WHEN prev_p IS NULL THEN 8
        |                  ELSE least(8, p - prev_p) END)::BIGINT AS n_cov
        |       FROM iv GROUP BY doc_id)
        |SELECT ok.doc_id, len(ok.ts)::BIGINT AS n_tok,
        |  coalesce(cov.n_cov, 0)::BIGINT AS n_cov,
        |  round(coalesce(cov.n_cov, 0)::DOUBLE / len(ok.ts), 6) AS dup_frac
        |FROM ok LEFT JOIN cov USING (doc_id)
        |ORDER BY dup_frac DESC, doc_id LIMIT 25""".stripMargin,
    "e45_split_leakage" -> {
      def splitOf(c: String) =
        s"""CASE WHEN ${String.format(tokenHashSql, s"CAST($c AS VARCHAR)")} % 100 < 80 THEN 'train'
           |     WHEN ${String.format(tokenHashSql, s"CAST($c AS VARCHAR)")} % 100 < 90 THEN 'val'
           |     ELSE 'test' END""".stripMargin
      s"""WITH $sampledBandsCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
         |         FROM documents WHERE doc_id % 10 = 0),
         |nd AS (SELECT d1, d2 FROM cand
         |       JOIN sets a ON d1 = a.doc_id JOIN sets b ON d2 = b.doc_id
         |       WHERE len(list_intersect(a.tk, b.tk))::DOUBLE
         |         / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= 0.5),
         |lab AS (SELECT least(${splitOf("d1")}, ${splitOf("d2")}) AS split_a,
         |               greatest(${splitOf("d1")}, ${splitOf("d2")}) AS split_b
         |        FROM nd)
         |SELECT split_a, split_b, COUNT(*) AS n_neardup_pairs,
         |  split_a <> split_b AS leaks
         |FROM lab GROUP BY split_a, split_b ORDER BY split_a, split_b""".stripMargin
    },
    "e44_keywords" ->
      """WITH tf AS (SELECT doc_id, t, count(*) AS tf
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |                  FROM documents)
        |            GROUP BY doc_id, t),
        |dfc AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.t,
        |         round(tf.tf * ln(n.n_docs::DOUBLE / dfc.df), 6) AS score
        |       FROM tf JOIN dfc USING (t) CROSS JOIN n),
        |r AS (SELECT doc_id, t, score,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id
        |                           ORDER BY score DESC, t ASC) AS rank
        |      FROM sc)
        |SELECT doc_id, rank::INT AS rank, t AS term, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "e53_zipf_slope" ->
      """WITH tf AS (SELECT t, count(*) AS f
        |            FROM (SELECT unnest(string_split(text, ' ')) AS t
        |                  FROM documents) GROUP BY t),
        |top AS (SELECT ln(rank::DOUBLE) AS x, ln(f::DOUBLE) AS y FROM (
        |          SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, t ASC) AS rank
        |          FROM tf) WHERE rank <= 50),
        |s AS (SELECT count(*) AS n,
        |        sum(CAST(x AS DECIMAL(28,12))) AS sx,
        |        sum(CAST(y AS DECIMAL(28,12))) AS sy,
        |        sum(CAST(x * x AS DECIMAL(28,12))) AS sxx,
        |        sum(CAST(x * y AS DECIMAL(28,12))) AS sxy
        |      FROM top)
        |SELECT n, round((n * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |  / (n * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6) AS zipf_slope
        |FROM s""".stripMargin,
    "e52_yield_funnel" ->
      """WITH base AS (SELECT doc_id, lower(trim(text)) AS lt,
        |         len(string_split(text, ' ')) AS n_tok,
        |         len(list_distinct(string_split(text, ' ')))::DOUBLE
        |           / len(string_split(text, ' ')) AS ttr
        |       FROM documents),
        |q AS (SELECT * FROM base WHERE n_tok >= 20 AND ttr >= 0.3),
        |dd AS (SELECT * FROM (
        |         SELECT *, ROW_NUMBER() OVER (
        |           PARTITION BY md5(array_to_string((string_split(lt, ' '))[1:10], ' '))
        |           ORDER BY doc_id) AS rn FROM q) WHERE rn = 1)
        |SELECT '1_raw' AS stage, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens FROM base
        |UNION ALL SELECT '2_quality', count(*), sum(n_tok)::BIGINT FROM q
        |UNION ALL SELECT '3_exact_dedup', count(*), sum(n_tok)::BIGINT FROM dd
        |ORDER BY stage""".stripMargin,
    "e51_robust_outliers" ->
      """WITH med AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
        |             FROM documents GROUP BY lang),
        |dev AS (SELECT d.lang, d.n_chars, med.med,
        |          abs(d.n_chars - med.med) AS adev
        |        FROM documents d JOIN med USING (lang)),
        |mad AS (SELECT lang, quantile_cont(adev, 0.5) AS mad
        |        FROM dev GROUP BY lang)
        |SELECT dev.lang, med, mad, count(*) AS n_docs,
        |  sum(CASE WHEN adev > mad * 2 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        |  max(adev) AS max_adev
        |FROM dev JOIN mad USING (lang)
        |GROUP BY dev.lang, med, mad ORDER BY dev.lang""".stripMargin,
    "e50_tfidf_cosine" -> {
      s"""WITH $sampledBandsCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |tf AS (SELECT doc_id, t, count(*) AS tf
         |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |             FROM documents WHERE doc_id % 10 = 0)
         |       GROUP BY doc_id, t),
         |dfc AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         |nd AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id % 10 = 0),
         |w AS (SELECT doc_id, t, tf * ln(nd.n_docs::DOUBLE / dfc.df) AS w
         |      FROM tf JOIN dfc USING (t) CROSS JOIN nd),
         |nrm AS (SELECT doc_id, sum(CAST(w * w AS DECIMAL(28,9))) AS n2
         |        FROM w GROUP BY doc_id),
         |pd AS (SELECT d1, d2, sum(CAST(a.w * b.w AS DECIMAL(28,9))) AS dp
         |       FROM cand JOIN w a ON a.doc_id = d1
         |                 JOIN w b ON b.doc_id = d2 AND b.t = a.t
         |       GROUP BY d1, d2)
         |SELECT d1, d2,
         |  round(dp::DOUBLE / (sqrt(x.n2::DOUBLE) * sqrt(y.n2::DOUBLE)), 6) AS cos_tfidf
         |FROM pd JOIN nrm x ON x.doc_id = d1 JOIN nrm y ON y.doc_id = d2
         |ORDER BY cos_tfidf DESC, d1, d2 LIMIT 25""".stripMargin
    },
    "e49_dedup_survivorship" -> {
      s"""WITH RECURSIVE
         |$sampledBandsCte,
         |edges AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
         |reach(node, label) AS (
         |    SELECT doc_id, doc_id FROM sig
         |  UNION
         |    SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node),
         |comp AS (SELECT node, MIN(label) AS comp_id FROM reach GROUP BY node),
         |q AS (SELECT doc_id,
         |        (len(list_distinct(tk2))::DOUBLE / len(tk2)) * 0.5
         |          + least(len(tk2)::DOUBLE / 100.0, 1.0) * 0.3
         |          + (len(list_filter(tk2, t -> t = 'the' OR t = 'a'))::DOUBLE
         |             / len(tk2)) * 0.2 AS q
         |      FROM (SELECT doc_id, string_split(text, ' ') AS tk2
         |            FROM documents WHERE doc_id % 10 = 0)),
         |r AS (SELECT comp.comp_id, comp.node AS doc_id, q.q,
         |        COUNT(*) OVER (PARTITION BY comp.comp_id) AS n_members,
         |        ROW_NUMBER() OVER (PARTITION BY comp.comp_id
         |                           ORDER BY q.q DESC, comp.node ASC) AS rn
         |      FROM comp JOIN q ON q.doc_id = comp.node)
         |SELECT comp_id, doc_id AS survivor_doc, n_members,
         |  round(q, 6) AS survivor_q
         |FROM r WHERE rn = 1 AND n_members >= 2 ORDER BY comp_id""".stripMargin
    },
    "e46_char_entropy" ->
      """WITH ch AS (SELECT doc_id, substring(text, i.i, 1) AS ch
        |            FROM documents, UNNEST(generate_series(1, length(text))) AS i(i)),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
        |t AS (SELECT doc_id, c,
        |        CAST(c::DOUBLE * ln(c::DOUBLE) AS DECIMAL(28,12)) AS clc
        |      FROM c),
        |s AS (SELECT doc_id, sum(c) AS n, sum(clc) AS sclc FROM t GROUP BY doc_id)
        |SELECT doc_id, n::BIGINT AS n_chars,
        |  round(ln(n::DOUBLE) - sclc::DOUBLE / n, 6) AS entropy
        |FROM s ORDER BY entropy ASC, doc_id LIMIT 25""".stripMargin,
    "e47_fuzzy_pairs" ->
      """WITH p AS (SELECT p_name,
        |             split_part(p_name, ' ', 1) || ' ' ||
        |               substring(split_part(p_name, ' ', 2), 1, 1) AS blk
        |           FROM part),
        |g AS (SELECT blk, p_name, count(*) AS cnt FROM p GROUP BY blk, p_name),
        |ex AS (SELECT blk, sum(cnt * (cnt - 1) // 2) AS n_exact FROM g GROUP BY blk),
        |cr AS (SELECT a.blk, sum(a.cnt * b.cnt) AS n_cross,
        |         min(levenshtein(a.p_name, b.p_name)) AS min_cross
        |       FROM g a JOIN g b ON a.blk = b.blk AND a.p_name < b.p_name
        |         AND abs(length(a.p_name) - length(b.p_name)) <= 3
        |       WHERE levenshtein(a.p_name, b.p_name) <= 3
        |       GROUP BY a.blk)
        |SELECT blk, (coalesce(n_cross, 0) + n_exact)::BIGINT AS n_close_pairs,
        |  n_exact::BIGINT AS n_exact,
        |  (CASE WHEN n_exact > 0 THEN 0 ELSE min_cross END)::INT AS min_lev
        |FROM ex LEFT JOIN cr USING (blk)
        |WHERE coalesce(n_cross, 0) + n_exact > 0
        |ORDER BY blk""".stripMargin,
    "e28_stratified_sample" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |  ${String.format(tokenHashSql, "CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents),
         |r AS (SELECT doc_id, lang,
         |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS sample_rank
         |  FROM h)
         |SELECT lang, sample_rank, doc_id FROM r
         |WHERE sample_rank <= 25 ORDER BY lang, sample_rank""".stripMargin,
    "e54_dq_audit" ->
      """WITH om AS (SELECT count(*) AS n, count(o_custkey) AS nn,
        |              count(DISTINCT o_orderkey) AS nd,
        |              count(*) FILTER (WHERE o_orderstatus IN ('O','F','P'))
        |                AS ndom
        |            FROM orders),
        |lm AS (SELECT count(*) AS n,
        |         count(*) FILTER (WHERE l_quantity BETWEEN 1 AND 50) AS nrange
        |       FROM lineitem),
        |cm AS (SELECT count(*) AS n, count(c_name) AS nn FROM customer),
        |orph AS (SELECT count(*) AS n FROM lineitem l
        |         WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                           WHERE o.o_orderkey = l.l_orderkey))
        |SELECT * FROM (
        |  SELECT 'orders.o_custkey' AS col_name, 'completeness' AS dq_check,
        |    nn::DOUBLE / n AS metric, nn = n AS pass FROM om
        |  UNION ALL SELECT 'orders.o_orderkey', 'uniqueness',
        |    nd::DOUBLE / n, nd = n FROM om
        |  UNION ALL SELECT 'orders.o_orderstatus', 'domain_OFP',
        |    ndom::DOUBLE / n, ndom = n FROM om
        |  UNION ALL SELECT 'lineitem.l_quantity', 'range_1_50',
        |    nrange::DOUBLE / n, nrange = n FROM lm
        |  UNION ALL SELECT 'lineitem.l_orderkey', 'ref_integrity',
        |    n::DOUBLE, n = 0 FROM orph
        |  UNION ALL SELECT 'customer.c_name', 'completeness',
        |    nn::DOUBLE / n, nn = n FROM cm
        |) ORDER BY col_name, dq_check""".stripMargin,
    // the prefix filter is lossless, so the oracle is the DENSE join at
    // the same threshold — the equality is the losslessness proof
    "e55_jaccard_prefix" -> denseJaccardSql
      .replace(">= 0.1", ">= 0.5").replace("doc_id % 5", "doc_id % 2"),
    "e56_pagerank" -> {
      val iters = (1 to 5).map { k =>
        val prev = if (k == 1) "pr0" else s"it${k - 1}"
        s"""it$k AS (SELECT d.a AS node,
           |    (15000000000000 // (100 * nn.n))
           |      + (85 * COALESCE(s.sc, 0)) // 100 AS pr
           |  FROM deg d CROSS JOIN nn LEFT JOIN (
           |    SELECT u.b, SUM(p.pr // dd.outdeg) AS sc
           |    FROM und u JOIN deg dd ON dd.a = u.a JOIN $prev p ON p.node = u.a
           |    GROUP BY u.b) s ON s.b = d.a)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sampledBandsCte,
         |edges AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
         |deg AS (SELECT a, count(*) AS outdeg FROM und GROUP BY a),
         |nn AS (SELECT count(*)::BIGINT AS n FROM deg),
         |pr0 AS (SELECT a AS node, 1000000000000 // nn.n AS pr
         |        FROM deg CROSS JOIN nn),
         |$iters
         |SELECT node AS doc_id, CAST(pr AS BIGINT) AS pagerank_e12
         |FROM it5 ORDER BY doc_id""".stripMargin
    },
    "e57_triangle_count" -> {
      s"""WITH $sampledBandsCte,
         |e AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |    JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
         |pn AS (SELECT doc_id, count(*) AS n_tri FROM (
         |         SELECT x AS doc_id FROM tri
         |         UNION ALL SELECT y FROM tri
         |         UNION ALL SELECT z FROM tri) GROUP BY doc_id),
         |deg AS (SELECT doc_id, count(*) AS degree FROM (
         |          SELECT a AS doc_id FROM e
         |          UNION ALL SELECT b FROM e) GROUP BY doc_id)
         |SELECT d.doc_id, d.degree, COALESCE(pn.n_tri, 0) AS n_tri,
         |  CASE WHEN d.degree >= 2
         |    THEN (COALESCE(pn.n_tri, 0) * 2)::DOUBLE
         |           / (d.degree * (d.degree - 1))
         |    ELSE 0.0 END AS clustering
         |FROM deg d LEFT JOIN pn ON pn.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "e58_lsh_recall" -> {
      s"""WITH sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
         |              FROM documents WHERE doc_id % 10 = 0),
         |truth AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.tk, b.tk))::DOUBLE
         |    / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= 0.1),
         |$sampledBandsCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |nt AS (SELECT count(*) AS n_truth FROM truth),
         |ncd AS (SELECT count(*) AS n_cand FROM cand),
         |ntp AS (SELECT count(*) AS tp FROM truth JOIN cand USING (d1, d2))
         |SELECT n_truth, n_cand, tp, n_cand - tp AS fp, n_truth - tp AS fn,
         |  tp::DOUBLE / n_cand AS precision, tp::DOUBLE / n_truth AS recall
         |FROM nt CROSS JOIN ncd CROSS JOIN ntp""".stripMargin
    }
  )

  /** DuckDB twin of [[tsSimilarity]] — same integer segment math, same
    * exact-decimal means, same left-to-right distance fold. */
  private lazy val tsSimSql: String = {
    val paaCols = (0 until 8).map(i =>
      s"""CASE WHEN COUNT(CASE WHEN seg = $i THEN 1 END) > 0
         |  THEN CAST(SUM(CASE WHEN seg = $i THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
         |       / COUNT(CASE WHEN seg = $i THEN 1 END)
         |  ELSE 0.0 END AS paa$i""".stripMargin).mkString(",\n")
    val dist = (0 until 8)
      .map(i => s"(p.paa$i - pr.paa$i) * (p.paa$i - pr.paa$i)")
      .mkString(" + ")
    s"""WITH b AS (SELECT MIN(epoch_ns(ts)) AS tmin, MAX(epoch_ns(ts)) AS tmax FROM events),
       |e AS (SELECT user_id, ((epoch_ns(ts) - tmin) * 8) // (tmax - tmin + 1) AS seg, value
       |      FROM events, b),
       |p AS (SELECT user_id,
       |$paaCols
       |FROM e GROUP BY user_id),
       |pr AS (SELECT * FROM p WHERE user_id = 1)
       |SELECT p.user_id, round($dist, 6) AS dist2
       |FROM p, pr
       |ORDER BY dist2, p.user_id LIMIT 10""".stripMargin
  }

  /** Shared oracle for the KMV sketch twins: the k smallest distinct hashes
    * via DISTINCT + row_number, estimator identical to [[kmvEstimate]]. */
  private lazy val kmvSql: String = {
    val k = graft.functions.KmvAgg.K
    val num = (k - 1) * 1152921504606846976.0
    s"""WITH dk AS (SELECT DISTINCT event_type,
       |    CAST('0x' || substring(md5(user_id::VARCHAR || '|' ||
       |      (epoch_ns(ts) // 86400000000000)::VARCHAR), 1, 15) AS BIGINT) AS h
       |  FROM events),
       |r AS (SELECT event_type, h,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS nd
       |  FROM dk)
       |SELECT event_type, MAX(nd) AS n_exact, COUNT(*) AS n_sketch,
       |  MAX(h) AS kth_hash,
       |  CASE WHEN COUNT(*) < $k THEN COUNT(*)::DOUBLE
       |       ELSE round($num / MAX(h)::DOUBLE, 3) END AS est_distinct
       |FROM r WHERE rn <= $k GROUP BY event_type ORDER BY event_type""".stripMargin
  }
}
