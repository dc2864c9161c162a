package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.CorpusIngest

/** Online near-dup REJECTION at ingest (CorpusIngest(nearDupMinSig=Some(m))):
  * a doc is dropped when >= m of its 8 MinHash components agree with any
  * doc seen earlier — stored (accepted OR rejected) or smaller-id in the
  * same batch. The index keeps every exact-dedup survivor (the SEEN
  * graph); the corpus keeps only the accepted (the curated output), which
  * is what makes the rule invariant to how the stream chunks.
  *
  * Fixture signature agreements (verified by construction against the
  * shared md5 token-hash family):
  *   A  = base 10 tokens
  *   A' = A + "mu"            -> 8/8 vs A   (near-dup)
  *   B  = A + "nu"            -> 7/8 vs A   (near-dup)
  *   C  = A + "nu" + "koppa"  -> 6/8 vs B, 5/8 vs A (near-dup of B ONLY)
  *   D  = A + "phi"           -> 5/8 vs A   (NOT a near-dup at m=6)
  */
class NearDupIngestSpec extends SparkSpecBase {

  private val inSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private def doc(id: Long, t: String) = Row(id, t, "en", "srcX", t.length.toLong)
  private val A = doc(1L, base)
  private val Amu = doc(2L, base + " mu")
  private val B = doc(10L, base + " nu")
  private val C = doc(20L, base + " nu koppa")
  private val D = doc(3L, base + " phi")
  private val E = doc(50L, "completely unrelated tokens about something else entirely here now")

  private def df(rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), inSchema)

  // the spec's ground truth for the fixture agreements, derived through
  // the ENGINE's own signature pipeline (not hand-copied constants)
  private def agreement(t1: String, t2: String): Int = {
    val s = SetSimilarity.minhashSigs(df(doc(900L, t1), doc(901L, t2)))
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    s(900L).zip(s(901L)).count { case (x, y) => x == y }
  }

  test("fixture agreements are what the scenarios assume") {
    assert(agreement(base, base + " mu") === 8)
    assert(agreement(base, base + " nu") === 7)
    assert(agreement(base + " nu", base + " nu koppa") === 6)
    assert(agreement(base, base + " nu koppa") === 5)
    assert(agreement(base, base + " phi") === 5)
  }

  test("within-batch rejection: smaller id wins, audit carries the partner") {
    val root = tmpDir("nd_batch") + "/s"
    val ing = new CorpusIngest(root, nearDupMinSig = Some(6))
    ing.ingestBatch(df(A, Amu, D, E), 0L)
    assert(ing.corpus(spark).collect().map(_.getLong(0)).toSet === Set(1L, 3L, 50L))
    val rej = ing.nearDupRejects(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rej === Set((2L, 1L, 8)))
  }

  test("chain through a REJECTED doc still rejects (seen-graph semantics)") {
    val root = tmpDir("nd_chain") + "/s"
    val ing = new CorpusIngest(root, nearDupMinSig = Some(6))
    ing.ingestBatch(df(A, E), 0L)
    ing.ingestBatch(df(B), 1L) // 7/8 vs stored A -> rejected
    ing.ingestBatch(df(C), 2L) // 6/8 vs B (itself rejected), 5/8 vs A
    assert(ing.corpus(spark).collect().map(_.getLong(0)).toSet === Set(1L, 50L))
    val rej = ing.nearDupRejects(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // C's condemning partner is B (doc 10) — NOT A: the rejected doc stayed
    // probe-visible in the index after its own rejection
    assert(rej === Set((10L, 1L, 7), (20L, 10L, 6)))
  }

  test("acceptance set is invariant to how the stream chunks") {
    val oneRoot = tmpDir("nd_one") + "/s"
    val one = new CorpusIngest(oneRoot, nearDupMinSig = Some(6))
    one.ingestBatch(df(A, D, B, C, E), 0L)
    val threeRoot = tmpDir("nd_three") + "/s"
    val three = new CorpusIngest(threeRoot, nearDupMinSig = Some(6))
    three.ingestBatch(df(A, D), 0L)
    three.ingestBatch(df(B), 1L)
    three.ingestBatch(df(C, E), 2L)
    def accepted(i: CorpusIngest) =
      i.corpus(spark).collect().map(_.getLong(0)).toSet
    def rejected(i: CorpusIngest) =
      i.nearDupRejects(spark).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(accepted(one) === accepted(three))
    assert(accepted(one) === Set(1L, 3L, 50L))
    assert(rejected(one) === rejected(three))
  }

  test("a replayed batch (foreachBatch retry) leaves identical state") {
    val root = tmpDir("nd_retry") + "/s"
    val ing = new CorpusIngest(root, nearDupMinSig = Some(6))
    ing.ingestBatch(df(A, E), 0L)
    ing.ingestBatch(df(B, C), 1L)
    def state() = (
      ing.corpus(spark).collect().map(_.getLong(0)).toSet,
      ing.nearDupRejects(spark).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet,
      ing.lsh.sigs(spark).select("doc_id").distinct().count())
    val before = state()
    // the retry fence: without probeNearDups excluding the committed
    // batch's own postings, every replayed doc would be its own 8/8
    // partner and the corpus partition would rewrite EMPTY
    ing.ingestBatch(df(B, C), 1L)
    assert(state() === before)
    assert(before._1 === Set(1L, 50L))
  }

  test("stream(): cleaning + rejection compose through Structured Streaming") {
    val in = tmpDir("nd_str_in"); val root = tmpDir("nd_str") + "/s"
    val ckpt = tmpDir("nd_str_ck")
    import org.apache.spark.sql.SaveMode
    // file 1: the clean base; file 2: a MARKUP-wrapped exact twin of A
    // (cleans to identical text → exact-dedup drop) and the near-dup B
    df(A, E).coalesce(1).write.mode(SaveMode.Append).parquet(in)
    df(doc(60L, "<p>" + base + "</p>"), B).coalesce(1)
      .write.mode(SaveMode.Append).parquet(in)
    val ing = new CorpusIngest(root, cleanInput = true, nearDupMinSig = Some(6))
    val q = ing.stream(
      spark.readStream.schema(inSchema).option("maxFilesPerTrigger", 1).parquet(in),
      ckpt)
    q.awaitTermination()
    assert(ing.corpus(spark).collect().map(_.getLong(0)).toSet === Set(1L, 50L))
    // doc 60 fell to EXACT dedup (post-clean twin of A), doc 10 to NEAR-dup
    val rej = ing.nearDupRejects(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rej === Set((10L, 1L)))
  }

  test("rejected docs are still exact-dedup barriers for later copies") {
    val root = tmpDir("nd_exact") + "/s"
    val ing = new CorpusIngest(root, nearDupMinSig = Some(6))
    ing.ingestBatch(df(A), 0L)
    ing.ingestBatch(df(B), 1L) // near-dup rejected, hash stored
    // an EXACT copy of the rejected B arrives later: dropped by the
    // content-hash store (never reaches the near-dup probe), so the
    // audit gains no second row for the same content
    ing.ingestBatch(df(doc(30L, base + " nu")), 2L)
    assert(ing.corpus(spark).collect().map(_.getLong(0)).toSet === Set(1L))
    assert(ing.nearDupRejects(spark).count() === 1)
  }
}
