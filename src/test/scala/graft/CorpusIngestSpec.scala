package graft

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.CorpusIngest

/** Streaming corpus ingest: the quality-gate → exact-dedup → LSH pipeline
  * folded in per micro-batch must equal the one-shot batch pass over the
  * same documents, retries must be no-ops, and the dedup probe must stay
  * partition-pruned. */
class CorpusIngestSpec extends SparkSpecBase {

  private val inSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def fixture: DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** Crafted rows: two quality failures, one exact duplicate of doc 0. */
  private def crafted(doc0Text: String): Seq[Row] = Seq(
    Row(1000L, "", "en", "srcX", 0L),                   // empty_text
    Row(1001L, "hello world", "en", "srcX", 5L),        // length_mismatch
    Row(1002L, doc0Text, "en", "srcX", doc0Text.length.toLong)) // exact dup

  private def craftedDf(doc0Text: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(crafted(doc0Text): _*), inSchema)

  /** Batch twin: quality-pass docs deduped by content hash, min doc_id
    * wins (equals first-arrival when batches ascend by doc_id). */
  private def batchTwin(input: DataFrame): Set[Long] = {
    val pass = input.filter(col("text").isNotNull && length(col("text")) > 0 &&
      col("n_chars") === length(col("text")))
    pass.withColumn("ch", md5(col("text")))
      .groupBy(col("ch")).agg(min(col("doc_id")).as("doc_id"))
      .collect().map(_.getLong(1)).toSet
  }

  test("streamed ingest equals the one-shot batch pass; rejects carry reasons") {
    val in = tmpDir("ci_in"); val root = tmpDir("ci_store") + "/s"
    val ckpt = tmpDir("ci_ckpt")
    val doc0Text = fixture.filter(col("doc_id") === 0).head().getString(1)
    // three ascending files → three micro-batches (maxFilesPerTrigger=1)
    fixture.filter(col("doc_id") < 20).coalesce(1)
      .write.mode(SaveMode.Append).parquet(in)
    fixture.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      .unionByName(craftedDf(doc0Text)).coalesce(1)
      .write.mode(SaveMode.Append).parquet(in)
    fixture.filter(col("doc_id") >= 40).coalesce(1)
      .write.mode(SaveMode.Append).parquet(in)

    val ing = new CorpusIngest(root)
    val q = ing.stream(
      spark.readStream.schema(inSchema).option("maxFilesPerTrigger", 1).parquet(in),
      ckpt)
    q.awaitTermination()

    val input = fixture.unionByName(craftedDf(doc0Text))
    val gotCorpus = ing.corpus(spark).collect().map(_.getLong(0)).toSet
    assert(gotCorpus === batchTwin(input))
    // crafted dup lost to doc 0 regardless of which batch carried each
    assert(!gotCorpus.contains(1002L) && gotCorpus.contains(0L))
    val rejects = ing.rejects(spark).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(rejects === Map(1000L -> "empty_text", 1001L -> "length_mismatch"))
    // rejects ∪ corpus ∪ duplicate-drops partition the input
    val nInput = input.count()
    val nDups = nInput - rejects.size - gotCorpus.size
    assert(nDups >= 1) // at least the crafted duplicate
    // the LSH index saw exactly the accepted docs
    val indexed = ing.lsh.postings(spark).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(indexed === gotCorpus)
    // shard view: pure function of doc_id, covers the corpus, all shards hit
    val sh = ing.shards(spark, 4)
    assert(sh.count() === gotCorpus.size)
    assert(sh.select("shard").distinct().count() === 4)
    val again = ing.shards(spark, 4).collect().map(r => r.getLong(0) -> r.getInt(6)).toMap
    assert(sh.collect().map(r => r.getLong(0) -> r.getInt(6)).toMap === again)
  }

  test("a replayed micro-batch (foreachBatch retry) is byte-identical") {
    val root = tmpDir("ci_retry") + "/s"
    val ing = new CorpusIngest(root)
    ing.ingestBatch(fixture.filter(col("doc_id") < 25), 0L)
    ing.ingestBatch(fixture.filter(col("doc_id") >= 25), 1L)
    def state(): (Set[Long], Set[String], Long) = (
      ing.corpus(spark).collect().map(_.getLong(0)).toSet,
      ing.seen(spark).collect().map(_.getString(0)).toSet,
      ing.lsh.pairs(spark).count())
    val before = state()
    ing.ingestBatch(fixture.filter(col("doc_id") >= 25), 1L) // replay
    assert(state() === before)
  }

  test("incremental LSH pairs equal one-shot banding of the accepted corpus") {
    val root = tmpDir("ci_lsh") + "/s"
    val ing = new CorpusIngest(root)
    ing.ingestBatch(fixture.filter(col("doc_id") < 25), 0L)
    ing.ingestBatch(fixture.filter(col("doc_id") >= 25), 1L)
    val accepted = ing.corpus(spark).select(col("doc_id"), col("text"))
    val bands = SetSimilarity.minhashBands(accepted)
    val oneShot = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ing.lsh.pairs(spark).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.toSet.size, "pair emitted twice")
    assert(got.toSet === oneShot)
  }

  test("compact folds the seen store, keeps dedup correct for later batches") {
    val root = tmpDir("ci_compact") + "/s"
    val ing = new CorpusIngest(root)
    ing.ingestBatch(fixture.filter(col("doc_id") < 15), 0L)
    ing.ingestBatch(fixture.filter(col("doc_id") >= 15 && col("doc_id") < 30), 1L)
    val seenBefore = ing.seen(spark).select("content_hash", "doc_id", "hp")
      .collect().map(_.toSeq).toSet
    val filesBefore = ing.seen(spark).inputFiles.length
    ing.compact(spark)
    assert(ing.seen(spark).select("content_hash", "doc_id", "hp")
      .collect().map(_.toSeq).toSet === seenBefore)
    assert(ing.seen(spark).inputFiles.length < filesBefore)
    // a duplicate of an already-seen doc arriving post-compaction still drops
    val doc3Text = fixture.filter(col("doc_id") === 3).head().getString(1)
    val dupRow = spark.createDataFrame(java.util.Arrays.asList(
      Row(2000L, doc3Text, "en", "srcX", doc3Text.length.toLong)), inSchema)
    ing.ingestBatch(fixture.filter(col("doc_id") >= 30).unionByName(dupRow), 2L)
    val corpus = ing.corpus(spark).collect().map(_.getLong(0)).toSet
    assert(!corpus.contains(2000L) && corpus.contains(3L))
    assert(corpus === batchTwin(fixture.unionByName(dupRow)))
  }

  test("canonicalization stage: dirty duplicates collapse onto clean twins") {
    // the cleanInput=true pipeline: markup-wrapped / NFC-decomposed /
    // control-byte-ridden representations of the SAME content must land as
    // ONE corpus doc — cleaning runs before hashing, so the content-hash
    // store sees through representation noise
    val root = tmpDir("ci_clean") + "/s"
    val ing = new CorpusIngest(root, cleanInput = true)
    val cleanText = "hello café world" // é composed (NFC)
    def row(id: Long, t: String) = Row(id, t, "en", "srcX", t.length.toLong)
    val dirty = Seq(
      row(1L, cleanText), // already clean
      row(2L, "<p>hello</p> <b>café</b> world"),              // markup twin
      row(3L, "hello café world"),                           // NFC twin
      row(4L, "hello café  world"),                     // ctrl + dbl space
      row(5L, "<script>x=1</script>hello café world"),        // script twin
      row(6L, "totally different text"))
    ing.ingestBatch(
      spark.createDataFrame(java.util.Arrays.asList(dirty: _*), inSchema), 0L)
    val corpus = ing.corpus(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(corpus.keySet === Set(1L, 6L), s"got ${corpus.keySet}")
    assert(corpus(1L) === cleanText)
    // n_chars contract holds on the cleaned text (the gate rejected nothing)
    assert(ing.rejects(spark).count() === 0)
    // idempotent: re-cleaning the stored corpus changes nothing
    val stored = ing.corpus(spark).select("doc_id", "text", "lang", "source", "n_chars")
    val twice = CorpusIngest.clean(stored)
    assert(twice.select("doc_id", "text").collect().map(r =>
      r.getLong(0) -> r.getString(1)).toMap === corpus)
    // a LATER batch carrying yet another dirty twin still dedups against
    // the STORE (not just within its own batch)
    ing.ingestBatch(spark.createDataFrame(java.util.Arrays.asList(
      row(7L, "<em>hello</em>  café world")), inSchema), 1L)
    assert(ing.corpus(spark).collect().map(_.getLong(0)).toSet === Set(1L, 6L))
  }

  test("the exact-dedup probe reads only hp partitions the batch touches") {
    val root = tmpDir("ci_prune") + "/s"
    val ing = new CorpusIngest(root)
    ing.ingestBatch(fixture.filter(col("doc_id") < 40), 0L)
    // one incoming doc touches exactly 1 of the 16 hp partitions
    val one = fixture.filter(col("doc_id") === 45)
      .withColumn("ch", md5(col("text")))
      .select(pmod(xxhash64(col("ch")), lit(16L)).cast("int").as("hp"))
    val touched = one.collect().map(_.getInt(0)).toSet
    val pruned = ing.seen(spark)
      .filter(col("batch_id") =!= 1L && col("hp").isin(touched.toSeq: _*))
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metrics("numFiles").value < ing.seen(spark).inputFiles.length,
      "hp probe read the whole seen store — no pruning")
  }

  test("corpusCommitted excludes a crashed ingest's partial batch; the " +
    "read-uncommitted corpus sees it; redelivery reconciles both") {
    import graft.streaming.StoreIO
    val root = tmpDir("ci_committed") + "/s"
    val ing = new CorpusIngest(root)
    ing.ingestBatch(fixture.filter(col("doc_id") < 20), 0L)
    val committed0 = ing.corpusCommitted(spark).count()
    assert(committed0 === ing.corpus(spark).count())
    // die at the ingest's FIRST control mutation — the delegated index
    // commit's tmp write: every corpus/seen/rejects partition of batch 1
    // is already on disk, but nothing committed it
    StoreIO.Faults.armAt(root, 1)
    intercept[StoreIO.Faults.InjectedCrash] {
      ing.ingestBatch(fixture.filter(col("doc_id") >= 20 && col("doc_id") < 40), 1L)
    }
    val (fired, _) = StoreIO.Faults.disarm()
    assert(fired)
    val ing2 = new CorpusIngest(root) // fresh instance (caches die with the JVM)
    assert(ing2.corpus(spark).count() > committed0,
      "the read-uncommitted fast path should see the partial batch")
    assert(ing2.corpusCommitted(spark).count() === committed0,
      "corpusCommitted leaked a crashed ingest's partial batch")
    ing2.ingestBatch(fixture.filter(col("doc_id") >= 20 && col("doc_id") < 40), 1L)
    assert(ing2.corpusCommitted(spark).count() === ing2.corpus(spark).count(),
      "redelivery did not reconcile the committed view with the corpus")
  }
}
