package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{LshIndex, StoreIO}

/** Long-horizon control-plane trend for the OpLog-backed index stores: the
  * r12 fix cached write-once log entries so the per-batch fold costs one
  * list + ONE new-entry read instead of re-reading the whole log
  * (O(batches²) round trips over a stream's life). This spec PINS the
  * steady state a 10k-batch stream depends on, over 50 batches: per-batch
  * control-plane reads must be exactly flat — any residual O(n) term in the fold shows
  * up as a monotone drift the equality assertion catches. Global
  * [[StoreIO.Stats]] counters are safe to meter here because sbt runs
  * forked suites sequentially and nothing else touches StoreIO mid-test. */
class StoreTrendSpec extends SparkSpecBase {

  private def docs(i: Int): DataFrame = {
    import spark.implicits._
    (0 until 10).map { j =>
      val id = i * 1000L + j
      (id, s"trend document $id body alpha beta gamma ${id % 7} delta ${id % 3}")
    }.toDF("doc_id", "text")
  }

  test("LshIndex.addBatch control-plane reads stay FLAT over 50 batches " +
    "(the OpLog entry cache's steady state)") {
    val idx = new LshIndex(tmpDir("lsh_trend") + "/idx")
    idx.destroy()
    val perBatch = (1 to 50).map { i =>
      val s0 = StoreIO.Stats.snapshot()
      idx.addBatch(docs(i), i.toLong)
      StoreIO.Stats.diff(StoreIO.Stats.snapshot(), s0)
    }
    val reads = perBatch.map(_.getOrElse("reads", 0L))
    val lists = perBatch.map(_.getOrElse("lists", 0L))
    // first batches pay one-time setup (dir creation, first-entry reads);
    // from batch 6 on the fold is in its steady state
    val steadyReads = reads.drop(5)
    val steadyLists = lists.drop(5)
    assert(steadyReads.max === steadyReads.min,
      s"per-batch READS drifted over 50 batches — a residual O(n) fold " +
        s"term: $reads")
    assert(steadyLists.max === steadyLists.min,
      s"per-batch LISTS drifted over 50 batches: $lists")
    // and the flat value is the cached-fold cost (one new entry + the
    // handful of protocol probes), nowhere near the O(batches) re-read —
    // by batch 50 an uncached fold would read 50 entries in that batch
    assert(steadyReads.max < 25L,
      s"steady-state reads/batch = ${steadyReads.max} — the entry cache " +
        "is not bounding the fold")
    // the index still answers correctly after the horizon (50 appends,
    // every batch's postings valid)
    assert(idx.sigs(spark).count() === 500L)
  }

  test("the exactly-once agg fold's control plane stays FLAT over 50 " +
    "batches (fence + prior-probe are O(1) with history)") {
    import org.apache.spark.sql.Row
    import graft.streaming.{BucketedReplica, CdcStream, IncrementalAgg}
    val parent = tmpDir("agg_trend")
    // FIXED key set per fold: the op counts under test must depend only on
    // history depth, not on how many buckets a batch happens to touch
    def batch(i: Long): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList((0 until 4).map { j =>
        Row("INSERT", "users", i * 10 + j, (i * 10 + j) * 1000L,
          j.toLong, (i + j) * 1.5, s"e${(i + j) % 3}")
      }: _*), CdcStream.envelopeSchema)
    // fresh instances per fold — the foreachBatch production shape, so
    // nothing survives in caches between batches
    def fold(i: Long): Unit = new IncrementalAgg(
      new BucketedReplica(s"$parent/replica", nBuckets = 4), s"$parent/view")
      .applyBatch(batch(i), i)
    val perFold = (1 to 50).map { i =>
      val s0 = StoreIO.Stats.snapshot()
      fold(i.toLong)
      StoreIO.Stats.diff(StoreIO.Stats.snapshot(), s0)
    }
    Seq("reads", "lists", "writes", "deletes").foreach { k =>
      val vals = perFold.map(_.getOrElse(k, 0L)).drop(5)
      assert(vals.max === vals.min,
        s"per-fold $k drifted over 50 exactly-once folds — the batch-id " +
          s"path is not O(1) with history: ${perFold.map(_.getOrElse(k, 0L))}")
    }
    // the flat read cost stays in the single-digit-plus-pins regime: the
    // newest-tag probe is ONE read, not a scan of 50 versions' tags
    val steadyReads = perFold.map(_.getOrElse("reads", 0L)).drop(5).max
    assert(steadyReads < 30L,
      s"steady-state reads/fold = $steadyReads — the prior-version probe " +
        "is scanning history")
    // no pin leak across 50 clean folds
    val pins = Option(new java.io.File(s"$parent/replica").listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("_PIN-"))
    assert(pins === 0, s"$pins pins leaked by clean folds")
  }
}
