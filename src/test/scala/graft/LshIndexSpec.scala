package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.streaming.LshIndex

/** Incremental LSH near-dup index: batched maintenance must emit exactly
  * the pairs a one-shot banding of the full corpus finds — each exactly
  * once — and the per-batch probe must read only co-bucketed postings. */
class LshIndexSpec extends SparkSpecBase {

  private def docs: DataFrame =
    Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))

  /** One-shot twin: candidate pairs from banding the whole corpus. */
  private def oneShot(d: DataFrame): Set[(Long, Long, Long)] = {
    val bands = SetSimilarity.minhashBands(d)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def emitted(idx: LshIndex): Seq[(Long, Long, Long)] =
    idx.pairs(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("three incremental batches emit the one-shot pair set, each pair exactly once") {
    val idx = new LshIndex(tmpDir("lsh_idx") + "/idx")
    idx.destroy()
    idx.addBatch(docs.filter(col("doc_id") % 3 === 0), 0L)
    idx.addBatch(docs.filter(col("doc_id") % 3 === 1), 1L)
    idx.addBatch(docs.filter(col("doc_id") % 3 === 2), 2L)
    val got = emitted(idx)
    assert(got.size === got.toSet.size, "a pair was emitted twice")
    assert(got.toSet === oneShot(docs))
  }

  test("an instance reused after destroy() serves the NEW store, not the " +
    "pre-destroy cached log entries") {
    val idx = new LshIndex(tmpDir("lsh_destroy") + "/idx")
    idx.destroy()
    idx.addBatch(docs.filter(col("doc_id") < 25), 0L)
    assert(emitted(idx).nonEmpty || idx.sigs(spark).count() > 0)
    // destroy and rebuild THROUGH THE SAME INSTANCE: the new log restarts
    // at version 1 — a stale OpLog entry cache would serve the pre-destroy
    // validIds for the reused version numbers (wrong postings/pairs)
    idx.destroy()
    val sub = docs.filter(col("doc_id") >= 25)
    idx.addBatch(sub, 7L)
    val fresh = new LshIndex(tmpDir("lsh_destroy_ref") + "/idx")
    fresh.destroy()
    fresh.addBatch(sub, 7L)
    assert(emitted(idx).sorted === emitted(fresh).sorted)
    assert(idx.sigs(spark).count() === fresh.sigs(spark).count())
  }

  test("a replayed batch (foreachBatch retry) changes nothing") {
    val idx = new LshIndex(tmpDir("lsh_retry") + "/idx")
    idx.destroy()
    idx.addBatch(docs.filter(col("doc_id") < 25), 0L)
    idx.addBatch(docs.filter(col("doc_id") >= 25), 1L)
    val before = emitted(idx).sorted
    idx.addBatch(docs.filter(col("doc_id") >= 25), 1L) // same batchId replay
    assert(emitted(idx).sorted === before)
    assert(oneShot(docs) === before.toSet)
  }

  test("the probe reads only bp partitions the batch touches") {
    val idx = new LshIndex(tmpDir("lsh_prune") + "/idx")
    idx.destroy()
    idx.addBatch(docs.filter(col("doc_id") < 40), 0L)
    // a single doc touches ≤ 4 buckets → ≤ 4 of the 16 bp partitions
    val one = docs.filter(col("doc_id") === 45)
    val touched = SetSimilarity.minhashBands(one)
      .select(pmod(xxhash64(col("bucket")), lit(16L)).cast("int").as("bp"))
      .distinct().collect().map(_.getInt(0)).toSet
    val pruned = idx.postings(spark)
      .filter(col("batch_id") =!= 1L && col("bp").isin(touched.toSeq: _*))
    pruned.collect() // execute so the scan metric is real, not estimated
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val prunedFiles = scan.metrics("numFiles").value
    val allFiles = idx.postings(spark).inputFiles.length
    assert(prunedFiles < allFiles,
      s"pruned probe read $prunedFiles of $allFiles posting files — no pruning")
    // and the pruning is by partition directory, visible in the plan
    assert(scan.toString.contains("PartitionFilters"))
  }

  test("compact folds batch partitions, preserves content, and keeps increments correct") {
    val idx = new LshIndex(tmpDir("lsh_compact") + "/idx")
    idx.destroy()
    idx.addBatch(docs.filter(col("doc_id") % 3 === 0), 0L)
    idx.addBatch(docs.filter(col("doc_id") % 3 === 1), 1L)
    val postBefore = idx.postings(spark).drop("batch_id").collect()
      .map(_.toSeq).toSet
    val pairsBefore = emitted(idx).map { case (a, b, n) => (a, b, n) }.toSet
    val filesBefore = idx.postings(spark).inputFiles.length

    idx.compact(spark)
    assert(idx.postings(spark).drop("batch_id").collect().map(_.toSeq).toSet === postBefore)
    assert(emitted(idx).toSet === pairsBefore)
    assert(idx.postings(spark).inputFiles.length < filesBefore,
      "compaction did not reduce posting file count")
    // consolidated ids are negative → can't collide with future stream batches
    assert(idx.postings(spark).select("batch_id").distinct()
      .collect().map(_.getLong(0)).forall(_ < 0))

    // a batch arriving AFTER compaction still completes exactly the right pairs
    idx.addBatch(docs.filter(col("doc_id") % 3 === 2), 2L)
    val got = emitted(idx)
    assert(got.size === got.toSet.size)
    assert(got.toSet === oneShot(docs))

    // idempotent: a second compact converges to the same content
    idx.compact(spark)
    idx.compact(spark)
    assert(emitted(idx).toSet === oneShot(docs))
    assert(idx.postings(spark).drop("batch_id").distinct().count() ===
      idx.postings(spark).drop("batch_id").count(), "physical duplicates survived")
  }

  /** One-shot twin at an arbitrary banding. */
  private def oneShotAt(d: DataFrame, r: Int, b: Int): Set[(Long, Long, Long)] = {
    val bands = SetSimilarity.bandsFromSigs(SetSimilarity.minhashSigs(d), r, b)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("reband migrates to a new (r,b); index equals a fresh index at that banding") {
    val idx = new LshIndex(tmpDir("lsh_reband") + "/idx")
    idx.destroy()
    // build under the default 2×4 banding, compaction mixed in (the
    // migration must survive consolidated negative-id partitions)
    idx.addBatch(docs.filter(col("doc_id") % 3 === 0), 0L)
    idx.addBatch(docs.filter(col("doc_id") % 3 === 1), 1L)
    idx.compact(spark)
    idx.addBatch(docs.filter(col("doc_id") % 3 === 2), 2L)
    assert(emitted(idx).toSet === oneShot(docs))

    // migrate to 4×2 (what an e63-style sweep would pick for precision)
    idx.reband(spark, r = 4, b = 2)
    val migrated = emitted(idx)
    assert(migrated.size === migrated.toSet.size, "a pair was emitted twice")
    assert(migrated.toSet === oneShotAt(docs, 4, 2),
      "re-banded index must equal a fresh index at the new banding")
    // postings are fully re-derived: every n_shared_bands is ≤ new b
    assert(migrated.forall(_._3 <= 2))

    // post-migration batches band and probe under the NEW banding
    val idx2 = new LshIndex(tmpDir("lsh_reband2") + "/idx")
    idx2.destroy()
    idx2.addBatch(docs.filter(col("doc_id") < 30), 0L)
    idx2.reband(spark, 4, 2)
    idx2.addBatch(docs.filter(col("doc_id") >= 30), 1L)
    val got = emitted(idx2)
    assert(got.size === got.toSet.size)
    assert(got.toSet === oneShotAt(docs, 4, 2),
      "a batch arriving after the migration must complete pairs under the new banding")

    // replay of a post-migration batch is still idempotent
    idx2.addBatch(docs.filter(col("doc_id") >= 30), 1L)
    assert(emitted(idx2).toSet === oneShotAt(docs, 4, 2))

    // and compaction after migration preserves the migrated content
    idx2.compact(spark)
    assert(emitted(idx2).toSet === oneShotAt(docs, 4, 2))
  }

  test("streaming wrapper: the index maintained from a document file stream converges") {
    val root = tmpDir("lsh_stream")
    val idx = new LshIndex(s"$root/idx")
    idx.destroy()
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    // land the corpus as three files → three micro-batches
    Seq(0, 1, 2).foreach { i =>
      val stage = s"$root/stage$i"
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(in, f"chunk-$i%05d.parquet").toPath)
    }
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = stream.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => idx.addBatch(b, id) }
      .start()
    q.awaitTermination()
    val got = emitted(idx)
    assert(got.size === got.toSet.size)
    assert(got.toSet === oneShot(docs))
  }

  test("probeNearDups' lossless guard follows the banding: a 4x2 store " +
    "refuses minSigMatch=6 loudly instead of silently losing recall") {
    val idx = new LshIndex(tmpDir("lsh_probe_guard") + "/idx")
    idx.addBatch(docs.filter(col("doc_id") < 30), 0L)
    val probeDocs = docs.filter(col("doc_id") >= 30 && col("doc_id") < 40)
    // default 2x4: b=4 bands, so the true lossless floor is 9-4=5 —
    // minSigMatch=5 now verifies pairs the old constant-6 guard refused
    val at5 = idx.probeNearDups(probeDocs, minSigMatch = 5).collect()
    assert(at5.forall(_.getInt(2) >= 5))
    intercept[IllegalArgumentException] {
      idx.probeNearDups(probeDocs, minSigMatch = 4) // 4 < 9-b: lossy
    }
    // reband to 4x2 (the precision end): 2 bands, floor 9-2=7 — a probe
    // at the old default 6 could miss a 6/8 pair whose two mismatching
    // components break both bands, so it must refuse with the bound
    idx.reband(spark, 4, 2)
    val e = intercept[IllegalArgumentException] {
      idx.probeNearDups(probeDocs, minSigMatch = 6)
    }
    assert(e.getMessage.contains(">= 7"), s"bound not named: ${e.getMessage}")
    assert(idx.probeNearDups(probeDocs, minSigMatch = 7).collect()
      .forall(_.getInt(2) >= 7))
    // reband to 1x8 (the recall end): 8 single-component bands, floor 1 —
    // every verified pair a wider banding can ever surface is reachable
    idx.reband(spark, 1, 8)
    val at2 = idx.probeNearDups(probeDocs, minSigMatch = 2).collect()
    assert(at2.forall(_.getInt(2) >= 2))
  }
}
