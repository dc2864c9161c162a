package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.streaming.{BucketedReplica, IvfIndex, LshIndex, StoreIO}

/** The shared write-once commit protocol of the versioned stores (r5/r6
  * hardening):
  *
  * 1. CRASH INVISIBILITY — output written by a migration or append that died
  *    BEFORE its commit must be structurally invisible to readers, on all
  *    three stores. This is the ADVICE-medium hole from r5: the old id-range
  *    validity cut admitted a half-written consolidated partition; the exact
  *    committed-id set cannot.
  *
  * 2. ONLINE MIGRATION — a reband/recenter racing a live addBatch is
  *    serialized by the write-once log version: whichever commits second
  *    observes the other and recomputes (deterministic convergence), never
  *    silently mixes layouts.
  */
class StoreProtocolSpec extends SparkSpecBase {

  private def docs: DataFrame =
    Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))

  private def emb: DataFrame =
    Tables.load(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))

  private def oneShotAt(d: DataFrame, r: Int, b: Int): Set[(Long, Long, Long)] = {
    val bands = SetSimilarity.bandsFromSigs(SetSimilarity.minhashSigs(d), r, b)
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

  // ---- 1. crash invisibility --------------------------------------------

  test("LSH: a migration crashed between rewrite and commit is invisible; re-run converges") {
    val root = tmpDir("proto_lsh") + "/idx"
    val idx = new LshIndex(root)
    idx.addBatch(docs.filter(col("doc_id") < 30), 0L)
    idx.addBatch(docs.filter(col("doc_id") >= 30), 1L)
    val before = emitted(idx).sorted

    // simulate reband dying AFTER its consolidated rewrite, BEFORE its
    // commit: exactly the files reband writes, at a fresh negative id, with
    // no log entry
    val sig = SetSimilarity.minhashSigs(docs).drop("batch_id").distinct()
    val bands = SetSimilarity.bandsFromSigs(sig, 4, 2)
      .withColumn("bp", pmod(xxhash64(col("bucket")), lit(16L)).cast("int"))
    bands.write.mode("overwrite").partitionBy("bp")
      .parquet(s"$root/postings/batch_id=-1")
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .write.mode("overwrite").parquet(s"$root/pairs/batch_id=-1")

    assert(emitted(idx).sorted === before,
      "a crashed migration's uncommitted partitions leaked into readers")
    assert(idx.postings(spark).select("batch_id").distinct()
      .collect().map(_.getLong(0)).forall(_ >= 0))

    // the re-run (what the operator does after the crash) converges over
    // the garbage — fresh id, full rewrite, then the commit
    idx.reband(spark, 4, 2)
    assert(emitted(idx).toSet === oneShotAt(docs, 4, 2))
  }

  test("LSH: an append crashed before its commit is invisible; the stream retry converges") {
    val root = tmpDir("proto_lsh_app") + "/idx"
    val idx = new LshIndex(root)
    idx.addBatch(docs.filter(col("doc_id") < 30), 0L)
    val before = emitted(idx).sorted
    // batch 1's data fully written, no log entry (crash in the commit window)
    val d1 = docs.filter(col("doc_id") >= 30)
    val sig = SetSimilarity.minhashSigs(d1)
    val bands = SetSimilarity.bandsFromSigs(sig, 2, 4)
      .withColumn("bp", pmod(xxhash64(col("bucket")), lit(16L)).cast("int"))
    bands.write.mode("overwrite").partitionBy("bp")
      .parquet(s"$root/postings/batch_id=1")
    sig.write.mode("overwrite").parquet(s"$root/sigs/batch_id=1")
    assert(emitted(idx).sorted === before)
    assert(idx.sigs(spark).select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet === Set(0L))
    // the foreachBatch retry overwrites the garbage and commits
    idx.addBatch(d1, 1L)
    assert(emitted(idx).toSet === oneShotAt(docs, 2, 4))
  }

  test("IVF: crashed recenter output and crashed append output are invisible") {
    val root = tmpDir("proto_ivf") + "/idx"
    val idx = new IvfIndex(root)
    val c0 = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    idx.create(c0)
    idx.addBatch(emb.filter(col("vec_id") % 2 === 0), 0L)
    val before = idx.index(spark).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // crashed recenter: consolidated partition at a negative id, no commit
    Similarity.ivfAssign(emb, c0)
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$root/index/batch_id=-1")
    // crashed append: full partition at a fresh positive id, no commit
    Similarity.ivfAssign(emb.filter(col("vec_id") % 2 === 1), c0)
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$root/index/batch_id=7")

    assert(idx.index(spark).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === before,
      "uncommitted IVF partitions leaked into readers")
  }

  test("replica: an orphan version dir (crash before pointer flip) is invisible") {
    val root = tmpDir("proto_replica") + "/rep"
    val rep = new BucketedReplica(root, pk = "user_id", nBuckets = 4)
    val batch = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_ns").as("pos"), lit("UPSERT").as("op"),
        col("ts_ns"), col("value"))
      .limit(200)
    rep.commit(batch.withColumn("op", lit("UPSERT")))
    val before = rep.read(spark).collect().map(_.toString).sorted

    // a writer that died after writing the next version dir, before the
    // pointer: readers resolve the manifest, never the directory listing
    batch.limit(50).withColumn("bucket", lit(0))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$root/data/v${rep.currentVersion.get + 1}")
    assert(rep.read(spark).collect().map(_.toString).sorted === before,
      "an orphan (pointer-less) version dir leaked into the replica read")

    // and the recovery commit clobbers the orphan rather than failing
    rep.commit(batch.withColumn("op", lit("UPSERT")))
    assert(rep.read(spark).count() === before.length)
  }

  // ---- 2. online migration (no stream-paused contract) ------------------

  test("LSH online: an append racing a reband loses the commit, cleans up, and its retry converges") {
    val root = tmpDir("proto_race1") + "/idx"
    val idx = new LshIndex(root)
    val d0 = docs.filter(col("doc_id") < 30)
    val d1 = docs.filter(col("doc_id") >= 30)
    idx.addBatch(d0, 0L)

    // deterministic interleaving: the reband commits INSIDE batch 1's
    // write-to-commit window
    idx.log.beforeAppendCommit = () => {
      idx.log.beforeAppendCommit = () => ()
      idx.reband(spark, 4, 2)
    }
    intercept[StoreIO.ConcurrentCommit] { idx.addBatch(d1, 1L) }

    // the dead-banding output is gone; the index is exactly the rebanded d0
    assert(emitted(idx).toSet === oneShotAt(d0, 4, 2))
    // the stream's retry recomputes under the new banding and converges
    idx.addBatch(d1, 1L)
    assert(emitted(idx).toSet === oneShotAt(docs, 4, 2))
  }

  test("LSH online: a migration's GC running AFTER a defeated append's " +
    "retry re-committed must not delete the retry's data (maxSeen cut)") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val root = tmpDir("proto_race_gc") + "/idx"
    val appender = new LshIndex(root)
    val migrator = new LshIndex(root)
    val d0 = docs.filter(col("doc_id") < 30)
    val d1 = docs.filter(col("doc_id") >= 30 && col("doc_id") < 60)
    appender.addBatch(d0, 0L)

    // park the reband between its log commit and its GC thunk — the
    // window the defeated append's retry recreates (and re-commits) its
    // same-named batch_id dir in
    val gcParked = new CountDownLatch(1)
    val retryCommitted = new CountDownLatch(1)
    migrator.log.beforeMigrateGc = () => {
      migrator.log.beforeMigrateGc = () => ()
      gcParked.countDown()
      retryCommitted.await(120, TimeUnit.SECONDS); ()
    }
    val rebandT = new Thread(() => migrator.reband(spark, 4, 2))
    // batch 1's dirs are fully written when this seam fires, so the
    // reband's pre-commit GC listing SEES them; the old keep-set-only cut
    // would have scheduled them for deletion
    appender.log.beforeAppendCommit = () => {
      appender.log.beforeAppendCommit = () => ()
      rebandT.start()
      gcParked.await(120, TimeUnit.SECONDS); ()
    }
    intercept[StoreIO.ConcurrentCommit] { appender.addBatch(d1, 1L) }
    // the retry recomputes under the new banding and COMMITS — while the
    // migration's GC is still pending
    appender.addBatch(d1, 1L)
    retryCommitted.countDown()
    rebandT.join(120000)
    assert(!rebandT.isAlive)
    // the retry's committed data must have survived the released GC: the
    // index equals a fresh build of ALL docs at the new banding
    val all = docs.filter(col("doc_id") < 60)
    assert(emitted(appender).toSet === oneShotAt(all, 4, 2),
      "the migration's GC deleted a committed retry's partitions")
    assert(appender.sigs(spark).count() === all.count())
  }

  test("LSH online: a reband racing an append loses its first commit and re-runs over the new batch") {
    val root = tmpDir("proto_race2") + "/idx"
    val idx = new LshIndex(root)
    val d0 = docs.filter(col("doc_id") < 30)
    val d1 = docs.filter(col("doc_id") >= 30)
    idx.addBatch(d0, 0L)

    // the append commits INSIDE the reband's rewrite-to-commit window
    idx.log.beforeMigrateCommit = () => {
      idx.log.beforeMigrateCommit = () => ()
      idx.addBatch(d1, 1L)
    }
    idx.reband(spark, 4, 2) // attempt 1 loses; attempt 2 folds batch 1 in
    assert(emitted(idx).toSet === oneShotAt(docs, 4, 2),
      "the migration's second attempt must include the batch that beat it")
  }

  test("replica online: a commit racing a rebucket loses the pointer loudly; its retry converges on the new layout") {
    val root = tmpDir("proto_race4") + "/rep"
    val rep = new BucketedReplica(root, pk = "user_id", nBuckets = 4)
    val batch = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_ns").as("pos"), lit("UPSERT").as("op"),
        col("ts_ns"), col("value"))
    rep.commit(batch.filter(col("user_id") < 10))
    val late = batch.filter(col("user_id") >= 10)

    // the rebucket commits INSIDE the commit's write-to-pointer window
    rep.beforePointerCommit = () => {
      rep.beforePointerCommit = () => ()
      rep.rebucket(spark, 8)
    }
    // r16: the taken-name defeat surfaces as the protocol's clean
    // ConcurrentCommit (a RuntimeException), no longer the raw
    // filesystem IOException
    intercept[graft.streaming.StoreIO.ConcurrentCommit] { rep.commit(late) }

    // the loser's orphan is invisible; the store is the rebucketed first half
    assert(rep.read(spark).select("user_id").collect().map(_.getLong(0)).toSet
      === rep.live(spark).select("user_id").collect().map(_.getLong(0)).toSet)
    assert(rep.read(spark).filter(col("user_id") >= 10).count() === 0)

    // the stream's retry opens against the NEW layout and converges; a
    // writer still pinned to the old bucket count fails loudly instead
    intercept[IllegalArgumentException] { rep.commit(late) } // nBuckets=4 stale
    val rep8 = new BucketedReplica(root, pk = "user_id", nBuckets = 8)
    rep8.commit(late)
    val expect = graft.Cdc.merge(batch, Seq("user_id"))
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(rep8.live(spark).select("user_id").collect().map(_.getLong(0)).toSet
      === expect)
  }

  test("IVF compact folds batches into one partition; probes and content unchanged") {
    val root = tmpDir("proto_ivfc") + "/idx"
    val idx = new IvfIndex(root)
    val c0 = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    idx.create(c0)
    idx.addBatch(emb.filter(col("vec_id") % 3 === 0), 0L)
    idx.addBatch(emb.filter(col("vec_id") % 3 === 1), 1L)
    val before = idx.index(spark).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val filesBefore = idx.index(spark).inputFiles.length
    idx.compact(spark)
    assert(idx.index(spark).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === before)
    assert(idx.index(spark).inputFiles.length < filesBefore)
    // post-compaction appends and the maxSeen replay fence still work
    idx.addBatch(emb.filter(col("vec_id") % 3 === 2), 2L)
    idx.addBatch(emb.filter(col("vec_id") % 3 === 2), 2L) // replay no-op
    val expect = Similarity.ivfAssign(emb, c0).select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idx.index(spark).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === expect)
  }

  test("IVF online: an append racing a recenter loses, cleans up, and its retry follows the new centroids") {
    val root = tmpDir("proto_race3") + "/idx"
    val idx = new IvfIndex(root)
    val c0 = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val c1 = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    idx.create(c0)
    idx.addBatch(emb.filter(col("vec_id") % 2 === 0), 0L)

    idx.log.beforeAppendCommit = () => {
      idx.log.beforeAppendCommit = () => ()
      idx.recenter(spark, c1)
    }
    intercept[StoreIO.ConcurrentCommit] {
      idx.addBatch(emb.filter(col("vec_id") % 2 === 1), 1L)
    }
    // retry (the stream's) assigns under the NEW centroid generation
    idx.addBatch(emb.filter(col("vec_id") % 2 === 1), 1L)
    val expect = Similarity.ivfAssign(emb, c1).select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idx.index(spark).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === expect)
  }

  test("IVF online: a recenter's GC running AFTER a defeated append's " +
    "retry re-committed must not delete the retry's data (maxSeen cut)") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val root = tmpDir("proto_race_gc_ivf") + "/idx"
    val appender = new IvfIndex(root)
    val migrator = new IvfIndex(root)
    val c0 = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val c1 = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    appender.create(c0)
    appender.addBatch(emb.filter(col("vec_id") % 2 === 0), 0L)

    val gcParked = new CountDownLatch(1)
    val retryCommitted = new CountDownLatch(1)
    migrator.log.beforeMigrateGc = () => {
      migrator.log.beforeMigrateGc = () => ()
      gcParked.countDown()
      retryCommitted.await(120, TimeUnit.SECONDS); ()
    }
    val recenterT = new Thread(() => migrator.recenter(spark, c1))
    appender.log.beforeAppendCommit = () => {
      appender.log.beforeAppendCommit = () => ()
      recenterT.start()
      gcParked.await(120, TimeUnit.SECONDS); ()
    }
    intercept[StoreIO.ConcurrentCommit] {
      appender.addBatch(emb.filter(col("vec_id") % 2 === 1), 1L)
    }
    // the retry commits its same-named batch dir while the recenter's GC
    // is still parked; releasing the GC must leave it intact
    appender.addBatch(emb.filter(col("vec_id") % 2 === 1), 1L)
    retryCommitted.countDown()
    recenterT.join(120000)
    assert(!recenterT.isAlive)
    val expect = Similarity.ivfAssign(emb, c1).select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(appender.index(spark).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === expect,
      "the recenter's GC deleted a committed retry's partitions")
  }
}
