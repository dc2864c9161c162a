package graft

import graft.streaming.{BucketedReplica, IncrementalAgg}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental aggregate-view maintenance (b13): after every batch the
  * maintained view must equal a from-scratch aggregate of the replica's
  * live state, under in-order, out-of-order, and redelivered batches. */
class IncrementalAggSpec extends SparkSpecBase {

  private def mk(prefix: String): (BucketedReplica, IncrementalAgg) = {
    val root = tmpDir(prefix)
    val rep = new BucketedReplica(s"$root/replica", nBuckets = 8)
    (rep, new IncrementalAgg(rep, s"$root/agg"))
  }

  private def recompute(rep: BucketedReplica): Seq[Row] =
    rep.live(spark)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("sum_value"))
      .orderBy("event_type").collect().toSeq

  private def view(agg: IncrementalAgg): Seq[Row] =
    agg.read(spark).orderBy("event_type").collect().toSeq

  test("view equals from-scratch recompute after every in-order batch") {
    val (rep, agg) = mk("ia_inorder")
    val ch = Cdc.changelog(spark, sfDir)
    val cut = ch.agg(max(col("pos"))).head().getLong(0) / 3
    val batches = Seq(
      ch.filter(col("pos") <= cut),
      ch.filter(col("pos") > cut && col("pos") <= 2 * cut),
      ch.filter(col("pos") > 2 * cut))
    batches.foreach { b =>
      agg.applyBatch(b)
      assert(view(agg) === recompute(rep))
    }
  }

  test("out-of-order interleaved batches converge to the same view") {
    val (rep, agg) = mk("ia_ooo")
    val ch = Cdc.changelog(spark, sfDir)
    Seq(2, 0, 1).foreach(i => agg.applyBatch(ch.filter(col("pos") % 3 === i)))
    assert(view(agg) === recompute(rep))
  }

  test("redelivering an already-applied batch is a no-op") {
    val (rep, agg) = mk("ia_redeliver")
    val ch = Cdc.changelog(spark, sfDir)
    val b0 = ch.filter(col("pos") % 2 === 0)
    agg.applyBatch(b0)
    val once = view(agg)
    agg.applyBatch(b0) // state diff around an idempotent commit → zero delta
    assert(view(agg) === once)
    assert(view(agg) === recompute(rep))
  }

  test("streaming: the view is maintained inside the replica-merge stream") {
    val root = tmpDir("ia_stream")
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val ch = Cdc.changelog(spark, sfDir).filter(col("user_id") < 40)
    val cut = ch.agg(max(col("pos"))).head().getLong(0) / 2
    def land(df: DataFrame, i: Int): Unit = {
      val stage = s"$root/chunk$i"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(in, f"chunk-$i%05d.parquet").toPath)
      ()
    }
    land(ch.filter(col("pos") <= cut), 0)
    def run(): Unit = streaming.CdcStream.applyToReplicaWithAggView(
      streaming.CdcStream.fileChangelogStream(spark, in),
      s"$root/replica", s"$root/agg", s"$root/staging", s"$root/dlq",
      s"$root/ck").awaitTermination()
    run()
    val rep = new BucketedReplica(s"$root/replica")
    val agg = new IncrementalAgg(rep, s"$root/agg")
    assert(view(agg) === recompute(rep))
    // second delivery through the same checkpoint: only the new file applies
    land(ch.filter(col("pos") > cut), 1)
    run()
    assert(view(agg) === recompute(rep))
    assert(view(agg).nonEmpty)
  }

  test("applyBatch's driver-action count is bounded (one shared bucket probe)") {
    val (rep, agg) = mk("ia_actions")
    val ch = Cdc.changelog(spark, sfDir).filter(col("user_id") < 40).persist()
    try {
      agg.applyBatch(ch.filter(col("pos") % 2 === 0)) // warm: store + replica exist
      val n = countActions(agg.applyBatch(ch.filter(col("pos") % 2 === 1)))
      // exactly: 1 bucket probe (SHARED by before-read, commit, after-read —
      // each used to run its own identical collect, 5 actions total) + the
      // commit's version write + the view write
      assert(n <= 3, s"applyBatch ran $n driver actions — expected the " +
        "shared-probe control plane (probe + replica write + view write = 3)")
      assert(view(agg) === recompute(rep)) // and it still computes the truth
    } finally { ch.unpersist(); () }
  }

  test("recovery: an orphan version dir and stale pointer tmp from a crashed writer are clobbered") {
    val (rep, agg) = mk("ia_crash")
    val ch = Cdc.changelog(spark, sfDir).filter(col("user_id") < 30)
    agg.applyBatch(ch.filter(col("pos") % 2 === 0))
    val good = view(agg)
    // simulate a writer that died after writing the NEXT version dir but
    // before creating its _PTR-2 pointer file (the commit step)
    // inputFiles are file: URIs — resolve through URI or File treats them
    // as relative paths and plants the orphan in the working directory
    val root = new java.io.File(new java.net.URI(agg.read(spark).inputFiles.head))
      .getParentFile.getParent
    val orphan = new java.io.File(root, "v2")
    orphan.mkdirs()
    java.nio.file.Files.write(new java.io.File(orphan, "garbage").toPath,
      "not parquet".getBytes)
    assert(view(agg) === good) // reader still resolves the committed version
    agg.applyBatch(ch.filter(col("pos") % 2 === 1)) // recovery commit: v2 clobbered
    assert(view(agg) === recompute(rep))
  }

  test("a group whose last live row is deleted disappears from the view") {
    import spark.implicits._
    val (rep, agg) = mk("ia_drop")
    def batch(rows: Seq[(String, Long, Long, Long, Double, String)]): DataFrame =
      rows.toDF("op", "pos", "ts_ns", "user_id", "value", "event_type")
        .withColumn("tbl", lit("users"))
    agg.applyBatch(batch(Seq(
      ("INSERT", 1L, 1L, 1L, 10.0, "solo"),
      ("INSERT", 2L, 2L, 2L, 5.0, "pair"),
      ("INSERT", 3L, 3L, 3L, 7.0, "pair"))))
    assert(view(agg).map(_.getString(0)) === Seq("pair", "solo"))
    agg.applyBatch(batch(Seq(("DELETE", 4L, 4L, 1L, 0.0, "solo"))))
    assert(view(agg).map(_.getString(0)) === Seq("pair"))
    assert(view(agg) === recompute(rep))
    // and an update that MOVES a key across groups shifts both sides
    agg.applyBatch(batch(Seq(("UPDATE", 5L, 5L, 3L, 2.0, "moved"))))
    assert(view(agg).map(r => (r.getString(0), r.getLong(1))) ===
      Seq(("moved", 1L), ("pair", 1L)))
    assert(view(agg) === recompute(rep))
  }

  test("a foreign applyBatch inside the diff window aborts this fold " +
    "loudly; the retry never double-counts the overlap") {
    import spark.implicits._
    val root = tmpDir("ia_seam")
    val rep = new BucketedReplica(s"$root/replica", nBuckets = 8)
    val agg = new IncrementalAgg(rep, s"$root/agg")
    def batch(rows: Seq[(String, Long, Long, Long, Double, String)]): DataFrame =
      rows.toDF("op", "pos", "ts_ns", "user_id", "value", "event_type")
        .withColumn("tbl", lit("users"))
    agg.applyBatch(batch(Seq(
      ("INSERT", 1L, 1L, 1L, 10.0, "a"),
      ("INSERT", 2L, 2L, 2L, 5.0, "b"))))
    // a SECOND maintainer of the same view commits a higher-pos update to
    // key 2 between this fold's before-read and its commit: without the
    // pinned snapshot, this fold's delta would absorb the foreign change
    // to key 2 that the foreign fold ALREADY counted — double-count.
    agg.beforeReplicaCommit = () => {
      agg.beforeReplicaCommit = () => ()
      val rep2 = new BucketedReplica(s"$root/replica", nBuckets = 8)
      new IncrementalAgg(rep2, s"$root/agg")
        .applyBatch(batch(Seq(("UPDATE", 10L, 10L, 2L, 100.0, "b"))))
    }
    intercept[graft.streaming.StoreIO.ConcurrentCommit] {
      agg.applyBatch(batch(Seq(("UPDATE", 5L, 5L, 2L, 7.0, "b"))))
    }
    // the defeated fold wrote nothing: view = foreign maintainer's state
    assert(view(agg) === recompute(rep), "defeated fold must not publish")
    // the retry diffs against the post-foreign state and converges (the
    // pos-5 update loses latest-wins to the foreign pos-10 row — a
    // semantic no-op the diff arithmetic must also see as one)
    agg.applyBatch(batch(Seq(("UPDATE", 5L, 5L, 2L, 7.0, "b"))))
    assert(view(agg) === recompute(rep))
    assert(view(agg).map(r => (r.getString(0), r.getDecimal(2).doubleValue)) ===
      Seq(("a", 10.0), ("b", 100.0)))
  }

  private def envBatch(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[(String, Long, Long, Long, Double, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("op", "pos", "ts_ns", "user_id", "value", "event_type")
      .withColumn("tbl", lit("users"))
  }

  test("a foreign applyBatch in the POST-commit window is not absorbed " +
    "into this fold's delta (the symmetric seam)") {
    val root = tmpDir("ia_postseam")
    val rep = new BucketedReplica(s"$root/replica", nBuckets = 8)
    val agg = new IncrementalAgg(rep, s"$root/agg")
    agg.applyBatch(envBatch(spark, Seq(
      ("INSERT", 1L, 1L, 1L, 10.0, "a"),
      ("INSERT", 2L, 2L, 2L, 5.0, "b"))))
    // the foreign maintainer lands a FULL fold (replica commit + view
    // write) between this fold's replica commit and its after-read: an
    // after-read at the current HEAD would absorb the foreign change to
    // key 2 into this fold's delta — double-counted, because the foreign
    // fold's own view write already counted it. The after-read at the
    // snapshot THIS commit published excludes it.
    agg.afterReplicaCommit = () => {
      agg.afterReplicaCommit = () => ()
      val rep2 = new BucketedReplica(s"$root/replica", nBuckets = 8)
      new IncrementalAgg(rep2, s"$root/agg")
        .applyBatch(envBatch(spark, Seq(("UPDATE", 10L, 10L, 2L, 100.0, "b"))))
    }
    agg.applyBatch(envBatch(spark, Seq(("UPDATE", 5L, 5L, 1L, 42.0, "a"))))
    assert(view(agg) === recompute(rep),
      "foreign post-commit fold double-counted into this batch's delta")
    assert(view(agg).map(r => (r.getString(0), r.getDecimal(2).doubleValue)) ===
      Seq(("a", 42.0), ("b", 100.0)))
  }

  test("the crash gap (die between replica commit and view write) is " +
    "DETECTED by audit() and repaired by rebuild()") {
    val root = tmpDir("ia_crashgap")
    val rep = new BucketedReplica(s"$root/replica", nBuckets = 8)
    val agg = new IncrementalAgg(rep, s"$root/agg")
    agg.applyBatch(envBatch(spark, Seq(
      ("INSERT", 1L, 1L, 1L, 10.0, "a"),
      ("INSERT", 2L, 2L, 2L, 5.0, "b"))))
    assert(agg.audit(spark).collect().isEmpty, "fresh view must audit clean")
    // crash simulation: the process dies AFTER the replica commit lands,
    // BEFORE the view write — the one interleaving the fold protocol
    // cannot make atomic (two independent stores)
    final class Crash extends RuntimeException("simulated crash")
    agg.afterReplicaCommit = () => { agg.afterReplicaCommit = () => (); throw new Crash }
    intercept[Crash] {
      agg.applyBatch(envBatch(spark, Seq(("UPDATE", 5L, 5L, 2L, 50.0, "b"))))
    }
    // the stream redelivers; the re-commit is a state-level no-op, so the
    // redelivered fold's delta is ZERO — the view now lags SILENTLY, the
    // exact gap audit() exists to expose
    agg.applyBatch(envBatch(spark, Seq(("UPDATE", 5L, 5L, 2L, 50.0, "b"))))
    val drift = agg.audit(spark).collect()
    assert(drift.length === 1 && drift.head.getString(0) === "b",
      s"audit must expose the lost delta, got ${drift.mkString(",")}")
    assert(view(agg) !== recompute(rep), "the gap must actually exist")
    agg.rebuild(spark)
    assert(agg.audit(spark).collect().isEmpty, "rebuild must repair the view")
    assert(view(agg) === recompute(rep))
    // and the repaired view keeps folding incrementally
    agg.applyBatch(envBatch(spark, Seq(("INSERT", 6L, 6L, 3L, 7.0, "a"))))
    assert(view(agg) === recompute(rep))
    assert(agg.audit(spark).collect().isEmpty)
  }

  test("a foreign VIEW write inside the fold loses loudly at the view " +
    "pointer and the retry folds the same delta against the new head") {
    val root = tmpDir("ia_viewseam")
    val rep = new BucketedReplica(s"$root/replica", nBuckets = 8)
    val agg = new IncrementalAgg(rep, s"$root/agg")
    agg.applyBatch(envBatch(spark, Seq(
      ("INSERT", 1L, 1L, 1L, 10.0, "a"),
      ("INSERT", 2L, 2L, 2L, 5.0, "b"))))
    // foreign fold lands AFTER this fold pinned the view version: the
    // write-once view pointer makes this fold lose its first publish
    // attempt; the retry re-pins and re-folds the SAME delta — neither
    // maintainer's contribution is lost (the old fresh-currentVersion
    // write would have silently dropped the foreign delta)
    var fired = false
    agg.afterViewPin = () => {
      if (!fired) {
        fired = true
        val rep2 = new BucketedReplica(s"$root/replica", nBuckets = 8)
        new IncrementalAgg(rep2, s"$root/agg")
          .applyBatch(envBatch(spark, Seq(("UPDATE", 10L, 10L, 2L, 100.0, "b"))))
      }
    }
    agg.applyBatch(envBatch(spark, Seq(("UPDATE", 5L, 5L, 1L, 42.0, "a"))))
    assert(fired)
    assert(view(agg) === recompute(rep),
      "racing view writes must both be reflected after the loud retry")
    assert(view(agg).map(r => (r.getString(0), r.getDecimal(2).doubleValue)) ===
      Seq(("a", 42.0), ("b", 100.0)))
  }

  test("TWO foreign view flips inside the fold GC the pinned base dir — " +
    "the fold re-pins and still lands its delta (the r14 lost-delta race)") {
    val root = tmpDir("ia_dirgc")
    val rep = new BucketedReplica(s"$root/replica", nBuckets = 8)
    val agg = new IncrementalAgg(rep, s"$root/agg")
    agg.applyBatch(envBatch(spark, Seq(
      ("INSERT", 1L, 1L, 1L, 10.0, "a"),
      ("INSERT", 2L, 2L, 2L, 5.0, "b"))))
    // the victim pins view version v (dir Dv); a foreign maintainer lands
    // TWO folds before the victim's read executes — the second winner's
    // cur+prev retention no longer covers Dv, so the sweep deletes it.
    // Pre-fix, the victim's view read then threw AnalysisException
    // (PATH_NOT_FOUND), which ESCAPED the fold loop AFTER the replica
    // commit had published: a stress-harness-style wholesale retry
    // re-commits idempotently, diffs to zero, and the batch's view delta
    // is lost forever — the exact interleaving class behind the r14
    // IncrementalAggStressSpec lost-delta failure. The fold must instead
    // treat the GC'd base dir as one more lost race: re-pin the (newer)
    // head and fold the SAME delta.
    var fired = false
    agg.afterViewPin = () => {
      if (!fired) {
        fired = true
        val rep2 = new BucketedReplica(s"$root/replica", nBuckets = 8)
        val agg2 = new IncrementalAgg(rep2, s"$root/agg")
        agg2.applyBatch(envBatch(spark, Seq(("UPDATE", 10L, 10L, 2L, 100.0, "b"))))
        agg2.applyBatch(envBatch(spark, Seq(("UPDATE", 11L, 11L, 3L, 7.0, "b"))))
      }
    }
    agg.applyBatch(envBatch(spark, Seq(("UPDATE", 5L, 5L, 1L, 42.0, "a"))))
    assert(fired)
    assert(view(agg) === recompute(rep),
      "a fold whose pinned view dir was GC'd by two racing flips must " +
        "re-pin and fold its delta, never escape post-commit")
    assert(view(agg).map(r => (r.getString(0), r.getDecimal(2).doubleValue)) ===
      Seq(("a", 42.0), ("b", 107.0)))
  }
}
