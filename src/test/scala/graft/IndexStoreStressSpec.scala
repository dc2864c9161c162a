package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{IvfIndex, LshIndex, StoreIO}

/** Randomized concurrent-writer stress for the OpLog-backed index stores —
  * the live-threads twin of StoreProtocolSpec's deterministic
  * both-direction race tests, and the index-store sibling of
  * ConcurrentWritersSpec. One appender thread folds the corpus in
  * monotone-id batches (the store's single-stream append contract — ids
  * are fenced by maxSeen, so "N appenders" is out of contract by design)
  * while a migration thread fires randomized reband/compact (LSH) or
  * recenter/compact (IVF) at random offsets, both retrying on the
  * protocol's LOUD conflicts. The final index must equal a fresh
  * sequential build under the final layout — a single silently-dropped
  * batch, stale-generation partition, or double-emitted pair breaks the
  * equality. Seeds fixed — failures reproduce. */
class IndexStoreStressSpec extends SparkSpecBase {

  private def retrying(what: => Unit, label: String,
                       backoffMs: Long = 0): Unit = {
    var tries = 0
    var done = false
    while (!done) {
      try { what; done = true }
      catch {
        // ConcurrentCommit: defeated at the write-once log. IOException /
        // IllegalStateException: a reader outpaced mid-migration, a
        // starved migrate, or a live vacuum lease refusing the verb.
        // SparkException: a racer's sweep deleted this writer's in-flight
        // files mid-job (loud by design). All transient for a caller that
        // re-reads state on retry; a real fault still surfaces as
        // starvation with cause. `backoffMs` matters when the conflict is
        // a HELD LEASE rather than a lost race: spinning would burn the
        // retry budget inside one vacuum pass.
        case e @ (_: StoreIO.ConcurrentCommit | _: java.io.IOException |
                  _: IllegalStateException |
                  _: org.apache.spark.SparkException) =>
          tries += 1
          if (tries > 40) throw new IllegalStateException(
            s"$label starved after $tries conflict retries", e)
          if (backoffMs > 0) Thread.sleep(backoffMs)
      }
    }
  }

  private def docs: DataFrame =
    Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 60).select(col("doc_id"), col("text"))

  private def oneShotAt(d: DataFrame, r: Int, b: Int): Set[(Long, Long, Long)] = {
    val bands = SetSimilarity.bandsFromSigs(SetSimilarity.minhashSigs(d), r, b)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("LSH: a live appender racing randomized reband/compact converges " +
    "to a fresh index at the final banding, every pair exactly once") {
    for (seed <- Seq(11L, 23L)) {
      val rnd = new scala.util.Random(seed)
      val root = tmpDir(s"lsh_stress$seed") + "/idx"
      new LshIndex(root).destroy()
      // migration plan drawn UP-FRONT so the seed fully determines it
      val bandings = Seq((2, 4), (4, 2), (1, 8))
      val plan: Seq[(Long, Option[(Int, Int)])] = (1 to 3).map { _ =>
        (rnd.nextInt(500).toLong,
          if (rnd.nextBoolean()) Some(bandings(rnd.nextInt(bandings.size)))
          else None) // None = compact
      }
      val finalBanding = plan.flatMap(_._2).lastOption.getOrElse((2, 4))
      val slices = (0 until 6).map(i => docs.filter(col("doc_id") % 6 === i))
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val appender = new Thread(() => {
        try {
          val idx = new LshIndex(root)
          slices.zipWithIndex.foreach { case (b, i) =>
            retrying(idx.addBatch(b, i.toLong), s"append$i")
          }
        } catch { case t: Throwable => failures.add(t) }
      }, "lsh-appender")
      val migrator = new Thread(() => {
        try {
          val idx = new LshIndex(root)
          plan.foreach {
            case (sleepMs, Some((r, b))) =>
              Thread.sleep(sleepMs)
              retrying(idx.reband(spark, r, b), s"reband($r,$b)")
            case (sleepMs, None) =>
              Thread.sleep(sleepMs)
              retrying(idx.compact(spark), "compact")
          }
        } catch { case t: Throwable => failures.add(t) }
      }, "lsh-migrator")
      appender.start(); migrator.start()
      appender.join(120000); migrator.join(120000)
      assert(failures.isEmpty,
        s"seed $seed: ${failures.peek()}")
      val idx = new LshIndex(root)
      // the last reband to COMMIT is the migrator's last (its ops are
      // sequential in its own thread), so the final layout is known
      val got = idx.pairs(spark).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got.size === got.toSet.size,
        s"seed $seed: a pair was emitted twice under the race")
      assert(got.toSet === oneShotAt(docs, finalBanding._1, finalBanding._2),
        s"seed $seed: stressed index != fresh index at $finalBanding")
      assert(idx.sigs(spark).count() === docs.count(),
        s"seed $seed: a batch's signatures were silently dropped")
    }
  }

  test("LSH: vacuum firing mid-stream under the enforced lease loses no " +
    "committed batch and never lets a commit name a swept path") {
    for (seed <- Seq(7L, 41L)) {
      val rnd = new scala.util.Random(seed)
      val root = tmpDir(s"lsh_vac_stress$seed") + "/idx"
      new LshIndex(root).destroy()
      val vacSleeps = (1 to 4).map(_ => rnd.nextInt(400).toLong)
      val rebandAt = rnd.nextInt(600).toLong
      val slices = (0 until 8).map(i => docs.filter(col("doc_id") % 8 === i))
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val appender = new Thread(() => {
        try {
          val idx = new LshIndex(root)
          slices.zipWithIndex.foreach { case (b, i) =>
            // lease refusals and mid-write sweeps both surface here as
            // the protocol's loud classes; backoff outlives a vacuum pass
            retrying(idx.addBatch(b, i.toLong), s"append$i", backoffMs = 50)
          }
        } catch { case t: Throwable => failures.add(t) }
      }, "lsh-vac-appender")
      val vacuumer = new Thread(() => {
        try {
          val idx = new LshIndex(root)
          vacSleeps.foreach { ms =>
            Thread.sleep(ms)
            retrying({ idx.vacuum(); () }, "vacuum", backoffMs = 50)
          }
        } catch { case t: Throwable => failures.add(t) }
      }, "lsh-vacuumer")
      val migrator = new Thread(() => {
        try {
          Thread.sleep(rebandAt)
          // same-banding reband: a full migration in the mix without
          // changing the final layout the oracle compares against
          retrying(new LshIndex(root).reband(spark, 2, 4), "reband",
            backoffMs = 50)
        } catch { case t: Throwable => failures.add(t) }
      }, "lsh-vac-migrator")
      appender.start(); vacuumer.start(); migrator.start()
      appender.join(180000); vacuumer.join(180000); migrator.join(180000)
      assert(failures.isEmpty, s"seed $seed: ${failures.peek()}")
      val idx = new LshIndex(root)
      // the lease protocol's core claim, empirically: nothing committed
      // was lost to a concurrent sweep — every batch's signatures stored,
      // every pair exactly once, equal to the never-raced build
      assert(idx.sigs(spark).count() === docs.count(),
        s"seed $seed: a committed batch's signatures were swept")
      val got = idx.pairs(spark).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got.size === got.toSet.size,
        s"seed $seed: a pair was emitted twice under the vacuum race")
      assert(got.toSet === oneShotAt(docs, 2, 4),
        s"seed $seed: stressed index != fresh index after vacuum races")
      // at rest: one final quiesced vacuum reclaims whatever the races
      // leaked, and the store audits green with zero orphans
      idx.vacuum()
      val rep = idx.audit(spark).collect()
        .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
      rep.foreach { case (c, (ok, obs)) =>
        assert(ok, s"seed $seed: audit $c failed: $obs") }
      assert(rep("orphan_partitions")._2 === "0", s"seed $seed: $rep")
    }
  }

  private def emb: DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 120).select(col("vec_id"), col("embedding"))

  test("IVF: a live appender racing randomized recenter/compact converges " +
    "to the one-shot assignment under the final centroid generation") {
    for (seed <- Seq(5L, 31L)) {
      val rnd = new scala.util.Random(seed)
      val root = tmpDir(s"ivf_stress$seed") + "/idx"
      new IvfIndex(root).destroy()
      def centsFrom(lo: Int): DataFrame = emb
        .filter(col("vec_id") >= lo && col("vec_id") < lo + 6)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      val plan: Seq[(Long, Option[Int])] = (1 to 3).map { _ =>
        (rnd.nextInt(500).toLong,
          if (rnd.nextBoolean()) Some(rnd.nextInt(10) * 10) else None)
      }
      val finalLo = plan.flatMap(_._2).lastOption
      new IvfIndex(root).create(centsFrom(0))
      val slices = (0 until 6).map(i => emb.filter(col("vec_id") % 6 === i))
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val appender = new Thread(() => {
        try {
          val idx = new IvfIndex(root)
          slices.zipWithIndex.foreach { case (b, i) =>
            retrying(idx.addBatch(b, i.toLong), s"append$i")
          }
        } catch { case t: Throwable => failures.add(t) }
      }, "ivf-appender")
      val migrator = new Thread(() => {
        try {
          val idx = new IvfIndex(root)
          plan.foreach {
            case (sleepMs, Some(lo)) =>
              Thread.sleep(sleepMs)
              retrying(idx.recenter(spark, centsFrom(lo)), s"recenter($lo)")
            case (sleepMs, None) =>
              Thread.sleep(sleepMs)
              retrying(idx.compact(spark), "compact")
          }
        } catch { case t: Throwable => failures.add(t) }
      }, "ivf-migrator")
      appender.start(); migrator.start()
      appender.join(120000); migrator.join(120000)
      assert(failures.isEmpty, s"seed $seed: ${failures.peek()}")
      val idx = new IvfIndex(root)
      val finalCents = centsFrom(finalLo.getOrElse(0))
      val expect = Similarity.ivfAssign(emb, finalCents)
        .select("vec_id", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotPairs = idx.index(spark).select("vec_id", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotPairs === expect,
        s"seed $seed: stressed assignments != one-shot under final centroids")
    }
  }
}
