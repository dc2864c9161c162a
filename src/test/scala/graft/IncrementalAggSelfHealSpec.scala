package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.streaming.{BucketedReplica, CdcStream, IncrementalAgg, StoreIO}
import scala.jdk.CollectionConverters._

/** The exactly-once batch-id fold ([[IncrementalAgg.applyBatch]] with a
  * batchId) and its crash-gap self-heal — the round-13 upgrade of the one
  * gap the fold protocol previously could only AUDIT: a death between the
  * replica commit and the view write lost that batch's view delta, and
  * the stream's redelivery diffed an idempotent re-commit to zero, so the
  * view lagged silently until an operator ran audit()/rebuild().
  *
  * Now the commit is tagged with the batch id, the view pointer carries
  * the highest folded id (`maxb`), and a redelivery that finds an earlier
  * reachable version tagged with its own id reconstructs the lost delta
  * from that version's state diff — readable via the crashed fold's own
  * surviving GC pins. Every crash here is injected as a real process
  * death ([[StoreIO.Faults]]): all I/O after the crash point fails, so
  * the fold's finally-block unpins die too and the pins survive exactly
  * as they would a JVM kill. */
class IncrementalAggSelfHealSpec extends SparkSpecBase {

  private def env(rows: Seq[(String, Long, Long, Double, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (o, pos, uid, v, e) =>
        Row(o, "users", pos, pos * 1000L, uid, v, e) }: _*),
      CdcStream.envelopeSchema)

  private val b1 = Seq(
    ("INSERT", 1L, 10L, 5.00, "a"), ("INSERT", 2L, 11L, 7.25, "b"),
    ("INSERT", 3L, 12L, 1.50, "a"))
  private val b2 = Seq(
    ("UPDATE", 4L, 10L, 6.00, "a"), ("DELETE", 5L, 11L, 0.0, "b"),
    ("INSERT", 6L, 14L, 3.75, "b"))

  private case class Fixture(parent: String, nBuckets: Int = 4) {
    val repRoot = s"$parent/replica"; val viewRoot = s"$parent/view"
    def rep = new BucketedReplica(repRoot, nBuckets = nBuckets)
    def agg = new IncrementalAgg(rep, viewRoot)
    def viewRows: Seq[String] =
      agg.read(spark).collect().map(_.toString).sorted.toSeq
    def auditRows: Seq[String] =
      agg.audit(spark).collect().map(_.toString).toSeq
    def pinCount: Int = Option(new java.io.File(repRoot).listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("_PIN-"))
  }

  private def seeded(): Fixture = {
    val f = Fixture(tmpDir("selfheal"))
    f.agg.applyBatch(env(b1), 1L)
    f
  }

  /** Kill the fold between its replica commit and its view write: arm the
    * injector from the post-commit seam so the view pointer write AND the
    * finally-block unpins all die — a faithful process death. */
  private def crashFoldAfterCommit(f: Fixture, batch: DataFrame,
                                   batchId: Long): Unit = {
    val a = f.agg
    a.afterReplicaCommit = () => StoreIO.Faults.armAt(f.parent, 1)
    try intercept[Throwable] { a.applyBatch(batch, batchId) }
    finally {
      val (fired, _) = StoreIO.Faults.disarm()
      assert(fired, "the injected crash never triggered")
    }
  }

  test("redelivery of an already-folded batch id is fenced to a no-op") {
    val f = seeded()
    f.agg.applyBatch(env(b2), 2L)
    val after = f.viewRows
    assert(f.auditRows.isEmpty)
    f.agg.applyBatch(env(b2), 2L) // checkpoint lost AFTER the fold
    assert(f.viewRows === after, "a fenced redelivery changed the view")
    assert(f.auditRows.isEmpty)
  }

  test("a fold that dies between commit and view write is healed EXACTLY " +
    "by the redelivery — no audit, no rebuild") {
    val f = seeded()
    crashFoldAfterCommit(f, env(b2), 2L)
    assert(f.pinCount >= 2, "the crashed fold's GC pins must survive")
    assert(f.auditRows.nonEmpty, "the crash gap must be real before the heal")
    f.agg.applyBatch(env(b2), 2L) // the stream's redelivery
    assert(f.auditRows.isEmpty,
      s"redelivery did not heal the gap: ${f.auditRows}")
    // and the heal is once-only: another redelivery is fenced
    val healed = f.viewRows
    f.agg.applyBatch(env(b2), 2L)
    assert(f.viewRows === healed)
  }

  test("two crashed attempts in a row: the third redelivery folds the " +
    "EARLIEST committed version's delta exactly once") {
    val f = seeded()
    crashFoldAfterCommit(f, env(b2), 2L)
    crashFoldAfterCommit(f, env(b2), 2L) // the redelivery crashes too
    f.agg.applyBatch(env(b2), 2L)
    assert(f.auditRows.isEmpty,
      s"double-crash heal diverged: ${f.auditRows}")
  }

  test("maintenance landing between the crash and the redelivery does not " +
    "break the repair (pins keep the crashed window readable)") {
    val f = seeded()
    crashFoldAfterCommit(f, env(b2), 2L)
    f.rep.compact(spark) // a racing OPTIMIZE pass rolls cur+prev forward
    f.agg.applyBatch(env(b2), 2L)
    assert(f.auditRows.isEmpty,
      s"repair across a compaction diverged: ${f.auditRows}")
  }

  test("rebuild advances the fence: a redelivery AFTER an operator rebuild " +
    "cannot fold the same batch again") {
    val f = seeded()
    crashFoldAfterCommit(f, env(b2), 2L)
    f.agg.rebuild(spark) // operator repairs by rebuild instead of waiting
    assert(f.auditRows.isEmpty)
    val rebuilt = f.viewRows
    f.agg.applyBatch(env(b2), 2L) // late redelivery
    assert(f.viewRows === rebuilt,
      "a post-rebuild redelivery double-counted the batch")
    assert(f.auditRows.isEmpty)
  }

  test("a gap whose pre-state rolled out of reach fails LOUDLY with the " +
    "rebuild instruction — never a silent lag") {
    val f = seeded()
    crashFoldAfterCommit(f, env(b2), 2L)
    // simulate the pin TTL expiring while the crashed version itself is
    // still reachable (it becomes `prev` once the redelivery re-commits)
    Option(new java.io.File(f.repRoot).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_PIN-")).foreach(_.delete())
    val e = intercept[IllegalStateException] { f.agg.applyBatch(env(b2), 2L) }
    assert(e.getMessage.contains("rebuild"),
      s"expired-window repair must point at rebuild(), got: ${e.getMessage}")
    f.agg.rebuild(spark)
    assert(f.auditRows.isEmpty)
  }

  test("multi-table folds compose crash-free without coordination: a death " +
    "anywhere in the per-table loop redelivers to consistent tables, " +
    "views, and frontier") {
    def env2(rows: Seq[(String, String, Long, Long, Double, String)]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (o, t, pos, uid, v, e) =>
          Row(o, t, pos, pos * 1000L, uid, v, e) }: _*),
        CdcStream.envelopeSchema)
    val b1m = Seq(("INSERT", "events", 1L, 10L, 5.0, "a"),
      ("INSERT", "pets", 2L, 20L, 7.0, "x"))
    val b2m = Seq(("UPDATE", "events", 3L, 10L, 6.0, "a"),
      ("INSERT", "events", 4L, 11L, 2.5, "b"),
      ("INSERT", "pets", 5L, 21L, 1.0, "y"),
      ("DELETE", "pets", 6L, 20L, 0.0, "x"),
      ("INSERT", null, 7L, 12L, 9.0, "z")) // unroutable: dead-lettered
    // the folds run on threads of their own: none may outlive its delivery
    // (returned or thrown), or it could still be writing while the
    // redelivery runs. Recorded, and asserted after each step, so the
    // sweep's catch-all cannot mistake a violation for the injected crash.
    val outlived = scala.collection.mutable.Buffer.empty[String]
    def deliver(parent: String, b: Seq[(String, String, Long, Long, Double, String)],
                id: Long): Unit =
      try CdcStream.applyTablesWithAggViews(env2(b), id, s"$parent/replicas",
        s"$parent/aggs", s"$parent/staging", s"$parent/dlq")
      finally outlived ++= Thread.getAllStackTraces.keySet.asScala
        .filter(th => th.isAlive && th.getName.startsWith("cdc-fold-"))
        .map(_.getName)
    def noFoldOutlived(step: String): Unit =
      assert(outlived.isEmpty, s"$step: folds outlived a delivery: $outlived")
    def stateOf(parent: String): Seq[String] =
      Seq("events", "pets").flatMap { t =>
        val rep = new BucketedReplica(s"$parent/replicas/$t")
        val agg = new IncrementalAgg(rep, s"$parent/aggs/$t")
        assert(agg.audit(spark).isEmpty, s"$t view lags")
        rep.live(spark).collect().map(r => s"$t|R|$r").toSeq ++
          agg.read(spark).collect().map(r => s"$t|V|$r").toSeq
      }.sorted :+
        s"frontier=${CdcStream.appliedFrontier(s"$parent/replicas")}"
    // control: never-crashed; its second delivery pins the action budget:
    // one staging write, ONE routing action, the dead-letter write, and
    // each table's 3-action fold
    val ctl = tmpDir("mtbl_ctl")
    deliver(ctl, b1m, 0L)
    val n = countActions(deliver(ctl, b2m, 1L))
    assert(n <= 3 + 3 * 2, s"a 2-table micro-batch ran $n Spark actions — " +
      "expected at most 3 + 3 per table")
    assert(spark.read.parquet(s"$ctl/dlq/batch_id=1").count() === 1L)
    noFoldOutlived("control")
    val want = stateOf(ctl)
    // crash at strided mutation points across BOTH tables' folds and the
    // frontier marker, redeliver, and require exact convergence each time
    var k = 1
    var sweeping = true
    var points = 0
    while (sweeping && k <= 60) {
      val p = tmpDir(s"mtbl_k$k")
      deliver(p, b1m, 0L)
      StoreIO.Faults.armAt(p, k)
      var crashed = false
      try deliver(p, b2m, 1L)
      catch { case _: Throwable => crashed = true }
      val (fired, _) = StoreIO.Faults.disarm()
      noFoldOutlived(s"k=$k")
      if (!crashed) { assert(!fired); sweeping = false }
      else {
        assert(fired, s"real failure at k=$k")
        points += 1
        // the frontier may only claim the batch once EVERY table's replica
        // and view reflect it (markApplied is last; a crash inside it
        // after the marker create is a fully-applied state)
        if (CdcStream.appliedFrontier(s"$p/replicas").getOrElse(-1L) >= 1L)
          assert(stateOf(p) === want,
            s"k=$k: frontier claims applied but a table lags")
        deliver(p, b2m, 1L) // the redelivery
        noFoldOutlived(s"k=$k redelivery")
        assert(stateOf(p) === want, s"k=$k: redelivery diverged")
      }
      k += 3 // stride: per-table fold internals are already swept exhaustively
    }
    assert(points >= 8, s"multi-table sweep covered only $points points")
    info(s"multi-table loop: $points strided crash points, all converged")
    // one table's fold dies while the other's runs to completion: the
    // frontier must not claim the batch, and the redelivery converges
    Seq(1, 7).foreach { k =>
      val p = tmpDir(s"mtbl_one_k$k")
      deliver(p, b1m, 0L)
      StoreIO.Faults.armAt(s"$p/replicas/events", k)
      val crashed = try { deliver(p, b2m, 1L); false }
        catch { case _: Throwable => true }
      val (fired, _) = StoreIO.Faults.disarm()
      noFoldOutlived(s"events-only k=$k")
      assert(fired && crashed, s"events-only crash at k=$k did not fire")
      assert(!new java.io.File(s"$p/replicas/_APPLIED-1").exists(),
        s"k=$k: a batch with a failed table fold was marked applied")
      deliver(p, b2m, 1L)
      noFoldOutlived(s"events-only k=$k redelivery")
      assert(stateOf(p) === want, s"events-only k=$k: redelivery diverged")
    }
  }

  test("the streaming wiring passes the micro-batch id end-to-end " +
    "(applyToReplicaWithAggView is the exactly-once fold)") {
    val parent = tmpDir("selfheal_stream")
    val src = s"$parent/src"; new java.io.File(src).mkdirs()
    env(b1).coalesce(1).write.mode("overwrite").json(s"$src/f1")
    val q = CdcStream.applyToReplicaWithAggView(
      spark.readStream.schema(CdcStream.envelopeSchema).json(s"$src/f1"),
      s"$parent/replica", s"$parent/view", s"$parent/staging",
      s"$parent/dlq", s"$parent/ckpt")
    q.awaitTermination()
    val f = Fixture(parent, nBuckets = 32) // the stream's default layout
    assert(f.auditRows.isEmpty)
    // the fold recorded its batch id: a manual replay of batch 0 is fenced
    val before = f.viewRows
    f.agg.applyBatch(env(b1), 0L)
    assert(f.viewRows === before, "the stream's fold did not record maxb")
  }
}
