package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental maintenance of a grouped aggregate view over the live
  * replica — the reference's reporting layer (main.tf:188-195, "Reporting
  * data from the CloudSQL menagerie DB") kept fresh per micro-batch without
  * rescanning the table it reports on.
  *
  * Maintains `agg(group) = (n_live, sum_value)` over `rep.live`. Each
  * [[applyBatch]] diffs the replica state of ONLY the buckets the batch's
  * keys hash into around the replica commit it performs:
  *
  *  1. old = live rows of the touched buckets (the same pinned scan the
  *     commit merges from)
  *  2. `rep.commit(batch)` (latest-wins, tombstone-aware — all ordering
  *     corner cases live there, not here)
  *  3. new = live rows of the touched buckets at the version the commit
  *     published. Rows of keys NOT in the batch that share a touched
  *     bucket are rewritten unchanged, so they are identical in old and
  *     new and cancel per group: the diff needs no key set.
  *  4. delta = new − old per group; store ← (store ∪ delta) summed,
  *     zero-count groups dropped.
  *
  * Because the delta is a state diff (not an interpretation of the batch's
  * ops), out-of-order and duplicate deliveries are absorbed by the replica's
  * own merge semantics: whatever the commit did to the live state is exactly
  * what the aggregate absorbs.
  *
  * Scale: per-batch cost is O(touched buckets + touched groups), never
  * O(replica) — the reporting view over a 100 TB replica updates by reading
  * the few bucket files the batch's keys hash into. The pre-commit read
  * stays valid after the commit because the replica retains the previous
  * version's files (bounded staleness), so no eager materialization is
  * needed. Sums are exact DECIMAL(18,2) (the determinism contract), re-cast
  * on store so the schema is commit-count-invariant; a deployment sizes the
  * decimal to its value domain (ANSI mode fails loudly on overflow).
  *
  * The store itself follows the replica's pointer-commit pattern: versioned
  * directory + write-once `_PTR-<v>` pointer file (creation is atomic;
  * readers resolve the max), so readers never see a partial view.
  *
  * TWO fold entry points: the plain `applyBatch(batch)` (ad-hoc and
  * concurrent maintainers — Σ-deltas semantics, crash gap detectable by
  * [[audit]]/repairable by [[rebuild]]) and the EXACTLY-ONCE
  * `applyBatch(batch, batchId)` for checkpointed streams, which fences
  * redeliveries on the view pointer's `maxb` and SELF-HEALS a fold killed
  * between its replica commit and its view write by reconstructing the
  * lost delta from the crashed fold's own surviving GC pins (window =
  * [[BucketedReplica.PinTtlMs]]; past it, loud, with [[rebuild]] as the
  * recovery). See the overload's scaladoc for the full contract.
  */
final class IncrementalAgg(
    rep: BucketedReplica,
    root: String,
    groupCol: String = "event_type",
    valueCol: String = "value",
    opCol: String = "op") {

  private val storeSchema = StructType(Seq(
    StructField(groupCol, StringType),
    StructField("n_live", LongType),
    StructField("sum_value", DecimalType(18, 2))))

  /** Same filesystem-agnostic control plane as the replica (see
    * [[StoreIO]]): the view store works on any Hadoop-reachable URI. */
  private val io = new StoreIO(root, StoreIO.sessionConf())

  private def pointerVersions: Seq[Long] = io.numberedFiles("_PTR-")

  private def currentVersion: Option[Long] = pointerVersions.sorted.lastOption

  /** The maintained aggregate view. */
  def read(spark: SparkSession): DataFrame =
    readAtDir(spark, pinView().map(_._2))

  private def readAtDir(spark: SparkSession, dir: Option[String]): DataFrame =
    dir match {
      case Some(d) => spark.read.schema(storeSchema).parquet(s"$root/$d")
      case None =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), storeSchema)
    }

  /** Pin the current view head as (version, data dir, maxFoldedBatchId) —
    * all from ONE pointer read: the dir MUST be captured together with the
    * version, because a foreign maintainer's write GCs the pointer FILE
    * immediately (while the dir itself is retained one version back for
    * exactly these in-flight readers), and `maxb` is the exactly-once
    * fence the batch-id fold path checks atomically with the head it folds
    * into. Legacy pointers: bare-number content maps to the old plain
    * `v<N>` dir name; a missing `maxb=` line reads as -1 (never fences).
    * The list+read retries when a concurrent flip deletes the listed
    * pointer mid-read; each retry chases the newest head. */
  private def pinView(): Option[(Long, String, Long)] = {
    var tries = 0
    var lastErr: Throwable = null
    while (tries < 5) {
      tries += 1
      currentVersion match {
        case None => return None
        case Some(v) =>
          try {
            val content = io.readString(io.path(s"_PTR-$v")).linesIterator.toSeq
            val dir = content.find(_.startsWith("dir="))
              .map(_.stripPrefix("dir=").trim).getOrElse(s"v$v")
            val maxb = content.find(_.startsWith("maxb="))
              .map(_.stripPrefix("maxb=").trim.toLong).getOrElse(-1L)
            return Some((v, dir, maxb))
          } catch { case e: java.io.IOException => lastErr = e }
      }
    }
    throw new IllegalStateException(
      s"view store at $root: newest pointer stayed unreadable across 5 " +
        "list+read rounds (concurrent flips outpaced this reader)", lastErr)
  }

  /** Commit `batch` to the replica and fold its effect into the aggregate. */
  def applyBatch(batch0: DataFrame): Unit = {
    // the batch feeds three actions (the shared bucket probe, the replica
    // commit's write, the view write) — cache it once
    val batch = batch0.persist()
    try applyBatchCached(batch, None) finally { batch.unpersist(); () }
  }

  /** [[applyBatch]] with the stream's micro-batch id — the EXACTLY-ONCE
    * fold, which closes the one crash gap the plain overload can only
    * audit (a death between the replica commit and the view write loses
    * that batch's view delta, because the redelivery's idempotent
    * re-commit diffs to zero). Three mechanisms, all riding existing
    * protocol state:
    *
    *  1. the replica commit is TAGGED with `batchId`, so a committed-but-
    *     unfolded batch is durably identifiable;
    *  2. the view pointer carries `maxb`, the highest folded batch id — a
    *     redelivery of an already-folded batch (crash AFTER the view
    *     write) re-commits idempotently and skips the fold;
    *  3. a redelivery that finds an EARLIER reachable version tagged with
    *     its own batch id (crash BETWEEN commit and view write)
    *     reconstructs the lost delta from that version's state diff — the
    *     crashed fold's own surviving GC pins keep both sides readable
    *     until the pin TTL, past which the repair fails LOUDLY with a
    *     rebuild() instruction (never a silent lag).
    *
    * Contract (the OpLog maxSeen discipline): batch ids are MONOTONE from
    * one logical writer (a checkpointed stream); this overload also owns
    * the replica's commit-tag channel — a deployment tagging the same
    * table's commits with unrelated ids would confuse both fences. The
    * plain overload keeps today's semantics for concurrent ad-hoc
    * maintainers (ConcurrentWritersSpec / IncrementalAggStressSpec). */
  def applyBatch(batch0: DataFrame, batchId: Long): Unit = {
    val batch = batch0.persist()
    try applyBatchCached(batch, Some(batchId)) finally { batch.unpersist(); () }
  }

  /** Test seam: invoked between the pre-commit read's snapshot and the
    * replica commit — the window a foreign writer can slip into. No-op in
    * production. */
  private[graft] var beforeReplicaCommit: () => Unit = () => ()

  private def applyBatchCached(batch: DataFrame, batchIdOpt: Option[Long]): Unit = {
    val spark = batch.sparkSession
    // ONE bucket probe per micro-batch, shared by the before-read, the
    // replica commit, and the after-read (each used to rerun the identical
    // collect — 3 driver actions where 1 suffices; at high trigger rates
    // per-batch actions are the streaming path's scalability tax)
    val touched = rep.touchedBuckets(batch)
    // ONE pinned snapshot anchors the before-read AND the commit: the
    // delta below is before/after state arithmetic, so a foreign commit
    // slipping between the two would have its effect on the batch's keys
    // silently folded into THIS batch's delta — double-counted once the
    // foreign writer's own applyBatch also lands. Serialized at the
    // pointer instead: the interleaved case aborts with ConcurrentCommit
    // and the stream's retry diffs against the post-foreign state.
    val snap = rep.pinSnapshot()
    // DURABLE GC pin on the before-read's version: once this fold's own
    // commit advances the head, a single foreign commit would roll the
    // cur+prev retention past `snap` and GC the files the (lazy) before
    // scan reads — the pin makes every publisher keep them until unpin
    val snapPin = rep.pinFiles(snap)
    // ONE scan of the touched buckets at `snap` serves BOTH the commit's
    // merge (via commit's storedIn) and the before-read: persisted, so the
    // files are opened once per fold instead of once per consumer — on an
    // object store that is a full round of file opens saved per
    // micro-batch. Eviction recomputes from snap's files (kept readable by
    // snapPin) — slower, never wrong.
    val stored = rep.readBucketsAt(spark, touched, snap).persist()
    try {
      // group/value projection of live rows (shared by the touched-bucket
      // diff and the crash-gap repair's)
      def groupedOf(rows: DataFrame): DataFrame =
        rows.filter(col(opCol) =!= "DELETE")
          .select(col(groupCol), col(valueCol).cast(DecimalType(18, 2)).as("__v"))
      def asDelta(before: DataFrame, after: DataFrame): DataFrame =
        before.select(col(groupCol), lit(-1L).as("__dn"),
            (-col("__v")).as("__ds"))
          .union(after.select(col(groupCol), lit(1L).as("__dn"),
            col("__v").as("__ds")))
      beforeReplicaCommit()
      // the commit RETURNS the snapshot it published; the after-read reads
      // AT that version, not the current head — a foreign applyBatch
      // landing between this commit's success and the delta's execution
      // would otherwise be absorbed into this batch's delta and counted
      // AGAIN when the foreign fold's own delta lands (the post-commit
      // twin of the pre-commit seam `snapAt` closes)
      val published = rep.commit(batch, precomputedTouched = Some(touched),
        snapAt = Some(snap), storedIn = Some(stored), tag = batchIdOpt)
      val pubPin = rep.pinFiles(published) // same GC protection, after-read
      try {
        afterReplicaCommit()
        // exactly-once fence (batch-id path): the view already reflects
        // this batch — the crash was after its view write
        if (batchIdOpt.exists(_ <= pinView().map(_._3).getOrElse(-1L))) return
        // a committed-but-unfolded EARLIER version tagged with this very
        // batch id = a fold that died between commit and view write; its
        // delta is what this redelivery must fold (this re-commit's own
        // before/after diff is zero by idempotence). Control-plane budget:
        // maintenance commits CARRY their predecessor's tag forward, so
        // the NEWEST tagged reachable version always names the latest data
        // batch — one tag read decides the no-crash case; the full
        // earliest-version search (the true delta lives at the FIRST
        // commit of the id — later same-id versions diff to zero) runs
        // only once a crash is confirmed.
        val pubV = published.map(_._1).getOrElse(0L)
        val priorCrashed: Option[(Long, Option[String])] = batchIdOpt.flatMap {
          bid =>
            val reach = rep.reachableVersions().filter(_._1 < pubV).toSeq
            val newestTag = reach.sortBy(-_._1).iterator
              .map { case (v, tok) => rep.tagAtReachable(v, tok) }
              .find(_.isDefined).flatten
            if (!newestTag.contains(bid)) None
            else reach.sortBy(_._1).find { case (v, tok) =>
              rep.tagAtReachable(v, tok).contains(bid) }
        }
        val delta = priorCrashed match {
          case Some((v1, tok1)) =>
            lostDelta(spark, v1, tok1, groupedOf, asDelta)
          // the WHOLE touched buckets, not just the batch's keys: rows of
          // other keys co-resident in a touched bucket are rewritten
          // unchanged by the commit, so they appear identically on both
          // sides and cancel per group (lostDelta's argument) — no key set,
          // no semi-join, no extra job
          case None =>
            asDelta(groupedOf(stored),
              groupedOf(rep.readBucketsAt(spark, touched, published)))
        }
        // pin the VIEW head this fold folds into, and publish as exactly
        // pinned+1: a foreign maintainer's view write landing inside the
        // fold collides at the write-once pointer (ConcurrentCommit)
        // instead of being silently overwritten by a store rebuilt from
        // the pre-foreign state. A collision retries the VIEW fold only,
        // with the SAME delta: the replica pointer already serialized the
        // commits, so concurrent maintainers' deltas cover disjoint
        // replica-version intervals and view = Σ deltas converges in any
        // fold order — whereas re-running the whole applyBatch would diff
        // an idempotent re-commit (zero delta) and lose this batch's
        // contribution forever.
        // NOTHING retryable may escape this loop: the replica commit is
        // already published, so an exception reaching a caller that
        // retries the whole applyBatch would re-commit idempotently,
        // diff to ZERO, and lose this batch's view delta forever (the
        // r14 stress-run lost-delta race — IncrementalAggSpec's
        // "TWO foreign view flips" test pins the interleaving). Lost-race
        // signals, every one re-pinned and re-folded with the SAME delta:
        //  - ConcurrentCommit: lost the write-once pointer;
        //  - SparkException: a racing WINNER's post-flip sweep deleted
        //    this fold's attempt dir (or the pinned base dir) MID-WRITE —
        //    the task fails loudly, never silently;
        //  - AnalysisException(PATH_NOT_FOUND): TWO foreign flips landed
        //    between pinView and the read, rolling cur+prev retention
        //    past the pinned base dir;
        //  - IOException / IllegalStateException: pointer files churning
        //    under pinView faster than its list+read rounds.
        // All of these can only arise BEFORE the pointer lands — write()
        // keeps everything after createExclusive non-throwing — so a
        // retry can never fold the delta twice. A genuine persistent
        // fault exhausts the attempts and surfaces with the cause.
        var attempts = 0
        var done = false
        while (!done) {
          try {
            val viewPin = pinView()
            afterViewPin()
            // the fence advances atomically with the fold (same pointer
            // write); a retry re-reads it with the head it re-pins
            val newMaxb = math.max(viewPin.map(_._3).getOrElse(-1L),
              batchIdOpt.getOrElse(-1L))
            val next = readAtDir(spark, viewPin.map(_._2))
              .select(col(groupCol), col("n_live").as("__dn"),
                col("sum_value").as("__ds"))
              .union(delta)
              .groupBy(col(groupCol))
              .agg(sum(col("__dn")).as("n_live"),
                sum(col("__ds")).cast(DecimalType(18, 2)).as("sum_value"))
              .filter(col("n_live") =!= 0L)
            write(next, viewPin, newMaxb)
            done = true
          } catch { case e @ (_: StoreIO.ConcurrentCommit |
                              _: org.apache.spark.SparkException |
                              _: org.apache.spark.sql.AnalysisException |
                              _: java.io.IOException |
                              _: IllegalStateException) =>
            attempts += 1
            if (attempts >= 20) throw new IllegalStateException(
              "view fold lost the race 20 times in a row; the replica " +
                "commit is published but this batch's view delta is NOT " +
                "— rebuild the view from the replica", e)
            // jittered backoff: under a storm of racers, pure spinning
            // keeps every maintainer chasing the same flip window
            Thread.sleep(5L + scala.util.Random.nextInt(45).toLong)
          }
        }
      } finally rep.unpin(pubPin)
    } finally { stored.unpersist(); rep.unpin(snapPin) }
  }

  /** Test seam: invoked between the replica commit's success and the
    * after-read — the symmetric post-commit window. No-op in production. */
  private[graft] var afterReplicaCommit: () => Unit = () => ()

  /** Test seam: invoked after the view version is pinned, before the store
    * fold reads it — the window a foreign maintainer's VIEW write can land
    * in. No-op in production. */
  private[graft] var afterViewPin: () => Unit = () => ()

  /** Test seam: invoked after a fold's view data is fully written,
    * immediately before its pointer create — the descheduled-laggard
    * window of the freed-name validation (PointerReuseSpec). No-op in
    * production. */
  private[graft] var beforeViewPointerCommit: () => Unit = () => ()

  private def write(next: DataFrame, basedOn: Option[(Long, String, Long)],
                    maxb: Long): Unit = {
    val newV = basedOn.map(_._1).getOrElse(0L) + 1
    // the RETAINED predecessor dir, resolved when `basedOn` was pinned
    // (its pointer file may already be GC'd by a racing winner)
    val prevDir = basedOn.map(_._2)
    // ATTEMPT-UNIQUE data dir + dir name in the pointer content (the
    // replica's multi-writer discipline): a defeated racer's data job can
    // never clobber files the winner's pointer references, and a crashed
    // attempt's dir is an unreferenced orphan the next success sweeps
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"v$newV-$attempt"
    // the view is one row per group — a single right-sized file
    next.coalesce(1).write.mode("overwrite").parquet(s"$root/$dir")
    beforeViewPointerCommit()
    // `prev=` names the base DIR this fold was built on — the successor-
    // ancestry witness the freed-name validation below reads (the same
    // protocol as the replica's commitPointer; legacy pointers without it
    // simply provide no proof)
    try io.createExclusive(io.path(s"_PTR-$newV"),
      s"$newV\ndir=$dir\nmaxb=$maxb\nprev=${prevDir.getOrElse("-")}\n")
    catch { case e: java.io.IOException =>
      throw new StoreIO.ConcurrentCommit(
        s"view version $newV was committed by another maintainer during " +
          s"this fold — re-read and retry (${e.getMessage})")
    }
    // FREED-NAME laggard validation (see BucketedReplica.commitPointer —
    // identical argument): a fold descheduled across TWO foreign view
    // flips finds its target pointer name GC'd and re-creates it BELOW
    // the head — readers resolve the max, so the fold's delta would be
    // silently lost (the r16 stress under-count direction). The age gate
    // below closes the window within the grace; past it, the successor
    // pointer's `prev=` convicts: if _PTR-(newV+1) was built on a dir
    // other than ours, newV was committed by someone else and our create
    // reused its freed name. Revoke (nobody can have built on a below-
    // head pointer) and lose loudly — the fold-retry re-pins the real
    // head and folds the SAME delta.
    val successorPrev: Option[String] =
      try {
        if (!io.exists(io.path(s"_PTR-${newV + 1}"))) None
        else io.readString(io.path(s"_PTR-${newV + 1}")).linesIterator
          .find(_.startsWith("prev=")).map(_.stripPrefix("prev=").trim)
      } catch { case _: java.io.IOException => None }
    if (successorPrev.exists(p => p != dir)) {
      try io.delete(io.path(s"_PTR-$newV"))
      catch { case StoreIO.Faults.BestEffort() => () }
      throw new StoreIO.ConcurrentCommit(
        s"view version $newV was already committed long ago (successor " +
          s"built on ${successorPrev.get}, not $dir) — this fold's create " +
          "landed at a freed pointer name; revoked, re-pin and retry")
    }
    // everything after the pointer flip is BEST-EFFORT housekeeping: the
    // fold-retry loop's soundness rests on "a caught exception implies
    // the pointer did NOT land" (else a retry would fold the same delta
    // twice), so GC faults here are swallowed — stale pointers are
    // harmless (readers resolve the max) and orphan dirs are re-swept by
    // the next successful write.
    try {
      // AGE-GATED (StoreIO.ptrGraceMs): a deleted pointer name can be
      // re-created by a laggard fold — never free a name a live fold
      // could still attempt
      val now = System.currentTimeMillis()
      pointerVersions.filter(_ < newV)
        .map(o => io.path(s"_PTR-$o"))
        .filter(p => io.mtime(p).exists(m => now - m > StoreIO.ptrGraceMs))
        .foreach(io.delete)
      // keep current + previous version DIRS (readers may hold the old
      // version); sweep everything else at or below THIS version —
      // defeated/crashed attempts included. Higher-version dirs belong to
      // in-flight writers that already saw this pointer (theirs to manage;
      // a crashed one's orphan is swept once the version number is passed).
      val keep = Set(dir) ++ prevDir
      io.listDirs(io.root).map(_.getName)
        .filter { d =>
          d.startsWith("v") && !keep.contains(d) &&
            d.stripPrefix("v").takeWhile(_.isDigit).toLongOption.exists(_ <= newV)
        }
        .foreach(d => io.delete(io.path(d)))
    } catch { case StoreIO.Faults.BestEffort() => () } // see publish: the
    // no-pointer-on-throw invariant must hold against ANY housekeeping
    // fault class, not just IOException (BestEffort excludes InjectedCrash,
    // which still models process death)
  }

  /** The delta a crashed fold lost: its commit (version `v1`, tagged with
    * the redelivered batch's id) landed but its view write did not, and
    * the redelivery's idempotent re-commit diffs to zero — so reconstruct
    * the (v1−1 → v1) state diff instead. Buckets whose manifest entries
    * are identical on both sides contributed nothing (same files → same
    * rows → per-group cancellation), so only the crashed commit's touched
    * buckets are read; no key set is needed because untouched keys inside
    * a touched bucket cancel the same way. Both sides stay readable via
    * the crashed fold's own surviving `_PIN` files until the pin TTL —
    * past it this fails LOUDLY with the rebuild() instruction, never a
    * silent lag. */
  private def lostDelta(spark: SparkSession, v1: Long, tok1: Option[String],
                        groupedOf: DataFrame => DataFrame,
                        asDelta: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val v0 = v1 - 1
    def gone(what: String): Nothing = throw new IllegalStateException(
      s"crash-gap repair: $what of replica version $v1/$v0 is no longer " +
        "reachable (pin TTL expired or retention rolled past) — the lost " +
        "view delta cannot be reconstructed incrementally; rebuild() the " +
        "view from the replica")
    val m1 = rep.manifestAtReachable(v1, tok1).getOrElse(gone("manifest"))
    val (snap0, m0): (rep.Snapshot, Map[Int, String]) =
      if (v0 == 0L) (None, Map.empty[Int, String]) // v1 was the first commit
      else {
        val tok0 = rep.reachableVersions().getOrElse(v0, gone("control token"))
        (Some((v0, Map(v0 -> tok0))),
          rep.manifestAtReachable(v0, tok0).getOrElse(gone("manifest")))
      }
    val touched = (m0.keySet ++ m1.keySet)
      .filter(b => m0.get(b) != m1.get(b)).toSeq.sorted
    asDelta(groupedOf(rep.readBucketsAt(spark, touched, snap0)),
      groupedOf(rep.readBucketsAt(spark, touched, Some((v1, Map(v1 -> tok1))))))
  }

  def destroy(): Unit = io.delete(io.root)

  /** Consistency audit — the DETECTOR for the one crash gap the fold
    * protocol cannot close: a process dying between its replica commit
    * and its view write loses that batch's view delta, and the stream's
    * redelivery diffs an idempotent re-commit to ZERO, so the view lags
    * silently thereafter. This recomputes the aggregate from the
    * replica's live state (one corpus scan) and full-outer-diffs it
    * against the maintained view, one row per disagreeing group (empty =
    * consistent). Run it after crash recovery or on a schedule; repair
    * with [[rebuild]]. */
  def audit(spark: SparkSession): DataFrame = {
    val truth = rep.live(spark)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("true_n"),
        sum(col(valueCol).cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("true_sum"))
    read(spark)
      .select(col(groupCol), col("n_live").as("view_n"),
        col("sum_value").as("view_sum"))
      .join(truth, Seq(groupCol), "full_outer")
      .filter(!(col("view_n") <=> col("true_n")) ||
        !(col("view_sum") <=> col("true_sum")))
      .orderBy(groupCol)
  }

  /** Rebuild the view from the replica's live state, published as the
    * next view version through the same write-once pointer (a racing
    * live fold loses or wins loudly, never mixes). The recovery arm of
    * [[audit]]. */
  def rebuild(spark: SparkSession): Unit = {
    val viewPin = pinView()
    // the rebuilt view reflects EVERY commit at its read snapshot, so the
    // exactly-once fence must advance past every batch tag already
    // committed — otherwise a later redelivery of one of them would
    // "repair" a delta the rebuild already contains (double count)
    val maxb = rep.reachableVersions().toSeq
      .flatMap { case (v, tok) => rep.tagAtReachable(v, tok) }
      .foldLeft(viewPin.map(_._3).getOrElse(-1L))(math.max)
    val next = rep.live(spark)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_live"),
        sum(col(valueCol).cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("sum_value"))
    write(next, viewPin, maxb)
  }
}
