package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** SURVEY §2 group D — the true streaming half of the CDC chain.
  *
  * Reference topology (README.md:126-208): change files land in a bucket,
  * a notification fires per finalized object (main.tf:169-175), and the
  * streaming merge job folds them into the replica. Spark-first mapping:
  * the Structured Streaming file source's discovery log subsumes the
  * notification hop (A5); `foreachBatch` runs the same latest-wins merge
  * (Cdc.merge) the batch path uses (D8), giving stream–batch equivalence
  * by construction.
  *
  * Scale notes: file-source discovery is O(new files) per micro-batch with
  * `maxFilesPerTrigger` bounding batch size; the replica is a
  * [[BucketedReplica]] — hash-bucketed by primary key, so each micro-batch
  * re-merges and rewrites ONLY the buckets its keys touch (per-batch cost
  * scales with batch size, not replica size) and commits with one atomic
  * pointer rename (readers never observe a partial replica).
  */
object CdcStream {

  /** CDC envelope schema for streamed change files (FIXTURES.md §2, flat). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("op", StringType), StructField("tbl", StringType),
    StructField("pos", LongType), StructField("ts_ns", LongType),
    StructField("user_id", LongType), StructField("value", DoubleType),
    StructField("event_type", StringType)))

  /** A5/D1 — notification-driven incremental ingest: the file source
    * discovers newly-finalized objects each micro-batch. */
  def fileChangelogStream(spark: SparkSession, dir: String,
                          maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(envelopeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Normalize the nested Datastream wire envelope (payload +
    * source_metadata — graft.sources.AvroChangeFiles.nestedSparkSchema,
    * SURVEY §1.2) to the flat merge envelope, so D8 ingests either shape.
    * Pure column extraction: works identically on batch and streaming
    * DataFrames and stays inside whole-stage codegen. */
  def flattenNested(nested: DataFrame): DataFrame =
    nested.select(
      col("source_metadata.op").as("op"),
      col("source_metadata.tbl").as("tbl"),
      col("source_metadata.pos").as("pos"),
      col("source_metadata.source_ts_ns").as("ts_ns"),
      col("payload.user_id").as("user_id"),
      col("payload.value").as("value"),
      col("payload.event_type").as("event_type"))

  /** A5 variant for the nested wire shape: stream the change files with the
    * nested schema, flattened for the merge. */
  def nestedFileChangelogStream(spark: SparkSession, dir: String,
                                maxFilesPerTrigger: Int = 1): DataFrame =
    flattenNested(spark.readStream
      .schema(graft.sources.AvroChangeFiles.nestedSparkSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir))

  /** D2 — event-time watermark over the change stream (ts_ns → micros ts). */
  def withEventTime(changes: DataFrame, watermark: String = "10 minutes"): DataFrame =
    changes
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", watermark)

  /** D8 — stateful upsert per micro-batch: staging-append + latest-wins merge
    * into the running [[BucketedReplica]] (the Cloud_Datastream_to_BigQuery
    * two-phase write, reference README.md:204-205), with D9's dead-letter
    * split for rows that cannot merge (null primary key / position).
    *
    * Only buckets containing batch keys are re-merged and rewritten — the
    * per-batch work is bounded by the batch, not the replica (the property
    * the reference's bounded staging→MERGE cycle exists for).
    *
    * `tombstoneRetentionNs`: when set, each commit garbage-collects stored
    * DELETE tombstones older than (batch max event time − retention) — the
    * watermark contract: a tombstone can be dropped only once no earlier
    * position can still arrive for its key. Default None retains all
    * tombstones (required when the source delivers unboundedly out of
    * order, as in the redelivery specs). */
  def applyToReplica(changes: DataFrame, replicaDir: String, stagingDir: String,
                     dlqDir: String, checkpointDir: String,
                     tombstoneRetentionNs: Option[Long] = None,
                     evolveSchema: Boolean = false): StreamingQuery =
    availableNow(changes, checkpointDir) { (batch, batchId) =>
      applyBatch(batch, batchId, replicaDir, stagingDir, dlqDir,
        tombstoneRetentionNs, evolveSchema)
    }

  /** Drain everything `changes` has now through `batchFn`, one
    * foreachBatch micro-batch at a time, checkpointed at `checkpointDir`. */
  private def availableNow(changes: DataFrame, checkpointDir: String)
                          (batchFn: (DataFrame, Long) => Unit): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(batchFn)
      .start()

  /** One micro-batch of the D8 merge, idempotent under foreachBatch retries
    * (Structured Streaming redelivers a batch with the SAME batchId after a
    * mid-batch crash):
    *  - staging and DLQ write to a batch_id=<id> partition dir with
    *    overwrite, so a retry replaces its own output instead of appending a
    *    duplicate (exactly-once staging; readers see batch_id as a partition
    *    column);
    *  - the replica commit is latest-wins over retained positions, so
    *    re-committing the same batch is a semantic no-op (a new version with
    *    identical live content). */
  /** `evolveSchema`: a new producer generation that ADDS a column lands it
    * by widening the replica contract (BucketedReplica.commit's nullable
    * append) instead of silently dropping it — mid-stream schema evolution,
    * the streaming twin of the batch `mergeSchema` path (a14). Mixed
    * generations interleave freely: old-generation batches read NULL for
    * the new column; old versions stay time-travel readable under the
    * schema they were committed with. */
  def applyBatch(batch: DataFrame, batchId: Long, replicaDir: String,
                 stagingDir: String, dlqDir: String,
                 tombstoneRetentionNs: Option[Long] = None,
                 evolveSchema: Boolean = false): Unit = {
    val good = stageAndSplit(batch, batchId, stagingDir, dlqDir)
    // tag = the staged batch id: replica versions align with the staging
    // partitions they reflect (and with the multi-table frontier protocol)
    new BucketedReplica(replicaDir)
      .commit(good, horizonOf(good, tombstoneRetentionNs), tag = Some(batchId),
        evolveSchema = evolveSchema)
    ()
  }

  /** D8 + reporting: the replica merge with the aggregate reporting view
    * ([[IncrementalAgg]]) maintained in the SAME micro-batch — the
    * reference's analyst query (main.tf:188-195) served fresh from a tiny
    * pre-aggregated table instead of re-scanned from the replica. Retry
    * safety composes from the parts: staging overwrites its batch_id
    * partition, the replica commit is latest-wins, and the view update is
    * the EXACTLY-ONCE batch-id fold — a redelivered batch re-commits
    * idempotently and either skips the view (already folded) or
    * reconstructs the crashed fold's lost delta from its surviving GC
    * pins (see [[IncrementalAgg.applyBatch(batch0:org\.apache\.spark\.sql\.DataFrame,batchId:Long)*]]). */
  def applyToReplicaWithAggView(changes: DataFrame, replicaDir: String,
                                aggDir: String, stagingDir: String,
                                dlqDir: String, checkpointDir: String): StreamingQuery =
    availableNow(changes, checkpointDir) { (batch, batchId) =>
      val good = stageAndSplit(batch, batchId, stagingDir, dlqDir)
      val rep = new BucketedReplica(replicaDir)
      // commits the replica, tagged with the stream's monotone batch id
      new IncrementalAgg(rep, aggDir).applyBatch(good, batchId)
    }

  /** D8, multi-table form — the shape the reference's merge job actually
    * has: the Cloud_Datastream_to_BigQuery template folds EVERY source
    * table from one change stream into its own replica (README.md:195-206;
    * merge targets are both `pets` and `events`, main.tf:197-215). Events
    * fan out on the envelope's `tbl` column to per-table BucketedReplicas
    * under `replicaRoot/<tbl>`; staging and DLQ stay unified (one changelog,
    * batch_id-partitioned). The tables commit concurrently
    * ([[foldTables]]), each into its own replica. */
  def applyToReplicasByTable(changes: DataFrame, replicaRoot: String,
                             stagingDir: String, dlqDir: String,
                             checkpointDir: String,
                             tombstoneRetentionNs: Option[Long] = None): StreamingQuery =
    availableNow(changes, checkpointDir) { (batch, batchId) =>
      foldTables(batch, batchId, replicaRoot, stagingDir, dlqDir) { (t, sub) =>
        new BucketedReplica(s"$replicaRoot/$t")
          .commit(sub, horizonOf(sub, tombstoneRetentionNs),
            tag = Some(batchId))
        ()
      }
    }

  /** One micro-batch of the multi-table pipeline WITH a per-table
    * reporting view — the testable core of
    * [[applyToReplicasByTableWithAggViews]]. Each table folds through the
    * EXACTLY-ONCE batch-id path, which is what makes the tables' folds
    * crash-safe without any coordination, even though they run at the
    * same time ([[foldTables]]): the tables share no store state, so a
    * death at any instant leaves each table either fenced (its view
    * pointer records the batch id, and the redelivery skips it
    * idempotently), un-begun (folded normally on redelivery), or dead
    * inside its own fold (self-healed per the single-table contract) —
    * independently of where the other tables' folds stood. Every fold is
    * joined before this returns or throws, so no fold of an attempt still
    * runs when the stream redelivers, and [[markApplied]] stays LAST: the
    * consistent frontier only advances once every table's replica AND view
    * reflect the batch. */
  def applyTablesWithAggViews(batch: DataFrame, batchId: Long,
                              replicaRoot: String, aggRoot: String,
                              stagingDir: String, dlqDir: String): Unit =
    foldTables(batch, batchId, replicaRoot, stagingDir, dlqDir) { (t, sub) =>
      val rep = new BucketedReplica(s"$replicaRoot/$t")
      new IncrementalAgg(rep, s"$aggRoot/$t").applyBatch(sub, batchId)
    }

  /** The multi-table fan-out shared by [[applyToReplicasByTable]] and
    * [[applyTablesWithAggViews]]: stage and route the batch, run `fold` for
    * every table AT THE SAME TIME (each table owns its replica and view
    * roots, so the folds share no store state and a narrow write stage of
    * one leaves cores the other's stages fill), then publish the frontier.
    *
    *  - Every fold is joined before this returns or throws: a retry never
    *    races a fold still running from the failed attempt.
    *  - [[markApplied]] runs only after every fold succeeded; a crash
    *    before it leaves the batch un-markered, so consistent readers stay
    *    at the previous frontier until the retry completes and re-marks it.
    *  - The first failure is rethrown, the others attached as suppressed.
    *  - Each call starts fresh threads: a thread inherits the batch
    *    thread's Spark local properties (job group, streaming query ids,
    *    scheduler pool) when it is created, which a long-lived pool's
    *    threads would carry stale. */
  private def foldTables(batch: DataFrame, batchId: Long, replicaRoot: String,
                         stagingDir: String, dlqDir: String)
                        (fold: (String, DataFrame) => Unit): Unit = {
    val (good, tbls) = stageAndRoute(batch, batchId, stagingDir, dlqDir)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tbls.map { t =>
      new Thread(() =>
        try fold(t, good.filter(col("tbl") === t))
        catch { case e: Throwable => failures.add(e); () },
        s"cdc-fold-$batchId-$t")
    }
    threads.foreach(_.start())
    var interrupted: Option[InterruptedException] = None
    threads.foreach { th =>
      while (th.isAlive)
        try th.join()
        catch { case e: InterruptedException =>
          // a stopping stream interrupts the batch thread: pass it on to
          // the folds, but still wait for each before leaving
          if (interrupted.isEmpty) threads.foreach(_.interrupt())
          interrupted = interrupted.orElse(Some(e))
        }
    }
    interrupted.orElse(Option(failures.poll())).foreach { e =>
      failures.forEach(e.addSuppressed(_))
      throw e
    }
    markApplied(replicaRoot, batchId)
  }

  /** D8 multi-table + reporting: [[applyToReplicasByTable]] with each
    * table's pre-aggregated view ([[IncrementalAgg]]) maintained in the
    * same micro-batch through the exactly-once fold — the full shape of
    * the reference's merge job (per-table replicas, README.md:195-206)
    * plus its analyst query (main.tf:188-195) served fresh per table. */
  def applyToReplicasByTableWithAggViews(changes: DataFrame,
                                         replicaRoot: String, aggRoot: String,
                                         stagingDir: String, dlqDir: String,
                                         checkpointDir: String): StreamingQuery =
    availableNow(changes, checkpointDir) { (batch, batchId) =>
      applyTablesWithAggViews(batch, batchId, replicaRoot, aggRoot,
        stagingDir, dlqDir)
    }

  /** Read one table's replica from a multi-table root. */
  def liveReplicaFor(spark: SparkSession, replicaRoot: String,
                     tbl: String): DataFrame =
    new BucketedReplica(s"$replicaRoot/$tbl").live(spark)

  /** Publish "source batch `batchId` is fully applied to every table" —
    * the consistent frontier marker [[consistentCutVersions]] reads.
    * Write-once and monotone; a foreachBatch retry re-marks its batch,
    * which is a no-op. */
  def markApplied(replicaRoot: String, batchId: Long): Unit = {
    val io = new StoreIO(replicaRoot, StoreIO.sessionConf())
    val p = io.path(s"_APPLIED-$batchId")
    if (!io.exists(p)) io.createExclusive(p, batchId.toString)
    // keep the frontier bounded: older markers carry no information
    // (stray-tolerant name rule: StoreIO.numberedFiles — an
    // `_APPLIED-3.bak` manual copy is never ours to read or delete)
    io.numberedFiles("_APPLIED-").filter(_ < batchId)
      .foreach(o => io.delete(io.path(s"_APPLIED-$o")))
  }

  /** Highest fully-applied source batch (the consistent frontier), if any. */
  def appliedFrontier(replicaRoot: String): Option[Long] = {
    val io = new StoreIO(replicaRoot, StoreIO.sessionConf())
    val ms = io.numberedFiles("_APPLIED-")
    if (ms.isEmpty) None else Some(ms.max)
  }

  /** B16, streaming form — the consistent cut across a multi-table replica
    * root. Per-table appliers commit independently, so at any instant the
    * CURRENT versions of two replicas may straddle a source batch — a
    * cross-table join over them reads a torn transaction. The fan-out tags
    * every commit with its source batch id and, once ALL tables of a batch
    * committed, publishes an `_APPLIED-<id>` frontier marker. The cut C =
    * the highest marker; each table reads its latest version with tag ≤ C.
    *
    * Why that is exactly consistent: a version tagged t reflects precisely
    * this table's rows of batches ≤ t, and the marker guarantees every
    * table's rows of batches ≤ C are committed. The chosen version's tag
    * t* is the table's max tag ≤ C; had the table owned rows in some batch
    * b ∈ (t*, C], a version tagged b would exist — contradiction — so its
    * state at t* IS its state at C. A table with no tagged version ≤ C had
    * no rows at all through C: its consistent view is the empty replica.
    *
    * Retention bound: at most ONE batch is in flight beyond the frontier
    * (batches apply sequentially), so a table is at most one version past
    * its ≤-C version — exactly the current+previous window the replica
    * retains. Control-plane only (marker + tag files, #tables entries). */
  def consistentCutVersions(replicaRoot: String,
                            tbls: Seq[String]): (Long, Map[String, Option[Long]]) = {
    val cut = appliedFrontier(replicaRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no applied-frontier marker under $replicaRoot — nothing consistently readable"))
    val vers = tbls.map { t =>
      val rep = new BucketedReplica(s"$replicaRoot/$t")
      val vt = rep.retainedTags
      val ok = vt.filter(_._2 <= cut)
      // among equal tags (a retried commit re-tags its replay) the newest
      // version wins — identical content, freshest files
      val v =
        if (ok.nonEmpty) Some(ok.maxBy { case (ver, tg) => (tg, ver) }._1)
        else rep.firstTag match {
          // "no retained version tagged ≤ cut" is ambiguous on its own:
          // the durable birth tag disambiguates. Born in a batch beyond
          // the cut → the table provably had NO rows through C: empty.
          case Some(ft) if ft > cut => None
          // Born at-or-before the cut → a ≤-C state EXISTED and has been
          // evicted (e.g. compact() ran between a fan-out commit and its
          // _APPLIED marker, re-tagging both retained versions beyond C).
          // Reading empty here would silently drop the table's data from
          // the consistent view — fail loudly instead.
          case Some(ft) => throw new IllegalStateException(
            s"replica $t: born at batch $ft <= cut $cut but no retained " +
              s"version is tagged <= $cut (retained tags: $vt) — the " +
              "consistent version was evicted; retention violated " +
              "(compaction between a tagged commit and its frontier marker?)")
          // No birth tag recorded: an unborn table (no replica yet) is
          // legitimately empty; a replica WITH versions but no tag history
          // cannot prove emptiness — refuse to guess.
          case None =>
            if (rep.currentVersion.isEmpty) None
            else throw new IllegalStateException(
              s"replica $t: has committed versions but no tagged history " +
                s"<= cut $cut and no recorded birth tag — cannot prove its " +
                "state at the cut. Pre-birth-tag replicas upgrade by " +
                "registering the first commit's source batch id once via " +
                "BucketedReplica.recordFirstTag(t) (from deployment " +
                "history); an automatic backfill from the oldest retained " +
                "tag would only bound the birth from above and could " +
                "declare a born-earlier table provably empty")
        }
      t -> v
    }.toMap
    (cut, vers)
  }

  /** The live view of one table at the consistent cut computed by
    * [[consistentCutVersions]] (empty if the table had no rows through the
    * cut). */
  def consistentLiveFor(spark: SparkSession, replicaRoot: String, tbl: String,
                        versions: Map[String, Option[Long]]): DataFrame = {
    val rep = new BucketedReplica(s"$replicaRoot/$tbl")
    versions(tbl) match {
      case Some(v) => rep.liveAt(spark, v)
      case None => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), envelopeSchema)
    }
  }

  /** CDC OUT at aligned frontiers: per-table change feeds between two
    * consistent version maps (each from [[consistentCutVersions]] at a
    * different time). A downstream consumer applying these feeds moves from
    * one torn-free snapshot to the next — it can never observe a
    * half-applied source batch, the guarantee a per-table
    * [[BucketedReplica.changeFeed]] alone cannot give. Emitted per table:
    * (user_id, change ∈ INSERT/UPDATE/DELETE, pos). A table unchanged
    * between frontiers yields an empty feed; a table born between them
    * yields its full state as INSERTs.
    *
    * Retention contract: `from` versions must still be retained
    * (current+previous) — consume at least once per table commit, the same
    * bounded-staleness window every reader of the store has. */
  def consistentChangeFeeds(spark: SparkSession, replicaRoot: String,
                            from: Map[String, Option[Long]],
                            to: Map[String, Option[Long]]): Map[String, DataFrame] =
    to.keys.map { t =>
      val rep = new BucketedReplica(s"$replicaRoot/$t")
      val feed = (from.getOrElse(t, None), to(t)) match {
        case (Some(f), Some(g)) if f != g => rep.changeFeed(spark, f, g)
        case (None, Some(g)) =>
          rep.liveAt(spark, g)
            .select(col("user_id"), lit("INSERT").as("change"), col("pos"))
        case _ => // unchanged (or still unborn): empty feed
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(Seq(StructField("user_id", LongType),
              StructField("change", StringType), StructField("pos", LongType))))
      }
      t -> feed
    }.toMap

  /** B9/D8 — STREAMING SCD Type 2: maintain the history table
    * incrementally. Per micro-batch, intervals closed by the batch's
    * changes append to the history log (batch_id-partitioned, overwrite ⇒
    * idempotent under foreachBatch retries) and each key's still-open
    * latest change lives in the [[BucketedReplica]] (touched-bucket
    * commits). Per-batch work is the batch + the stored rows of TOUCHED
    * buckets only (readTouched) — bounded by the batch, never by replica
    * or history size: closed intervals are immutable and append-only,
    * exactly why SCD2 streams well.
    *
    * Delivery contract: positions must be non-decreasing PER KEY across
    * batches (the binlog/Datastream per-key ordering guarantee; any order
    * within a batch is fine — the window sorts). A closed interval is
    * immutable only under that contract: a cross-batch late event would
    * retroactively split one, which no append-only historization can
    * express. (The latest-wins replica D8 tolerates full disorder; that is
    * precisely the semantic difference between SCD1 and SCD2 streaming.)
    *
    * Invariant (spec'd, and oracle-checked via b11): after any prefix of
    * batches, historyWithOpen(...) equals Cdc.scd2 over all changes
    * delivered so far. */
  def applyScd2History(changes: DataFrame, replicaDir: String,
                       historyDir: String, checkpointDir: String): StreamingQuery =
    availableNow(changes, checkpointDir) { (batch, batchId) =>
      scd2Batch(batch, batchId, replicaDir, historyDir)
    }

  /** One SCD2 micro-batch: window the batch together with each touched
    * key's stored open row; newly-closed intervals append, open rows
    * commit back. Rows with a null key or position are unmergeable and
    * skipped (the streaming wrapper dead-letters them via stageAndSplit).
    *
    * Retry safety (foreachBatch redelivers a batch after a crash): history
    * writes APPEND (under the ordered-delivery contract a redelivered batch
    * regenerates a SUBSET of its first attempt's closed rows — the subset
    * not yet folded into the replica — as identical rows, which
    * [[historyWithOpen]] deduplicates on read), and the replica commit is
    * latest-wins, a semantic no-op under replay. An overwrite would be
    * WRONG here: a retry after the replica commit landed would clobber
    * closed intervals the first attempt derived from pre-commit state. */
  def scd2Batch(batch: DataFrame, batchId: Long, replicaDir: String,
                historyDir: String, nBuckets: Int = 32): Unit = {
    val rep = new BucketedReplica(replicaDir, nBuckets = nBuckets)
    // Cached lazily via localCheckpoint, NOT persist(): the batch feeds
    // THREE actions (the shared touched-bucket probe, the history write,
    // the commit write) — without a cache each would redo the
    // filter/cast/dropDuplicates shuffle from the source. A persist()ed
    // plan materializes WITHOUT adaptive execution
    // (canChangeCachedPlanOutputPartitioning=false), freezing the blocks
    // at the session's full shuffle width — 32 near-empty cached
    // partitions per micro-batch frame, re-scanned as 32 tasks by every
    // consumer stage (measured on b11: 537 tasks/30 stages). A lazy local
    // checkpoint materializes through AQE at the byte-coalesced width,
    // still inside the first consumer's action. Blocks release via GC
    // (ContextCleaner) when the frame goes out of scope at batch end; on
    // block loss the batch job fails and foreachBatch's retry re-runs it
    // (the documented redelivery seam), same as any checkpointed frame.
    val good = batch.filter(col("user_id").isNotNull && col("pos").isNotNull)
      .select(envelopeSchema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      .dropDuplicates("user_id", "pos") // source-level redelivery collapse
      .localCheckpoint(eager = false)
    try {
      // the currently-open changes of touched buckets only (tombstones
      // included: a DELETE is an interval too, it just isn't current).
      // Untouched keys co-resident in a touched bucket pass through the
      // window as single open rows and close nothing. One bucket probe
      // AND one historization window for BOTH writes: the closed
      // intervals feed the history append, and the open rows (lead null)
      // ARE the latest-wins content of the touched buckets — so the
      // replica commit publishes them directly (commitMerged) instead of
      // re-running the union+merge window a second time, which r11
      // measured as most of the commit phase's wall.
      val touched = rep.touchedBuckets(good)
      // ONE pinned snapshot covers the open-row read AND the commit: the
      // publish below serializes against the version these rows were read
      // at, so a foreign commit interleaving the two loses at the
      // write-once pointer (ConcurrentCommit) instead of having its rows
      // silently replaced by our stale pre-merge view of the bucket.
      val snap = rep.pinSnapshot()
      val open = rep.readBucketsAt(good.sparkSession, touched, snap)
      val hist = graft.Cdc.scd2(
        open.unionByName(good).dropDuplicates("user_id", "pos"), Seq("user_id"))
        .localCheckpoint(eager = false) // same width rationale as `good`
      try {
        // The history append and the replica commit's bucket-file write are
        // INDEPENDENT consumers of the persisted `hist` (guide §2.6):
        // overlap them on two driver threads so one chain's task tail
        // backfills the other's. The crash seam survives because the
        // replica's write-once pointer is GATED on the history append
        // (commitMerged's beforePointer barrier): pointer flipped ⇒ closed
        // intervals landed. Failure orderings: history fails → barrier
        // rethrows pre-pointer, commit aborts, retry regenerates both
        // (identical closed rows dedup on read); bucket write fails →
        // pointer untouched, the completed history rows are the same
        // harmless duplicates today's seam already leaves between its two
        // sequential writes.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val histF = Future {
          hist.filter(col("valid_to_pos").isNotNull)
            .drop("is_current") // recomputed on read; meaningless for closed rows
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").partitionBy("batch_id").parquet(historyDir)
        }
        try
          rep.commitMerged(hist.filter(col("valid_to_pos").isNull)
            .drop("valid_from_pos", "valid_to_pos", "is_current"),
            touched, snap, delta = good,
            beforePointer = () => Await.result(histF, Duration.Inf))
        finally {
          // if the commit aborted before its barrier, don't unpersist hist
          // under a still-running history job (ready, not result: a failed
          // future must not mask the commit's own exception)
          try { Await.ready(histF, Duration.Inf); () }
          catch { case _: InterruptedException => () }
        }
      } finally {
        hist.unpersist() // no-op on a checkpointed frame; GC releases blocks
        ()
      }
    } finally { good.unpersist(); () }
  }

  /** Schema of a stored closed interval: the envelope plus its validity
    * bounds. */
  val intervalSchema: StructType = StructType(envelopeSchema.fields.toSeq ++ Seq(
    StructField("valid_from_pos", LongType), StructField("valid_to_pos", LongType)))

  /** The full SCD2 view: closed intervals from the history log plus the
    * open interval per key from the replica — identical to Cdc.scd2 over
    * the complete changelog (spec'd + oracle-checked). */
  def historyWithOpen(spark: SparkSession, replicaDir: String,
                      historyDir: String): DataFrame = {
    val closed = spark.read
      .schema(intervalSchema)
      .parquet(historyDir)
      .drop("batch_id")
      // retried batches re-append identical closed rows; an interval is
      // unique per (key, start) under ordered delivery
      .dropDuplicates("user_id", "valid_from_pos")
    val open = new BucketedReplica(replicaDir).read(spark)
      .withColumn("valid_from_pos", col("pos"))
      .withColumn("valid_to_pos", lit(null).cast(LongType))
    closed.unionByName(open)
      .withColumn("is_current",
        col("valid_to_pos").isNull && col("op") =!= "DELETE")
  }

  private def stageAndSplit(batch: DataFrame, batchId: Long,
                            stagingDir: String, dlqDir: String): DataFrame = {
    // two-phase: land the raw batch in the staging changelog first
    batch.write.mode("overwrite").parquet(s"$stagingDir/batch_id=$batchId")
    // D9/A8: unmergeable rows aside, never fail the stream
    val unmergeable = col("user_id").isNull || col("pos").isNull
    val bad = batch.filter(unmergeable)
    if (!bad.isEmpty)
      bad.write.mode("overwrite").parquet(s"$dlqDir/batch_id=$batchId")
    batch.filter(!unmergeable)
  }

  /** [[stageAndSplit]] for the multi-table fan-out: also returns the sorted
    * names of the tables the routable rows belong to. A null table name is
    * unmergeable too — there is no replica it could belong to — so it
    * dead-letters with the null-key rows instead of NPE-ing the per-table
    * fan-out or silently vanishing. ONE Spark action routes the batch: a
    * distinct over the table name with every unroutable row mapped to the
    * null name, so the DLQ is written only when that group exists. */
  private def stageAndRoute(batch: DataFrame, batchId: Long, stagingDir: String,
                            dlqDir: String): (DataFrame, Seq[String]) = {
    batch.write.mode("overwrite").parquet(s"$stagingDir/batch_id=$batchId")
    val unroutable = col("user_id").isNull || col("pos").isNull || col("tbl").isNull
    val routes = batch.select(when(!unroutable, col("tbl")).as("tbl")).distinct()
      .collect().map(r => Option(r.getString(0)))
    if (routes.contains(None))
      batch.filter(unroutable).write.mode("overwrite").parquet(s"$dlqDir/batch_id=$batchId")
    (batch.filter(!unroutable), routes.flatten.toSeq.sorted)
  }

  private def horizonOf(good: DataFrame,
                        retentionNs: Option[Long]): Option[Long] =
    retentionNs.flatMap { ret =>
      Option(good.agg(max(col("ts_ns"))).head().get(0))
        .map(_.asInstanceOf[Long] - ret)
    }

  /** The analyst-facing view of the replica: tombstoned keys filtered out
    * (the stored form keeps them — see [[BucketedReplica]]). */
  def liveReplica(spark: SparkSession, replicaDir: String): DataFrame =
    new BucketedReplica(replicaDir).live(spark)

  /** D3 streaming form — tumbling change-volume counts with watermarking;
    * identical logic to the batch twin, run over a stream in tests. */
  def tumblingCounts(changes: DataFrame): DataFrame =
    withEventTime(changes)
      .groupBy(window(col("ts"), "1 hour"), col("op"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast(LongType).as("wstart_s"), col("op"), col("n"))

  /** D6 streaming dedup — at-least-once redelivery collapsed by event id
    * within the watermark horizon. */
  def dedupStream(changes: DataFrame): DataFrame =
    withEventTime(changes).dropDuplicates("pos")

  /** D13 streaming form — per-window PSI drift against a FIXED reference
    * distribution (the d13_window_psi statistic as a live monitor: the
    * reference comes from a committed corpus snapshot; the stream alerts
    * on the windows whose event_type mix drifts from it).
    *
    * Structured Streaming permits ONE aggregation per query, so the
    * relational two-level shape of the batch twin (per-(window,type)
    * counts, then a window rollup) is folded into a single windowed
    * aggregate: the reference's type universe is finite and known, so
    * each type's count is one conditional sum COLUMN and the PSI is a
    * stateless projection over the aggregate row — the reference shares
    * inline as exact ppb literals. Same e97 exactness discipline, and the
    * same function runs in batch mode (StreamingDriftSpec pins
    * stream ≡ batch on identical rows). Types outside the reference
    * count toward `n_events` only — they dilute every share, which IS
    * drift, and the monitor sees it.
    *
    * Scale: state = one row per open window (bounded by the watermark);
    * the conditional-sum columns partial-aggregate map-side, so the
    * exchange carries |open windows| rows of |types|+1 longs per trigger
    * regardless of stream volume. */
  def psiDrift(changes: DataFrame, reference: Seq[(String, Long)],
               windowDur: String = "1 hour", watermark: String = "10 minutes",
               alertAt: Double = 0.25): DataFrame = {
    require(reference.nonEmpty, "psiDrift needs a non-empty reference")
    val k = reference.size
    val refTotal = reference.map(_._2).sum
    val counts = reference.zipWithIndex.map { case ((t, _), i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c_$i")
    }
    val wc = withEventTime(changes, watermark)
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n_events"), counts: _*)
    val terms = reference.zipWithIndex.map { case ((_, g), i) =>
      val p = expr(s"(c_$i + 1) * 1000000000L div (n_events + $k)")
      val q = (g + 1) * 1000000000L / (refTotal + k) // exact, driver-side
      ((p - lit(q)).cast(DoubleType) / lit(1e9)) *
        (log(p.cast(DoubleType)) - log(lit(q.toDouble)))
    }
    wc.select(col("window.start").cast(LongType).as("window_start_s"),
        col("n_events"), round(terms.reduce(_ + _), 6).as("psi"))
      .withColumn("alert", col("psi") > alertAt)
  }
}
