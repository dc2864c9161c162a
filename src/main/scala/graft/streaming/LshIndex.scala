package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-maintained MinHash-LSH near-dup index — the streaming
  * form of the e03 banding queries: documents arrive in micro-batches
  * (the CDC document feed), each batch extends the posting index and
  * emits exactly the NEW candidate pairs it completes, without ever
  * re-banding the existing corpus.
  *
  * Layout (under `root`):
  * {{{
  *   sigs/batch_id=<n>/part-….parquet              // (doc_id, sig0..sig7)
  *   postings/batch_id=<n>/bp=<k>/part-….parquet   // (band, bucket, doc_id)
  *   pairs/batch_id=<n>/part-….parquet             // (d1, d2, n_shared_bands)
  *   _LOG-<v>                                      // write-once operation log
  * }}}
  *
  * Commit protocol — the shared [[OpLog]]: every append/migration/compaction
  * writes its data FIRST, then commits one write-once `_LOG-<v>` entry.
  * Readers union exactly the partition ids committed entries name, so
  * half-written output (a crashed append, a migration that died between its
  * consolidated rewrite and its commit) is structurally invisible — there is
  * no id-range cut for it to leak through. The `createExclusive` on the next
  * log version is also the concurrency fence that makes [[reband]] safe to
  * run against a LIVE stream: whichever of {appending batch, migration}
  * commits second loses the race, observes the other's entry, and
  * recomputes — an append under a dead banding deletes its own output and
  * throws for the foreachBatch retry; a migration that lost simply re-runs
  * its rewrite including the new batch.
  *
  * Scale design:
  *  - signatures are the stored PRIMITIVE (8 longs per doc, banding-
  *    independent); postings/pairs are derived under the CURRENT banding.
  *    That is what makes [[reband]] possible without re-reading the corpus;
  *  - postings are append-only (documents are immutable facts), written per
  *    batch under `batch_id=<n>` with overwrite → a foreachBatch retry
  *    replaces its own output, exactly-once (the stored side of the probe
  *    is the COMMITTED id set, which never includes the in-flight batch);
  *  - within each batch the postings are partitioned by
  *    `bp = pmod(xxhash64(bucket), 16)`, and the candidate probe prunes
  *    the stored side to the bp values present in the incoming batch (a
  *    control-plane `isin` over ≤16 ints): per-batch read volume is the
  *    postings CO-BUCKETED with the batch, not the whole index;
  *  - the candidate join is keyed on (band, bucket) — pairs sharing no
  *    bucket are never materialized, the same bucket-local economics as
  *    e03b, now incremental;
  *  - each pair is emitted exactly once, by the batch that completes it
  *    (new-vs-stored, or new-vs-new within the batch), so the pairs sink
  *    is append-only for downstream dedup consumers;
  *  - the log is control-plane (one tiny file per micro-batch, folded and
  *    truncated by [[compact]]), never a data-plane cost.
  */
final class LshIndex(root: String, nBp: Int = 16) extends MaintainableStore {

  private def sigsDir = s"$root/sigs"
  private def postingsDir = s"$root/postings"
  private def pairsDir = s"$root/pairs"

  private val io = new StoreIO(root, StoreIO.sessionConf())
  private[graft] val log = new OpLog(io)

  private val sigsReadSchema = StructType(
    StructField("doc_id", LongType) +:
      (0 until 8).map(i => StructField(s"sig$i", LongType)) :+
      StructField("batch_id", LongType))

  private val postingsReadSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bucket", LongType),
    StructField("doc_id", LongType), StructField("bp", IntegerType),
    StructField("batch_id", LongType)))

  private val pairsReadSchema = StructType(Seq(
    StructField("d1", LongType), StructField("d2", LongType),
    StructField("n_shared_bands", LongType), StructField("batch_id", LongType)))

  /** Banding of the state's current generation (default 2 rows × 4 bands). */
  private def bandingOf(st: OpLog.State): (Int, Int) =
    st.migration.map(kv => (kv("r").toInt, kv("b").toInt)).getOrElse((2, 4))

  /** Exact-id validity — the committed partition set, nothing else. */
  private def idFilter(ids: Seq[Long]): Column =
    if (ids.isEmpty) lit(false) else col("batch_id").isin(ids: _*)

  // a dataset dir, once present, stays present for the store's life
  // (compaction consolidates INSIDE it; only destroy removes it) — cache
  // the positive probe so steady-state batches pay zero exists round trips
  private val knownDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def readDir(spark: SparkSession, rel: String, dir: String,
                      schema: StructType): DataFrame =
    if (!knownDirs.contains(rel) && !io.exists(io.path(rel)))
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)
    else { knownDirs.add(rel)
      spark.read.schema(schema).option("basePath", dir).parquet(dir) }

  /** The stored signatures (committed batches — banding-independent). */
  def sigs(spark: SparkSession): DataFrame =
    readDir(spark, "sigs", sigsDir, sigsReadSchema)
      .filter(idFilter(log.state.auxIds))

  /** The stored posting list of the CURRENT banding generation. */
  def postings(spark: SparkSession): DataFrame =
    readDir(spark, "postings", postingsDir, postingsReadSchema)
      .filter(idFilter(log.state.validIds))

  /** Every candidate pair of the CURRENT banding generation (exactly once
    * each). */
  def pairs(spark: SparkSession): DataFrame =
    readDir(spark, "pairs", pairsDir, pairsReadSchema)
      .filter(idFilter(log.state.validIds))

  private def bpCol: Column =
    pmod(xxhash64(col("bucket")), lit(nBp.toLong)).cast(IntegerType)

  private def batchDirs(batchId: Long): Seq[org.apache.hadoop.fs.Path] =
    Seq(pairsDir, postingsDir, sigsDir)
      .map(d => new org.apache.hadoop.fs.Path(s"$d/batch_id=$batchId"))

  /** Fold one batch of (doc_id, text) documents into the index: write the
    * NEW candidate pairs this batch completes to the pairs sink, then
    * append the batch's postings and signatures, then commit the batch to
    * the log. Idempotent under foreachBatch retries — a replay of an
    * ALREADY-COMMITTED batch id is a no-op (ids are monotone, the log's
    * maxSeen fences it), and a retry of an uncommitted attempt overwrites
    * its own partitions and probes only committed state, deriving identical
    * output no matter where the first attempt crashed. Safe against a
    * concurrent [[reband]]: if a migration commits between this batch's
    * read and its own commit, the commit loses the write-once race, the
    * dead-banding output is deleted, and [[StoreIO.ConcurrentCommit]]
    * propagates so the stream's retry recomputes under the new banding. */
  def addBatch(docs: DataFrame, batchId: Long): Unit =
    addBatch(docs, batchId, sideFence = None)

  /** The composed-store fence, captured BEFORE a caller writes any side
    * dirs of its own (the ingest's corpus/seen/rejects partitions): the
    * current log version, with the live-vacuum probe already taken. Passed
    * back as [[addBatch]]'s `sideFence` it extends the vacuum-lease order
    * argument to data the LOG cannot see: this store's own dirs are written
    * after the state read (so a vacuum entry forces a version conflict or
    * the post-read probe refuses), but a composed caller's side dirs go to
    * disk before its delegated commit — a vacuum sweeping between those two
    * instants would otherwise let the commit land while the batch's side
    * dirs are already deleted (durable loss with no conflict anywhere). */
  private[graft] def sideWriteFence(what: String): Long = {
    val st = log.state
    log.assertNoLiveVacuum(what)
    st.version
  }

  /** [[addBatch]] with the composed-store fence: refuse to commit if any
    * log entry in `(sideFence, readVersion]` is a `vacuum` (or is already
    * truncated — then it cannot be ruled one), because the caller's side
    * dirs written under the fence version may have been swept; the thrown
    * [[StoreIO.ConcurrentCommit]] makes the stream's retry re-run the WHOLE
    * composed batch, rewriting every side dir. A vacuum landing after this
    * check still cannot slip through: its entry takes the next log version,
    * so this batch's commit loses the write-once race instead. */
  private[graft] def addBatch(docs: DataFrame, batchId: Long,
                              sideFence: Option[Long]): Unit = {
    val spark = docs.sparkSession
    val st = log.state
    // AFTER the state read, BEFORE any write — the order that makes the
    // vacuum lease sound (see the OpLog lease section): a commit landing
    // after a vacuum entry without a version conflict read state after
    // the entry, hence after the lease, hence this probe refused it
    log.assertNoLiveVacuum("LshIndex.addBatch")
    if (batchId <= st.maxSeen) return // committed replay (checkpoint re-run)
    // (a committed replay's side dirs sit at ids <= maxSeen, which no
    // vacuum ever sweeps — the fence only matters for uncommitted batches)
    sideFence.foreach { v0 =>
      // Conservatism note (r15 advice): an unreadable entry inside the
      // window is treated as a vacuum because it cannot be ruled one.
      // Since r16 this is near-unreachable rather than merely rare: log
      // truncation is AGE-GATED (StoreIO.ptrGraceMs via
      // OpLog.truncateBefore), so entries younger than the grace — which
      // the (fence, readVersion] window's entries always are, the window
      // spans one in-flight composed batch — stay readable; an online
      // compact inside the ingest window no longer forces a spurious
      // wholesale re-run. The Try stays as the honest fallback for a
      // genuinely unreadable entry (I/O fault, manual surgery).
      val swept = ((v0 + 1) to st.version).exists { v =>
        scala.util.Try(log.read(v))
          .map(_.getOrElse("type", "") == "vacuum").getOrElse(true)
      }
      if (swept) throw new StoreIO.ConcurrentCommit(
        s"a vacuum entry landed after the composed fence v$v0; the " +
          s"caller's side dirs for batch $batchId may have been swept — " +
          "re-run the composed batch against current state")
    }
    val (r, b) = bandingOf(st)
    // persisted: the signatures feed five actions (bp probe, both sides of
    // the pair join, the postings write, the sigs write)
    val sig = graft.SetSimilarity.minhashSigs(docs).persist()
    val bands = graft.SetSimilarity.bandsFromSigs(sig, r, b).withColumn("bp", bpCol)
    try {
      // bounded read: only the stored bp partitions this batch touches
      val touchedBp = bands.select(col("bp")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val stored = readDir(spark, "postings", postingsDir, postingsReadSchema)
        .filter(idFilter(st.validIds) && col("bp").isin(touchedBp: _*))
        .select(col("band"), col("bucket"), col("doc_id").as("old_doc"))
      // new-vs-stored: pairs completed by this batch against the prior corpus
      val vsOld = bands.join(stored, Seq("band", "bucket"))
        .select(least(col("doc_id"), col("old_doc")).as("d1"),
          greatest(col("doc_id"), col("old_doc")).as("d2"))
      // new-vs-new: pairs entirely within this batch
      val vsNew = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      val newPairs = vsOld.unionByName(vsNew)
        .groupBy(col("d1"), col("d2"))
        .agg(count(lit(1)).as("n_shared_bands"))
      newPairs.write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
      bands.write.mode("overwrite").partitionBy("bp")
        .parquet(s"$postingsDir/batch_id=$batchId")
      sig.write.mode("overwrite").parquet(s"$sigsDir/batch_id=$batchId")
    } finally { sig.unpersist(); () }
    log.commitAppend(st.version, batchId, () => batchDirs(batchId).foreach(io.delete))
  }

  /** Read-only near-dup probe of a batch of (doc_id, text) documents
    * against the COMMITTED index — the verification side of [[addBatch]]
    * with no writes and no commit, for callers that must DECIDE on a doc
    * (accept/reject) before folding it in. Returns one row per verified
    * pair: (doc_id = the probed doc, partner, n_sig_match, stored), where
    * `stored=true` partners come from the committed index and
    * `stored=false` partners are SMALLER-id docs of the same probe batch.
    * Verification is signature agreement: n_sig_match of the 8 MinHash
    * components equal — the estimator the banding exists to serve, so no
    * document text is ever re-read. The banding is a LOSSLESS candidate
    * filter for the verifier iff `minSigMatch >= 9 - b` under the CURRENT
    * generation's b bands: a pair with m agreeing components has 8-m
    * mismatches, each breaking at most one band, so some band fully
    * matches whenever 8-m < b (2x4: m>=5; 1x8: m>=1; 4x2: m>=7). The
    * guard is banding-AWARE, not a constant: a store rebanded to 4x2
    * refuses a minSigMatch=6 probe loudly instead of silently losing
    * recall (found by the composed chaos soak's exact-verdict-set
    * comparison under interleaved rebands). Bounded read: stored postings
    * are bp-partition-pruned to the batch's buckets, and stored
    * signatures are joined only for surfaced candidates. */
  def probeNearDups(docs: DataFrame, minSigMatch: Int = 6,
                    excludeBatchId: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    val st = log.state
    val (r, b) = bandingOf(st)
    require(minSigMatch >= 9 - b && minSigMatch <= 8,
      s"minSigMatch=$minSigMatch: under the current ${r}x$b banding the " +
        s"bucket join is a lossless candidate filter only for >= ${9 - b} " +
        "agreeing components (8-m mismatches break at most 8-m of the " +
        s"$b bands) — probe higher, or reband to more, narrower bands")
    // retry fence: a foreachBatch replay of an ALREADY-COMMITTED batch
    // must not see that batch's own postings as "stored" (every doc would
    // be its own 8/8 partner and the whole batch would self-reject) — the
    // caller passes its in-flight batch id and the probe excludes it,
    // the same discipline as the ingest's seen-store probe
    val excl: Column = excludeBatchId
      .map(id => col("batch_id") =!= id).getOrElse(lit(true))
    val sig = graft.SetSimilarity.minhashSigs(docs).persist()
    val bands = graft.SetSimilarity.bandsFromSigs(sig, r, b).withColumn("bp", bpCol)
    try {
      val touchedBp = bands.select(col("bp")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val storedPost = readDir(spark, "postings", postingsDir, postingsReadSchema)
        .filter(idFilter(st.validIds) && excl && col("bp").isin(touchedBp: _*))
        .select(col("band"), col("bucket"), col("doc_id").as("partner"))
      val nMatch = (0 until 8).map(i =>
        when(col(s"sig$i") === col(s"p$i"), 1).otherwise(0))
        .reduce(_ + _)
      val storedSig = readDir(spark, "sigs", sigsDir, sigsReadSchema)
        .filter(idFilter(st.auxIds) && excl)
        .select(col("doc_id").as("partner") +:
          (0 until 8).map(i => col(s"sig$i").as(s"p$i")): _*)
      val vsStored = bands.join(storedPost, Seq("band", "bucket"))
        .filter(col("doc_id") =!= col("partner"))
        .select(col("doc_id"), col("partner")).distinct()
        .join(sig, "doc_id").join(storedSig, "partner")
        .select(col("doc_id"), col("partner"), nMatch.as("n_sig_match"),
          lit(true).as("stored"))
      val vsBatch = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") > col("y.doc_id"))
        .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("partner"))
        .distinct()
        .join(sig, "doc_id")
        .join(sig.select(col("doc_id").as("partner") +:
          (0 until 8).map(i => col(s"sig$i").as(s"p$i")): _*), "partner")
        .select(col("doc_id"), col("partner"), nMatch.as("n_sig_match"),
          lit(false).as("stored"))
      val out = vsStored.unionByName(vsBatch)
        .filter(col("n_sig_match") >= minSigMatch)
      // materialize before releasing the signature cache: callers hold a
      // lazy plan over `sig` through both branches
      out.localCheckpoint(true)
    } finally { sig.unpersist(); () }
  }

  /** Switch the index to a NEW (r, b) banding — e63's sweep measures which
    * banding a corpus wants; this applies it WITHOUT re-reading the corpus.
    * Postings and pairs are recomputed wholesale from the stored signatures
    * into one consolidated partition each at a fresh negative id, then one
    * write-once log entry flips the generation. Until that entry lands the
    * consolidated partition is at an id NO committed entry names — readers
    * cannot see it, so a crash anywhere before the commit leaves only
    * invisible garbage and a re-run converges (the r5 pre-commit-visibility
    * hole is closed by construction, not by ordering).
    *
    * ONLINE-safe: no stream-paused contract. If an append commits while the
    * rewrite runs, this migration's commit loses the write-once race and the
    * rewrite re-runs including the new batch (bounded attempts, then a loud
    * failure for the operator to retry at lower ingest pressure). If the
    * append commits second, IT loses, cleans up, and the stream recomputes
    * it under the new banding — see [[addBatch]].
    *
    * The one-time cost is a full self-join over the re-banded postings —
    * the same bucket-local economics as the one-shot e03b banding, paid
    * once per migration instead of per batch. */
  def reband(spark: SparkSession, r: Int, b: Int): Unit = {
    require(r > 0 && b > 0 && r * b <= 8, s"reband r=$r b=$b needs r*b <= 8")
    log.migrate("reband") { st =>
      // in-body (not just pre-loop): a retry body after a lost race could
      // otherwise reuse a consol id a concurrent vacuum is mid-deleting
      log.assertNoLiveVacuum("LshIndex.reband")
      val sig = readDir(spark, "sigs", sigsDir, sigsReadSchema)
        .filter(idFilter(st.auxIds)).drop("batch_id").distinct()
      val bands = graft.SetSimilarity.bandsFromSigs(sig, r, b)
        .withColumn("bp", bpCol).persist()
      val consol = freshNegativeId(st)
      try {
        bands.repartition(math.max(1, nBp / 4))
          .write.mode("overwrite").partitionBy("bp")
          .parquet(s"$postingsDir/batch_id=$consol")
        val allPairs = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .agg(count(lit(1)).as("n_shared_bands"))
        allPairs.repartition(math.max(1, nBp / 4))
          .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$consol")
      } finally { bands.unpersist(); () }
      // GC set snapshotted PRE-commit: deleting "everything not in a keep
      // set" at GC time would race an append that commits between our log
      // entry and the deletes, destroying its just-committed partitions.
      // And ids above st.maxSeen are excluded even pre-commit: a defeated
      // append's retry REUSES its dir name, so those dirs are the retry's
      // to overwrite, never this GC's to delete (see gcSnapshot).
      val dead = gcSnapshot(Map(postingsDir -> Set(consol),
        pairsDir -> Set(consol), sigsDir -> st.auxIds.toSet), st.maxSeen)
      (Map("type" -> "migrate", "r" -> r.toString, "b" -> b.toString,
        "consol" -> consol.toString, "maxseen" -> st.maxSeen.toString),
        () => dead.foreach(io.delete))
    }
  }

  /** Maintenance: fold every committed sig/posting/pair partition into ONE
    * consolidated partition each, collapsing the small-file scatter a
    * long-running ingest accumulates (one dir per micro-batch) — and fold
    * the operation log itself down to a single entry. Runs under the same
    * online-safe optimistic commit as [[reband]]: pre-commit output is
    * invisible, a racing append wins or loses the log race deterministically. */
  def compact(spark: SparkSession): Unit = {
    val pre = log.state
    if (pre.validIds.size <= 1 && pre.auxIds.size <= 1) return // nothing to fold
    log.migrate("compact") { st =>
      log.assertNoLiveVacuum("LshIndex.compact") // see reband
      val (r, b) = bandingOf(st)
      val consol = freshNegativeId(st)
      def consolidate(dir: String, df: DataFrame, partBy: Option[String]): Unit = {
        val w = df.drop("batch_id").distinct()
          .repartition(math.max(1, nBp / 4)).write.mode("overwrite")
        partBy.fold(w)(c => w.partitionBy(c)).parquet(s"$dir/batch_id=$consol")
      }
      consolidate(sigsDir, readDir(spark, "sigs", sigsDir, sigsReadSchema)
        .filter(idFilter(st.auxIds)), None)
      consolidate(postingsDir, readDir(spark, "postings", postingsDir,
        postingsReadSchema).filter(idFilter(st.validIds)), Some("bp"))
      consolidate(pairsDir, readDir(spark, "pairs", pairsDir, pairsReadSchema)
        .filter(idFilter(st.validIds)), None)
      val dead = gcSnapshot(Map(postingsDir -> Set(consol),
        pairsDir -> Set(consol), sigsDir -> Set(consol)), st.maxSeen)
      (Map("type" -> "compact", "r" -> r.toString, "b" -> b.toString,
        "consol" -> consol.toString, "auxconsol" -> consol.toString,
        "maxseen" -> st.maxSeen.toString),
        () => dead.foreach(io.delete))
    }
  }

  // the shared partition-naming rule + stray semantics: OpLog.batchIdOf
  private def parseBatchId(name: String): Option[Long] = OpLog.batchIdOf(name)

  /** An id strictly below every id any dir has EVER used (crashed attempts'
    * garbage included) — consolidated output can never collide. */
  private def freshNegativeId(st: OpLog.State): Long = {
    val listed = Seq(postingsDir, pairsDir, sigsDir)
      .flatMap(d => io.listDirs(new org.apache.hadoop.fs.Path(d)))
      .flatMap(p => parseBatchId(p.getName))
    ((listed ++ st.validIds ++ st.auxIds) :+ 0L).min - 1L
  }

  /** PRE-commit snapshot of the batch_id partitions each dir holds outside
    * its keep set — the exact paths the post-commit GC thunk may delete.
    * Listing must happen before the commit: anything created after it
    * (a newly committed append) must never be deletable. Never
    * load-bearing: validity is the log, these are dead files.
    *
    * `maxSeen` guard (found by IndexStoreStressSpec's randomized race): an
    * id STRICTLY ABOVE the snapshot state's maxSeen can only belong to an
    * in-flight append — and a defeated append's RETRY legitimately reuses
    * the SAME batch_id dir name, so deleting it races the retry's fresh
    * write (loud TASK_WRITE_FAILED mid-write; silent data loss if the
    * delete lands between the retry's write and its commit, breaking the
    * write-before-commit invariant). Committed ids are always ≤ maxSeen
    * (appends raise it; migrations carry it), so the cut loses nothing:
    * dead old-generation dirs and stale consolidations all sit at or
    * below it. The skipped dir of an append that crashes and NEVER
    * retries is an invisible orphan (never in validIds) that the id's
    * eventual retry overwrites — a bounded leak, not a correctness
    * hazard. */
  private def gcSnapshot(keep: Map[String, Set[Long]],
                         maxSeen: Long): Seq[org.apache.hadoop.fs.Path] =
    keep.toSeq.flatMap { case (dir, ids) =>
      io.listDirs(new org.apache.hadoop.fs.Path(dir))
        .filter(p => parseBatchId(p.getName)
          .exists(id => !ids.contains(id) && id <= maxSeen))
    }

  /** Structural integrity audit — the index-store twin of the replica's
    * [[BucketedReplica.fsck]]: one report row per invariant the store's
    * protocol is supposed to hold, for verifying an index after an
    * incident (partial restore, manual surgery) instead of trusting it.
    * Control-plane checks (log parse, committed dirs present) run
    * driver-side; the containment invariants (postings docs ⊆ stored
    * sigs, pair endpoints ⊆ postings docs, bands within the current
    * banding) each fold into one bounded two-column scan — at 100 TB the
    * audit reads id/band columns only, never text or full signatures.
    * Orphan partitions (crashed appends that never retried, dead
    * consolidations whose GC thunk died) are REPORTED ok=true — they are
    * invisible to readers by the log's validity fold and are [[vacuum]]'s
    * to reclaim, not a correctness failure. */
  def audit(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    val reportSchema = StructType(Seq(
      StructField("check", StringType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("observed", StringType, nullable = false),
      StructField("details", StringType, nullable = false)))
    val rows = scala.collection.mutable.Buffer[Row]()
    val stTry = scala.util.Try(log.state)
    stTry match {
      case scala.util.Failure(e) =>
        rows += Row("log_parse", false, "unreadable",
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case scala.util.Success(st) =>
        rows += Row("log_parse", true, s"v${st.version}",
          s"${st.validIds.size} valid / ${st.auxIds.size} aux partitions, " +
            s"banding ${bandingOf(st)._1}x${bandingOf(st)._2}")
        def listedIds(dir: String): Set[Long] =
          io.listDirs(new org.apache.hadoop.fs.Path(dir))
            .flatMap(p => parseBatchId(p.getName)).toSet
        val (havePost, havePairs, haveSigs) =
          (listedIds(postingsDir), listedIds(pairsDir), listedIds(sigsDir))
        val missing =
          st.validIds.filterNot(havePost).map(i => s"postings/$i") ++
            st.validIds.filterNot(havePairs).map(i => s"pairs/$i") ++
            st.auxIds.filterNot(haveSigs).map(i => s"sigs/$i")
        rows += Row("committed_dirs_present", missing.isEmpty,
          s"${st.validIds.size * 2 + st.auxIds.size} expected",
          if (missing.isEmpty) "every committed partition dir exists"
          else s"MISSING: ${missing.mkString(",")}")
        // containment invariants, one bounded scan each. Try-wrapped: the
        // audit's JOB is to report a broken store, so a scan that cannot
        // even run (e.g. a file-bearing stray dir poisoning partition
        // discovery) must become a failing ROW, not an aborted audit.
        def scanRow(check: String, detail: String)(cnt: => Long): Unit =
          rows += (scala.util.Try(cnt) match {
            case scala.util.Success(n) => Row(check, n == 0L, s"$n", detail)
            case scala.util.Failure(e) => Row(check, false, "scan failed",
              s"$detail — scan threw ${e.getClass.getSimpleName}: " +
                s"${String.valueOf(e.getMessage).take(200)}")
          })
        scanRow("postings_docs_in_sigs",
          "every posted doc must carry a stored signature (reband reads sigs)") {
          postings(spark).select(col("doc_id")).distinct()
            .join(sigs(spark).select(col("doc_id")).distinct(),
              Seq("doc_id"), "left_anti").count()
        }
        scanRow("pair_endpoints_in_postings",
          "every emitted candidate endpoint must be a posted doc") {
          pairs(spark)
            .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
            .join(postings(spark).select(col("doc_id")).distinct(),
              Seq("doc_id"), "left_anti").count()
        }
        val (_, b) = bandingOf(st)
        scanRow("bands_in_layout",
          s"postings must conform to the current banding generation [0,$b)") {
          postings(spark).filter(col("band") < 0 || col("band") >= b).count()
        }
        val orphans =
          (havePost -- st.validIds).map(i => s"postings/$i") ++
            (havePairs -- st.validIds).map(i => s"pairs/$i") ++
            (haveSigs -- st.auxIds).map(i => s"sigs/$i")
        rows += Row("orphan_partitions", true, s"${orphans.size}",
          if (orphans.isEmpty) "none"
          else s"invisible to readers; vacuum() reclaims: " +
            orphans.toSeq.sorted.mkString(","))
        // strays: an EMPTY unrecognized dir is inert (skipped by every
        // read and every maintenance pass — ok), but one holding content
        // poisons the dataset dir's Hive partition discovery (Spark casts
        // the dir name as the batch_id partition value), which is what
        // fails the scan rows above — flag it as the cause, ok=false
        val strays = Seq("postings" -> postingsDir, "pairs" -> pairsDir,
          "sigs" -> sigsDir).flatMap { case (rel, d) =>
          io.listDirs(new org.apache.hadoop.fs.Path(d))
            .filter(p => parseBatchId(p.getName).isEmpty)
            .map { p =>
              val bearing = io.listFiles(p).nonEmpty || io.listDirs(p).nonEmpty
              (s"$rel/${p.getName}", bearing)
            }
        } ++
          // _LOG-prefixed strays (a `_LOG-3.bak` manual copy) that
          // versions() skips — reported here so the skip never hides them
          log.strayLogNames.map(n => (n, false))
        val bearing = strays.collect { case (n, true) => n }
        rows += Row("unrecognized_entries", bearing.isEmpty, s"${strays.size}",
          if (strays.isEmpty) "none"
          else if (bearing.isEmpty)
            "empty dirs outside the store's naming (manual copy or backup " +
              "suffix); inert, skipped by vacuum — operator's to remove: " +
              strays.map(_._1).sorted.mkString(",")
          else "CONTENT-BEARING dirs outside the store's naming break " +
            "partition discovery for every reader — move them out of the " +
            s"dataset dirs: ${bearing.sorted.mkString(",")}")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), reportSchema)
  }

  /** Reclaim partitions no committed log entry references — crashed
    * appends that never retried (ids above maxSeen, exactly the dirs the
    * online GCs must NOT touch) and dead consolidations whose post-commit
    * GC thunk died — plus leaked write-once tmp files. The quiesced-only
    * contract is ENFORCED, not advisory: vacuum takes the store's
    * exclusive `_VACUUM` lease (every writer probes it before reading log
    * state and refuses loudly while it is live), then commits a `vacuum`
    * log entry that defeats any writer already in flight (its commit
    * loses the write-once version race, cleans up, and its RETRY is
    * refused at the lease — the retry-rewrites-while-vacuum-deletes
    * interleave cannot happen) — so no commit can ever land naming a path
    * this delete pass removed. A writer mid-parquet-write when its dir is
    * swept fails its write job loudly (raw task failure, not the
    * ConcurrentCommit class) and the stream's retry recomputes from
    * scratch once the lease lifts — loud and convergent, never silent
    * loss. Returns the deleted paths. */
  def vacuum(): Seq[String] = {
    val token = log.acquireVacuumLease()
    try {
      log.assertNoStrayLogNames("LshIndex.vacuum") // deletes fold on the log
      val tmps = io.listFiles(io.root)
        .filter(_.getName.matches("\\.(_LOG-\\d+|_VACUUM(-\\d+)?)\\.tmp-[0-9a-f]{8}"))
        .map { p => io.delete(p); p.toString }
      def deadAt(st: OpLog.State): Seq[org.apache.hadoop.fs.Path] =
        gcSnapshot(Map(postingsDir -> st.validIds.toSet,
          pairsDir -> st.validIds.toSet, sigsDir -> st.auxIds.toSet),
          maxSeen = Long.MaxValue) // lease-held: no in-flight retry to protect
      // no log fence needed when nothing is dead: tmps are invisible to all
      if (deadAt(log.state).isEmpty) return tmps
      var deleted = Seq.empty[String]
      log.migrate("vacuum") { st =>
        val dead = deadAt(st)
        (Map("type" -> "vacuum"),
          () => deleted = dead.map { p => io.delete(p); p.toString })
      }
      tmps ++ deleted
    } finally log.releaseVacuumLease(token)
  }

  def destroy(): Unit = { knownDirs.clear(); log.reset(); io.delete(io.root) }
}
