package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.charset.StandardCharsets
import java.util.EnumSet

/** Filesystem-agnostic control-plane I/O for the versioned stores
  * ([[BucketedReplica]], [[IncrementalAgg]]).
  *
  * All pointer/manifest/meta operations go through the Hadoop
  * `FileContext` API instead of `java.nio` so the SAME code runs against
  * local disk in tests and against HDFS-compatible storage on a cluster —
  * the store root is just a URI (`file:/...`, `hdfs://...`,
  * `viewfs://...`).
  *
  * The commit primitive is [[createExclusive]] — write-once commit of a
  * version-named pointer file: the full content lands in a hidden temp
  * file first, then a no-OVERWRITE rename flips name and bytes onto `p`
  * in one step (content-atomic; a bare create-then-write exposed a
  * torn-read window). OVERWRITE-rename stays banned for pointers —
  * FileContext emulates it as delete-then-rename on the local FS, a
  * reader-visible gap — and the one mutable singleton ([[overwriteSafe]])
  * pairs its overwriting flip with a completeness-witnessed side file so
  * readers never see a prefix.
  *
  * On the LOCAL FS the visibility flip is a hard LINK, not a rename:
  * Hadoop's no-OVERWRITE rename enforces exclusivity as a userspace
  * exists-check before a POSIX `rename(2)` that silently replaces its
  * destination — check-then-act, so two same-version committers
  * descheduled inside that window BOTH "win" and the clobbered one
  * proceeds as if it committed. That is NOT an equivalent outcome for the
  * stores: a replica maintainer whose pointer was silently replaced folds
  * a view delta for a commit the replica never kept (the r15 stress
  * over-count — every group +1-2, one batch's delta with no surviving
  * commit), and a view maintainer clobbered the same way loses its fold.
  * `link(2)` fails with EEXIST atomically IN THE KERNEL, so exactly one
  * same-name committer can ever win (measured: 8 barrier-aligned racers ×
  * 2000 rounds dual-win 10 rounds via rename, 0 via link). HDFS and
  * object stores resolve the rename/PUT atomically server-side, so the
  * rename path remains correct — and is kept — for every non-local
  * scheme.
  *
  * Deliberately NOT `FileSystem`: on local disk `FileSystem` is the
  * checksummed `LocalFileSystem`, whose `.crc` sidecars would desync under
  * out-of-band writes; `FileContext`'s local implementation is raw.
  */
final class StoreIO(rootStr: String, conf: Configuration) {

  private val fc = FileContext.getFileContext(new Path(rootStr).toUri, conf)

  // the kernel-atomic flip is a local-FS concern (see the class doc); any
  // remote scheme keeps the server-side-atomic rename
  private val localFlip: Boolean = {
    val scheme = new Path(rootStr).toUri.getScheme
    scheme == null || scheme == "file"
  }

  val root: Path = new Path(rootStr)

  def path(rel: String): Path = new Path(rootStr + "/" + rel)

  def exists(p: Path): Boolean = { StoreIO.Stats.exists.increment(); fc.util.exists(p) }

  def readString(p: Path): String = {
    StoreIO.Stats.reads.increment()
    val in = fc.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Create-or-truncate `p` (parents created), with the bytes of `s`. */
  def writeString(p: Path, s: String): Unit = {
    // crash-sweep hook (no-op in production)
    val torn = StoreIO.Faults.step(p, tearable = true)
    StoreIO.Stats.writes.increment()
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    // torn mode: half the bytes reach disk, then the "process dies" — the
    // durable-prefix state a real crash mid-write leaves behind
    try out.write(bytes, 0, if (torn) bytes.length / 2 else bytes.length)
    finally out.close()
    if (torn) throw new StoreIO.Faults.InjectedCrash(s"torn write $p")
  }

  /** Write-once create (fails if `p` exists) — the pointer-commit
    * primitive: the new name becomes visible all-at-once, and a second
    * writer racing on the same version fails loudly instead of silently
    * clobbering (single-writer contract).
    *
    * Content-ATOMIC: the bytes land in a hidden temp file first, then the
    * flip makes name and full content visible in one step. A direct
    * create-then-write exposed a torn-read window — a reader opening the
    * pointer between its create and its content write parsed empty/prefix
    * content as a LEGACY pointer and resolved control names that never
    * existed.
    *
    * Exclusion-ATOMIC: the local flip is `link(2)` — EEXIST in the kernel,
    * never check-then-act — because the no-OVERWRITE rename's userspace
    * exists-check let two same-version committers both "win" (the r15
    * stress over-count; see the class doc). Non-local schemes flip by
    * rename, which their servers make atomic. */
  def createExclusive(p: Path, s: String): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    writeString(tmp, s)
    StoreIO.Faults.step(p) // crash between tmp write and the visibility flip
    StoreIO.Stats.renames.increment()
    try {
      if (localFlip) {
        // FileAlreadyExistsException IS an IOException — callers' race
        // mapping (→ ConcurrentCommit) sees the same failure class the
        // rename path threw
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(p.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        // the link consumed nothing: drop the now-redundant tmp name
        // (best-effort — a leaked hidden tmp is invisible to readers)
        try fc.delete(tmp, false) catch { case _: java.io.IOException => () }
      } else fc.rename(tmp, p) // no OVERWRITE: an existing `p` loses loudly
    } catch { case t: Throwable =>
      // compensation, not crash-safety: a real crash here leaks the hidden
      // tmp (readers ignore non-control names; CrashSweepSpec plants one)
      try fc.delete(tmp, false) catch { case _: java.io.IOException => () }
      throw t
    }
  }

  /** Crash-safe overwrite of a small mutable control file (`_META`): the
    * new content lands COMPLETELY at `<name>.next` first, then flips onto
    * the primary name by rename. The write-once pointer stays the commit
    * primitive ([[createExclusive]]); this exists for mutable singletons
    * that a plain create/overwrite could leave TORN mid-write — e.g. a
    * crash during `add_check` truncating the table's pk/layout contract.
    * The flip's worst case (FileContext's local rename-overwrite is
    * delete-then-rename) leaves the primary briefly absent with the side
    * file complete, which [[readSafe]]/[[existsSafe]] cover — so readers
    * see the old or the new complete content, never a prefix.
    *
    * Content CONTRACT: `s` must end with `\n`. The terminator is the side
    * file's completeness witness — a crash mid-write of `.next` (including
    * the first-ever write, when no primary exists to fall back to) leaves
    * a torn side file that [[readSafe]]/[[existsSafe]] must treat as
    * ABSENT, and "ends with the terminator" is how they tell a completed
    * side copy from a prefix. Enforced here so the probe stays sound. */
  def overwriteSafe(p: Path, s: String): Unit = {
    require(s.endsWith("\n"),
      s"overwriteSafe content for $p must end with the \\n terminator " +
        "(the side file's completeness witness)")
    val side = new Path(p.getParent, p.getName + ".next")
    writeString(side, s)
    StoreIO.Faults.step(p) // crash between complete side write and the flip
    StoreIO.Stats.renames.increment()
    fc.rename(side, p, Options.Rename.OVERWRITE)
  }

  /** The side file's content iff it exists AND is complete (carries the
    * [[overwriteSafe]] terminator). A torn `.next` — crash mid-write, no
    * terminator — reads as absent, which is exactly what makes the
    * fallback sound for the FIRST-ever overwriteSafe (no primary yet). */
  private def sideComplete(p: Path): Option[String] = {
    val side = new Path(p.getParent, p.getName + ".next")
    try {
      val s = readString(side)
      if (s.endsWith("\n")) Some(s) else None
    } catch { case _: java.io.IOException => None }
  }

  /** Read a file maintained by [[overwriteSafe]], falling back to the
    * completed `.next` side copy if a crash (or a concurrent flip — the
    * local rename-overwrite is delete-then-rename) hit the primary's gap.
    * Open-first, not exists-then-open: the existence probe would race the
    * flip. One primary retry covers the flip completing between the two
    * reads (side renamed onto primary after the primary miss). */
  def readSafe(p: Path): String =
    try readString(p)
    catch { case e: java.io.IOException =>
      sideComplete(p).getOrElse {
        try readString(p) catch { case _: java.io.IOException => throw e }
      }
    }

  /** Existence for [[overwriteSafe]]-maintained files: the primary, or a
    * COMPLETE side copy. A torn `.next` with no primary reports absent —
    * the store was never successfully written. */
  def existsSafe(p: Path): Boolean =
    exists(p) || sideComplete(p).isDefined

  /** Immediate child FILES of `p` (empty if `p` doesn't exist).
    * Open-first (catch FNF) rather than exists-then-list: one round trip
    * instead of two, and no probe/list race window. */
  def listFiles(p: Path): Seq[Path] =
    try { StoreIO.Stats.lists.increment()
      fc.util.listStatus(p).toSeq.filter(_.isFile).map(_.getPath) }
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Recursive delete; silently ignores a missing path (delete-first,
    * catch FNF — no exists pre-probe round trip). */
  def delete(p: Path): Unit = {
    StoreIO.Faults.step(p)
    try { StoreIO.Stats.deletes.increment(); fc.delete(p, true); () }
    catch { case _: java.io.FileNotFoundException => () }
  }

  def mkdirs(p: Path): Unit = {
    StoreIO.Faults.step(p)
    fc.mkdir(p, FsPermission.getDirDefault, true)
  }

  /** Immediate child DIRECTORIES of `p` (empty if `p` doesn't exist). */
  def listDirs(p: Path): Seq[Path] =
    try { StoreIO.Stats.lists.increment()
      fc.util.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath) }
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Modification time of `p` (epoch millis), if it exists. */
  def mtime(p: Path): Option[Long] =
    try { StoreIO.Stats.exists.increment()
      Some(fc.getFileStatus(p).getModificationTime) }
    catch { case _: java.io.FileNotFoundException => None }

  /** The ids of the root's `<prefix><long>` child files — the ONE
    * stray-tolerant name rule for write-once control files (`_PTR-`,
    * `_APPLIED-`): a name whose suffix is not a long (a `_PTR-3.bak`
    * manual copy — post-incident surgery) was never written by a
    * protocol here and is skipped, never parsed; the stores' audits are
    * where such names surface (e.g. the replica fsck's `control_strays`
    * row, which also flags the rolled-back-head case a skip alone would
    * hide). Content parses stay STRICT everywhere — the write-once and
    * side-file primitives make torn content impossible from a crash. */
  def numberedFiles(prefix: String): Seq[Long] =
    listFiles(root).map(_.getName).filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toLongOption)
}

/** The operability contract every durable graft store exposes to the SQL
  * maintenance doors (`graft_index_audit` / `CALL graft.system.index_vacuum`
  * — see [[graft.plans.GraftTvf.openIndexStore]], which sniffs the concrete
  * kind from the root's layout): a structural integrity report with one row
  * per protocol invariant — (check, ok, observed, details) — and a
  * wreckage-reclaim pass returning the deleted paths. How much `vacuum` may
  * safely reclaim is each store's own protocol argument (the OpLog-fenced
  * stores sweep unreferenced partitions under the enforced lease; the
  * logless [[ImageHashStore]] reclaims only write-job staging wreckage). */
trait MaintainableStore {
  def audit(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame
  def vacuum(): Seq[String]
}

object StoreIO {
  /** Age gate for GC of SUPERSEDED write-once version names (replica/view
    * `_PTR-`, OpLog `_LOG-` truncation, `_VACUUM-` lease entries): a name
    * may be deleted only once it is older than this grace, because a
    * deleted name can be RE-CREATED — and a committer that pinned its
    * snapshot before the name was first taken can land a "successful"
    * createExclusive at the freed name, below the committed head, where
    * readers (who resolve the max) never see it. That is a SILENT lost
    * commit: the r16 stress reproduced it as the view over-count (a
    * maintainer descheduled across two replica commits folded a view
    * delta for a batch the replica never kept). Within the grace no name
    * is ever reused, so a same-version laggard fails loudly at the still-
    * present name; a laggard stalled PAST the grace is caught by the
    * commit-time ancestry validation (see BucketedReplica.commitPointer),
    * and past-grace-with-successor-also-swept remains as the documented
    * residual (the Delta-log retention argument: bounded by grace, not by
    * generation count). Deployment knob `-Dgraft.store.ptrGraceMs`; the
    * default comfortably exceeds any fold's snapshot-to-commit latency
    * while keeping the superseded-name backlog bounded by grace × commit
    * rate. */
  private[graft] def ptrGraceMs: Long =
    sys.props.get("graft.store.ptrGraceMs").flatMap(_.toLongOption)
      .getOrElse(30L * 60 * 1000)

  /** Process-wide control-plane op counters — the round-trip meter the
    * traced benchmark (perfbench `--trace 1`) reports per tail batch
    * (every pointer/manifest/meta access in the process funnels through
    * these primitives; LongAdder increments are contention-free noise
    * next to any FS call). On a cluster each op
    * is a namenode/object-store round trip, so the per-commit counts here
    * ARE the control-plane latency model. */
  object Stats {
    import java.util.concurrent.atomic.LongAdder
    val reads = new LongAdder; val writes = new LongAdder
    val renames = new LongAdder; val exists = new LongAdder
    val lists = new LongAdder; val deletes = new LongAdder
    def snapshot(): Map[String, Long] = Map(
      "reads" -> reads.sum(), "writes" -> writes.sum(),
      "renames" -> renames.sum(), "exists" -> exists.sum(),
      "lists" -> lists.sum(), "deletes" -> deletes.sum())
    /** a - b, per key (for before/after deltas). */
    def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      a.map { case (k, v) => k -> (v - b.getOrElse(k, 0L)) }
  }

  /** Crash-injection harness behind the CrashSweepSpec protocol sweeps.
    *
    * Every MUTATING control-plane primitive ([[StoreIO.writeString]], the
    * visibility renames of [[StoreIO.createExclusive]]/
    * [[StoreIO.overwriteSafe]], [[StoreIO.delete]], [[StoreIO.mkdirs]])
    * calls [[step]] first. Disarmed (production, and every other suite
    * when tests run in parallel) that is one volatile read returning on a
    * null check; a path-prefix filter scopes an armed injector to ONE
    * store root, so concurrently-running suites' stores never trip it.
    *
    * Armed at op `k`, ops 1..k-1 under the prefix succeed, op `k` throws
    * [[InjectedCrash]], and so does EVERY later op under the prefix until
    * [[disarm]] — a dead process does no more I/O, so compensating catch
    * blocks cannot "un-crash" the disk state. Sweeping k over all
    * mutation counts therefore visits every durable prefix a real crash
    * can leave (states between two consecutive mutations are identical on
    * disk, so read-op crash points add nothing). `torn = true`
    * additionally models a mid-write death at op k when op k is a
    * [[StoreIO.writeString]]: half the bytes land before the crash — the
    * case the overwriteSafe terminator and pointer tmp-rename exist for.
    *
    * [[InjectedCrash]] is a PLAIN RuntimeException matched explicitly, for
    * THREE exclusions: the protocols' IOException / ConcurrentCommit
    * handling must not mistake an injected death for a retryable race (it
    * is not an IOException); the post-pointer best-effort blocks must not
    * swallow it (they catch [[BestEffort]], which is NonFatal MINUS this
    * class — the r16 compact crash sweep caught a "dead process" executing
    * the rest of the commit when those blocks used bare NonFatal); and
    * Spark's fatal-error machinery must never see it as fatal — the
    * earlier `extends VirtualMachineError` spelling satisfied the first
    * two by exploiting NonFatal's blind spot, but `Utils.isFatalError`
    * treats VirtualMachineError as executor-killing, so one injected
    * crash reaching a task thread shut down the shared local executor's
    * pool and poisoned every suite scheduled after it (the r16 driver
    * `sbt test` death). */
  private[graft] object Faults {
    final class InjectedCrash(msg: String) extends RuntimeException(msg)

    /** `NonFatal` that refuses to match an [[InjectedCrash]]. Every
      * best-effort / housekeeping catch in the store protocols uses this
      * instead of bare NonFatal, so a simulated process death always
      * propagates to the sweep harness no matter where it fires. */
    object BestEffort {
      def unapply(t: Throwable): Boolean = t match {
        case _: InjectedCrash => false
        case scala.util.control.NonFatal(_) => true
        case _ => false
      }
    }

    private final class Arm(val prefix: String, k: Int, val torn: Boolean) {
      var remaining: Int = k     // ops allowed before the crash, incl. op k
      var fired: Boolean = false
      var toreWrite: Boolean = false
    }
    @volatile private var arm: Arm = null

    /** Arm a crash at the k-th (1-based) mutating op whose path starts
      * with `rootPrefix`. */
    def armAt(rootPrefix: String, k: Int, torn: Boolean = false): Unit = {
      require(k >= 1, s"crash op index is 1-based, got $k")
      arm = new Arm(rootPrefix, k, torn)
    }

    /** Disarm; returns (fired, toreWrite) — whether the crash triggered at
      * all, and whether it triggered AS a torn write (op k was a
      * writeString and torn mode was on). */
    def disarm(): (Boolean, Boolean) = {
      val a = arm
      arm = null
      if (a == null) (false, false) else (a.fired, a.toreWrite)
    }

    /** Called by every mutating primitive. Returns true iff this op must
      * tear (write half, then die) — possible only for writeString
      * (`tearable = true`); renames/deletes/mkdirs are atomic on every
      * target FS, so a torn-mode crash landing on one is a plain crash. */
    private[streaming] def step(p: Path, tearable: Boolean = false): Boolean = {
      val a = arm
      if (a == null) false
      else stepArmed(a, p, tearable)
    }
    private def stepArmed(a: Arm, p: Path, tearable: Boolean): Boolean =
      a.synchronized {
        if (!p.toString.startsWith(a.prefix) &&
            !p.toUri.getPath.startsWith(a.prefix)) false
        else if (a.fired) throw new InjectedCrash(s"I/O after crash: $p")
        else {
          a.remaining -= 1
          if (a.remaining > 0) false
          else {
            a.fired = true
            if (a.torn && tearable) { a.toreWrite = true; true }
            else throw new InjectedCrash(s"crash before mutation of $p")
          }
        }
      }
  }

  /** The session's Hadoop configuration when a session is up (always, in
    * normal operation — stores live inside Spark apps), else a default
    * [[Configuration]] so pure-JVM callers (store destroy in test cleanup)
    * still resolve local paths. */
  def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Thrown when an [[OpLog]] commit loses the write-once race to a
    * concurrent committer. An appender catching this must re-read the log:
    * if a migration landed, its own data partitions were computed under the
    * dead generation — delete them and rethrow so the stream's foreachBatch
    * retry recomputes under the new one. */
  final class ConcurrentCommit(msg: String) extends RuntimeException(msg)
}

/** Write-once operation log — the shared commit protocol of the
  * generation-versioned partition stores ([[LshIndex]], [[IvfIndex]]).
  *
  * Every state change (micro-batch append, layout migration, compaction)
  * becomes one `_LOG-<v>` file whose creation via
  * [[StoreIO.createExclusive]] is the single serialization point: two
  * operations racing on the same next version cannot both win — the loser
  * gets [[StoreIO.ConcurrentCommit]] and must re-read before retrying.
  * Data files are always fully written BEFORE their log entry, so a
  * committed entry implies complete data and a crash between write and
  * commit leaves only invisible garbage (re-runs overwrite it).
  *
  * Readers derive the EXACT set of valid `batch_id` partitions by folding
  * the log — `consol=` ids of the latest migration/compaction plus every
  * `append` after it — rather than a half-open id-range cut. That exactness
  * is what closes the r5 pre-commit-visibility hole: a migration's
  * half-written consolidated partition is at an id NO committed entry
  * names, so readers cannot see it until its entry lands.
  *
  * Entry kv grammar (one `k=v` per line):
  * {{{
  *   type=append    batch=<id>
  *   type=migrate   consol=<id[,id…]> maxseen=<max batch id folded in>
  *                  + store-specific fields (r/b for LSH, dir for IVF)
  *   type=compact   consol=<id[,id…]> maxseen=<…>  (a migration that keeps
  *                                                  the current layout)
  * }}}
  *
  * Scale note: the log is control-plane — one tiny file per micro-batch,
  * one list+read per store open. Compaction folds the whole history into a
  * single entry and GCs the prefix, so the log length is bounded by the
  * compaction cadence, not the stream's lifetime.
  */
final class OpLog(io: StoreIO) {

  private val prefix = "_LOG-"

  // ---- vacuum lease -------------------------------------------------------
  // The ENFORCED form of the index stores' quiesced-only vacuum contract.
  // Vacuum deletes dirs the online GCs must never touch (ids above maxSeen
  // — exactly the dirs a defeated append's retry reuses), so it needs
  // pessimistic exclusion, not just the optimistic log race: the log entry
  // alone defeats IN-FLIGHT writers (their commit loses the version race
  // and they clean up), but a defeated writer's RETRY could rewrite its
  // same-named dir while vacuum's delete pass is still running — a window
  // where a later commit references deleted data. The lease closes it,
  // and ORDER is the whole argument. Vacuum: lease, THEN log entry, THEN
  // deletes, THEN release. Writers: read log state, THEN probe the lease,
  // THEN write data. A writer that commits after vacuum's entry without a
  // version conflict must have READ state at-or-after that entry — which
  // happened after the lease landed — so its post-read probe saw the
  // lease and refused before writing anything. (Probing BEFORE the state
  // read would not close this: the probe-to-read gap is an unbounded
  // descheduling window — the review's find.) A writer whose state read
  // predates the entry loses the write-once version race instead, cleans
  // up, and its retry hits the probe. Either way no commit ever lands
  // naming a path the delete pass removed.
  //
  // A crashed vacuum leaves a stale lease; it EXPIRES once it ages past
  // the TTL (`-Dgraft.index.vacuumTtlMs`, default 1h — deletes take
  // seconds, and hour-scale TTL dwarfs any realistic clock skew). The
  // lease carries an owner token so a holder that stalls PAST its TTL
  // (and is lapped by a successor vacuum) cannot release the successor's
  // lease on its way out.
  //
  // The lease is a VERSIONED write-once log (`_VACUUM-<n>`), not one
  // mutable name: the highest n is the head; a `held` head younger than
  // the TTL means a vacuum owns the store, anything else (released head,
  // expired head, no entries) means it is free. Acquire creates the NEXT
  // version `held`; release creates the next version `released` — every
  // transition is fused with an atomic createExclusive, so there is NO
  // blind delete anywhere in the protocol. The earlier single-file form
  // had a sweep TOCTOU (the review's find): between a writer reading a
  // past-TTL lease and deleting it, a successor vacuum could sweep that
  // same stale lease and create a FRESH one — the writer's delete then
  // removed the LIVE lease and let a writer (or a second vacuum) run
  // concurrently with the live vacuum's delete pass. Here an expired
  // head is simply IGNORED (never deleted), and a late actor that based
  // a decision on a stale head loses the write-once race at the next
  // version name. Entries strictly below a released head are GC'd
  // best-effort after the release lands — decisions only ever read the
  // max, so deleting older names races nothing. A legacy bare `_VACUUM`
  // file (pre-versioning layout) reads as version 0, held.

  private val leaseName = "_VACUUM"

  private def leaseVersions(): Seq[Long] =
    io.listFiles(io.root).map(_.getName).flatMap {
      case n if n.startsWith(leaseName + "-") =>
        n.stripPrefix(leaseName + "-").toLongOption
      case n if n == leaseName => Some(0L) // legacy single-file lease
      case _ => None
    }.sorted

  private def leasePath(v: Long): Path =
    if (v == 0L) io.path(leaseName) else io.path(s"$leaseName-$v")

  private[graft] def vacuumTtlMs: Long =
    sys.props.get("graft.index.vacuumTtlMs").flatMap(_.toLongOption)
      .getOrElse(60L * 60 * 1000)

  /** (version, age millis, owner token, held?) of the lease HEAD, if any
    * lease entry exists. An unparseable timestamp (manual edit — a crash
    * cannot tear the file, createExclusive is content-atomic) falls back
    * to the FILE's mtime so the TTL still applies: a garbled lease must
    * wedge writers for at most one TTL, not forever. */
  private def leaseHead(): Option[(Long, Long, String, Boolean)] =
    leaseVersions().lastOption.flatMap { v =>
      try {
        val lines = io.readString(leasePath(v)).linesIterator.toSeq
        val token = lines.drop(1).headOption.map(_.trim).getOrElse("")
        val held = !lines.drop(2).headOption.map(_.trim).contains("released")
        val now = System.currentTimeMillis()
        val age = lines.headOption.flatMap(_.trim.toLongOption)
          .map(t => now - t)
          .orElse(io.mtime(leasePath(v)).map(m => now - m))
          .getOrElse(0L)
        Some((v, age, token, held))
      } catch { case _: java.io.IOException => None }
    }

  /** The head iff it is a live (held, unexpired) lease. */
  private def liveLease(): Option[(Long, Long, String)] =
    leaseHead().collect {
      case (v, age, tok, true) if age < vacuumTtlMs => (v, age, tok)
    }

  /** Writer-side guard — called by every mutating store operation AFTER
    * it reads log state and BEFORE it writes any data (see the order
    * argument above). Fails loudly while a live vacuum holds the store;
    * an expired head (crashed vacuum past its TTL) is simply ignored —
    * never deleted — so there is nothing here for a successor's fresh
    * lease to race with. */
  private[graft] def assertNoLiveVacuum(what: String): Unit =
    liveLease().foreach { case (_, age, _) =>
      throw new IllegalStateException(
        s"$what refused: a vacuum holds ${io.path(leaseName)} " +
          s"(age ${age}ms < ttl ${vacuumTtlMs}ms) — retry after it " +
          "finishes or, if it crashed, after the lease expires")
    }

  /** Take the exclusive vacuum lease: createExclusive of the next lease
    * version, `held` (two vacuums racing collide at the same name — one
    * loses loudly, never both sweep; a late acquirer working from a stale
    * head loses the same way). Returns the owner token to pass back to
    * [[releaseVacuumLease]]. */
  private[graft] def acquireVacuumLease(): String = {
    liveLease().foreach { case (_, age, _) =>
      throw new IllegalStateException(
        s"another vacuum holds ${io.path(leaseName)} (age ${age}ms)")
    }
    val next = leaseVersions().lastOption.getOrElse(0L) + 1
    val token = java.util.UUID.randomUUID().toString
    try io.createExclusive(leasePath(next),
      s"${System.currentTimeMillis()}\n$token\nheld\n")
    catch { case e: java.io.IOException =>
      throw new IllegalStateException(
        s"lost the vacuum lease race at ${io.path(leaseName)}: ${e.getMessage}")
    }
    // freed-name validation (see StoreIO.ptrGraceMs): released lease
    // entries are GC'd, so an acquirer working from a stale listing can
    // land at a freed LOWER name — not the head, so writers and successor
    // vacuums never see it, and two vacuums could sweep concurrently.
    // Unlike the replica pointer there is no built-on-ours case to
    // protect (nothing chains onto a lease entry): any higher name means
    // this lease is not the head — fail. The sub-head entry needs no
    // cleanup: every decision reads only the max, and the next release's
    // age-gated GC sweeps it.
    if (leaseVersions().lastOption.exists(_ > next))
      throw new IllegalStateException(
        s"vacuum lease acquire at ${io.path(leaseName)} landed at freed " +
          s"version $next below the head — stale listing; retry")
    token
  }

  /** Release the lease IFF still owned: the `released` entry only lands
    * when the head is still this holder's own `held` entry — a holder
    * lapped past its TTL by a successor (whose acquire already took the
    * next version name) no-ops on its way out instead of disturbing the
    * successor's lease. */
  private[graft] def releaseVacuumLease(token: String): Unit =
    leaseHead().foreach { case (v, _, owner, held) =>
      if (held && owner == token) {
        try io.createExclusive(leasePath(v + 1),
          s"${System.currentTimeMillis()}\n$token\nreleased\n")
        catch { case _: java.io.IOException => return } // lapped — successor owns the next name
        // best-effort GC strictly below the released head: decisions only
        // ever read the max, so deleting older names races nothing.
        // AGE-GATED (StoreIO.ptrGraceMs): a freed lease name can be
        // re-created by a stale acquirer — never free one a live acquire
        // could still land on.
        try {
          val now = System.currentTimeMillis()
          leaseVersions().filter(_ <= v).map(leasePath)
            .filter(p => io.mtime(p).exists(m => now - m > StoreIO.ptrGraceMs))
            .foreach(io.delete)
        } catch { case _: java.io.IOException => () }
      }
    }

  /** Test seams for deterministic race interleavings: invoked after an
    * operation's data is fully written, immediately before its commit
    * attempt — the exact window a concurrent committer can win. No-ops in
    * production. */
  private[graft] var beforeAppendCommit: () => Unit = () => ()
  private[graft] var beforeMigrateCommit: () => Unit = () => ()

  /** Test seam: invoked after a migration's log entry commits, before its
    * GC thunk deletes the dead dirs — the window a defeated append's
    * RETRY recreates (and may even re-commit) its same-named batch dir
    * in, which is why migration GC carries the maxSeen cut. No-op in
    * production. */
  private[graft] var beforeMigrateGc: () => Unit = () => ()

  def versions: Seq[Long] = {
    val names = io.listFiles(io.root).map(_.getName)
    // Pre-OpLog generation commits must fail LOUDLY: this build derives
    // validity only from _LOG- entries, so silently ignoring a legacy
    // marker would read the store as empty and forget its migrated layout.
    // (Plain-append stores written before the log carry no marker and must
    // be rebuilt — documented contract; the marker case is detectable.)
    val legacy = names.filter(n =>
      n.startsWith("_BANDING-") || n.startsWith("_CENTROIDS-"))
    if (legacy.nonEmpty) throw new IllegalStateException(
      s"store at ${io.root} carries pre-OpLog generation commits " +
        s"(${legacy.mkString(", ")}); this build reads only _LOG- entries — " +
        s"rebuild the index from its source corpus")
    // the ONE stray-tolerant name rule (numberedFiles): a `_LOG-3.bak`
    // manual copy was never written by a protocol here — skip it instead
    // of wedging every state()/versions() caller on a NumberFormatException;
    // the stores' audits surface skipped strays via [[strayLogNames]]
    names.filter(_.startsWith(prefix)).flatMap(_.stripPrefix(prefix).toLongOption).sorted
  }

  /** Log-prefixed names whose suffix is not a number — strays (a
    * `_LOG-3.bak` manual copy, post-incident surgery) [[versions]] skips;
    * the stores' audits report these so the skip never hides them. */
  def strayLogNames: Seq[String] =
    io.listFiles(io.root).map(_.getName)
      .filter(n => n.startsWith(prefix) &&
        n.stripPrefix(prefix).toLongOption.isEmpty).sorted

  /** Irreversible-pass gate: READS tolerate stray `_LOG-` names (skip +
    * audit), but a pass that DELETES based on the folded state must not —
    * a `_LOG-5.bak` may be an operator's displaced copy of the only entry
    * referencing batch 5's partitions, and sweeping "unreferenced" dirs
    * under that skip would destroy committed data. Vacuum callers invoke
    * this after taking the lease. */
  private[graft] def assertNoStrayLogNames(what: String): Unit = {
    val strays = strayLogNames
    if (strays.nonEmpty) throw new IllegalStateException(
      s"$what refused: the log at ${io.root} carries stray entry names " +
        s"(${strays.mkString(", ")}) that reads skip — a displaced log " +
        "entry could make committed partitions fold as unreferenced, and " +
        "this pass deletes; restore or remove the strays first (the " +
        "audit's unrecognized_entries row lists them)")
  }

  // Log entries are WRITE-ONCE (createExclusive; only truncateBefore ever
  // deletes one, and only after a subsuming compact), so parsed content
  // caches safely per instance: state() costs one list plus one read per
  // NEW entry instead of re-reading the whole log every call. For a
  // stream that calls state() each micro-batch that is O(batches) total
  // round trips over its life instead of O(batches²) — the same
  // repeated-head-read waste class the replica's one-snapshot commit
  // removed; StoreTrendSpec pins the flat per-batch count. A direct
  // read(v) of a truncated version serves the cached (subsumed) content
  // instead of an IOException — benign: versions() never lists it.
  private val entryCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Map[String, String]]()

  /** Invalidation hook for destroy()-style resets. The cache's write-once
    * safety argument assumes a version number is never REUSED — which
    * destroying and re-creating the store breaks (the log restarts at 1,
    * and a stale cached entry would serve the pre-destroy validIds/
    * migration state). Each store's destroy() must call this alongside its
    * own exists-cache resets. */
  private[graft] def reset(): Unit = entryCache.clear()

  def read(v: Long): Map[String, String] = {
    val hit = entryCache.get(v)
    if (hit != null) hit
    else {
      val kv = io.readString(io.path(s"$prefix$v")).linesIterator
        .filter(_.contains("=")).map { l =>
          val Array(k, vv) = l.split("=", 2); k -> vv
        }.toMap
      entryCache.put(v, kv)
      kv
    }
  }

  /** All entries in commit order. */
  def entries: Seq[(Long, Map[String, String])] = versions.map(v => v -> read(v))

  /** Attempt to commit `kv` at version `expected` (normally
    * `versions.lastOption.getOrElse(0L) + 1`). Throws
    * [[StoreIO.ConcurrentCommit]] if another committer took it first. */
  def commitAt(expected: Long, kv: Map[String, String]): Unit =
    try io.createExclusive(io.path(s"$prefix$expected"),
      kv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("", "\n", "\n"))
    catch { case e: java.io.IOException =>
      throw new StoreIO.ConcurrentCommit(
        s"log version $expected was committed concurrently: ${e.getMessage}")
    }

  def nextVersion: Long = versions.lastOption.getOrElse(0L) + 1

  /** The folded reader/writer view of the log:
    * `validIds` — exactly the batch_id partitions a PRIMARY-dataset reader
    * may union (postings/pairs for LSH, index for IVF); a `migrate` entry
    * replaces the set with its `consol` ids, an `append` adds its id;
    * `auxIds` — the layout-INDEPENDENT dataset's valid partitions (LSH
    * signatures): appends add to it, `migrate` leaves it untouched (the
    * stored primitive survives a layout change), only `compact` replaces it
    * with `auxconsol`;
    * `migration` — the latest migrate/compact entry's kv (layout fields);
    * `migrationVersion` — that entry's log version (0 if none): an appender
    * whose commit loses a race compares this against the version it read to
    * distinguish "another append slipped in" (retry the commit) from "a
    * migration slipped in" (its own data is under a dead layout — clean up
    * and recompute);
    * `maxSeen` — the highest append id the log has ever named (duplicate
    * fence for crash-retried appends; stream batch ids are monotone);
    * `version` — the last log version folded (the optimistic-concurrency
    * read timestamp). */
  def state: OpLog.State = {
    val es = entries
    var valid = Vector.empty[Long]
    var aux = Vector.empty[Long]
    var mig: Option[Map[String, String]] = None
    var migV = 0L
    var maxSeen = -1L
    es.foreach { case (v, kv) =>
      kv.getOrElse("type", "") match {
        case "append" =>
          val b = kv("batch").toLong
          valid :+= b; aux :+= b; maxSeen = math.max(maxSeen, b)
        case t @ ("migrate" | "compact") =>
          valid = kv("consol").split(",").filter(_.nonEmpty).map(_.toLong).toVector
          if (t == "compact") aux =
            kv.getOrElse("auxconsol", kv("consol"))
              .split(",").filter(_.nonEmpty).map(_.toLong).toVector
          maxSeen = math.max(maxSeen, kv.get("maxseen").map(_.toLong).getOrElse(-1L))
          mig = Some(kv); migV = v
        case _ => ()
      }
    }
    OpLog.State(valid.distinct, aux.distinct, mig, migV, maxSeen,
      es.lastOption.map(_._1).getOrElse(0L))
  }

  /** GC every entry strictly before `v` — safe only when entry `v` is a
    * compact whose `consol`/`auxconsol`/`maxseen` subsume the prefix
    * (a migrate does NOT subsume aux history and must keep the prefix).
    * AGE-GATED ([[StoreIO.ptrGraceMs]]): a deleted `_LOG-` name can be
    * re-created, so a laggard appender descheduled past a compact could
    * land its entry at a freed name BELOW the compact — folded before the
    * compact's replacement, i.e. silently discarded. Only names older
    * than the grace (beyond any live appender's read-to-commit window)
    * are freed; the leftover prefix is re-swept by the next compaction. */
  def truncateBefore(v: Long): Unit = {
    val now = System.currentTimeMillis()
    versions.filter(_ < v)
      .map(o => io.path(s"$prefix$o"))
      .filter(p => io.mtime(p).exists(m => now - m > StoreIO.ptrGraceMs))
      .foreach(io.delete)
  }

  /** Append-commit with the race protocol (data for `batchId` must be fully
    * on disk before calling — the write-before-commit invariant). If a
    * MIGRATION committed after `readVersion`, the append's data was computed
    * under the dead layout: `cleanupStale` removes it and
    * [[StoreIO.ConcurrentCommit]] propagates so the stream's foreachBatch
    * retry recomputes under the new generation. A racing sibling APPEND just
    * re-races at the next version (and a sibling that committed this very
    * batch id makes this call a no-op). */
  def commitAppend(readVersion: Long, batchId: Long, cleanupStale: () => Unit): Unit = {
    beforeAppendCommit()
    try commitAt(readVersion + 1,
      Map("type" -> "append", "batch" -> batchId.toString))
    catch { case _: StoreIO.ConcurrentCommit =>
      val st2 = state
      // exactly THIS batch already committed (a crash-retry whose first
      // attempt's commit landed): the recomputed data is identical — no-op
      if (st2.validIds.contains(batchId)) return
      // ANY other concurrent commit — a migration OR a sibling append —
      // invalidates what this batch derived from its read state (under a
      // dead layout, or without the sibling's postings on the probe side,
      // which would silently drop cross-batch candidate pairs). Remove the
      // stale output and make the caller recompute against current state.
      cleanupStale()
      throw new StoreIO.ConcurrentCommit(
        s"batch $batchId was computed against log state that changed " +
          s"mid-flight; output removed — retry against the current state")
    }
  }

  /** Optimistic-concurrency migration driver: run `body` against the
    * current state — it writes its (invisible, uncommitted) output and
    * returns the log entry plus a post-commit GC thunk — then race the
    * entry against any concurrent append. Losing the race re-runs the body
    * over the NEW state (the interleaved batch folds in); after
    * `maxAttempts` losses fail loudly — deterministic reject, never silent
    * corruption. On a win, run the GC thunk, then truncate the log prefix
    * if the entry is a compact (which subsumes it). */
  def migrate(what: String, maxAttempts: Int = 5)
      (body: OpLog.State => (Map[String, String], () => Unit)): Unit = {
    var attempts = 0
    while (true) {
      val st = state
      val (entry, gc) = body(st)
      beforeMigrateCommit()
      try {
        commitAt(st.version + 1, entry)
        beforeMigrateGc()
        gc()
        if (entry("type") == "compact") truncateBefore(st.version + 1)
        return
      } catch { case _: StoreIO.ConcurrentCommit =>
        attempts += 1
        if (attempts >= maxAttempts)
          throw new IllegalStateException(
            s"$what lost the commit race $maxAttempts times to concurrent " +
              s"appends — the ingest is outrunning the rewrite; retry when " +
              s"pressure drops")
        // loop: recompute over the state that now includes the winner
      }
    }
  }
}

object OpLog {
  /** See [[OpLog.state]] for field semantics. */
  final case class State(validIds: Seq[Long], auxIds: Seq[Long],
                         migration: Option[Map[String, String]],
                         migrationVersion: Long, maxSeen: Long, version: Long)

  /** The partition-store naming rule, in ONE place (LSH postings/pairs/
    * sigs, IVF index, the ingest's seen store): `batch_id=<long>` parses
    * to its id; anything else — a manual copy, a `batch_id=3.bak` backup
    * suffix, exactly the post-incident states audits exist for — is a
    * STRAY that is nobody's to parse, fold, delete, or collide with.
    * Maintenance skips strays; audits report them instead of crashing.
    * Caveat the audits surface: a stray holding FILES still breaks the
    * dataset dir's Hive partition discovery (Spark casts the dir's
    * partition value), so file-bearing strays are flagged ok=false. */
  def batchIdOf(name: String): Option[Long] =
    if (name.startsWith("batch_id=")) name.stripPrefix("batch_id=").toLongOption
    else None
}
