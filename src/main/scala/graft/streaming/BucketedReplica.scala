package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import org.apache.hadoop.fs.Path

/** Incremental keyed replica with bucket-granular rewrites and atomic
  * pointer commits — the storage half of the reference's streaming MERGE
  * (reference README.md:195-206: staging → periodic MERGE into the replica;
  * the Dataflow template performs a bounded keyed merge per cycle, never a
  * full-table rewrite).
  *
  * Layout (all paths under `root`):
  * {{{
  *   _PTR-<v>                  // write-once pointer file: version v is
  *                             // committed; readers resolve max(v). Content
  *                             // names the winning attempt (`attempt=`) and
  *                             // the previous version's (`prev=`), which is
  *                             // how readers find the control files below.
  *   manifest-<v>-<attempt>.tsv // bucket \t relative-data-dir, one per bucket
  *   data/v<v>-<attempt>/bucket=<k>/part-….parquet
  *                             // attempt-unique per commit try, so a
  *                             // defeated concurrent committer can never
  *                             // overwrite a committed version's files
  * }}}
  *
  * EVERY version-scoped artifact — the data dirs AND the control files
  * (manifest/schema/tag/time) — is attempt-suffixed and write-once; the
  * `_PTR-<v>` create-new-key is the single serialization point, and its
  * CONTENT names which attempt won. A defeated committer therefore cannot
  * clobber anything the winner's pointer references, closing the r8
  * check-then-act window where a loser's plain `manifest-<v>` overwrite
  * landed after the winner's but before the loser's pointer loss.
  * (Legacy pointers whose content is just the bare version resolve to the
  * unsuffixed control names — the pre-r9 format, still written by
  * [[cloneShallow]] where v1 has a single writer by construction.)
  *
  * READER-LAG CONTRACT: every read operation resolves version AND control
  * names from ONE `_PTR-<v>` content read (`headSnapshot`), so the two can
  * never mix pointer generations. A reader may lag the committer by at
  * most ONE version: current + previous control files and data are
  * retained, older versions are swept. A `readAt(v)` that loses ≥2 commits
  * between its snapshot and its manifest read re-snapshots; if v is still
  * retained it retries, and if v has rolled out it fails LOUDLY with the
  * not-retained error — that loud failure is the contract, never a
  * FileNotFoundException from a guessed legacy name (the r9 stale-reader
  * bug) and never a silently empty read. Head reads (`read`/`live`) always
  * make progress by chasing the newest pointer.
  *
  * Scale design (the 100 TB story):
  *  - rows are hash-bucketed by primary key (`pmod(xxhash64(pk), n)`), so a
  *    micro-batch touches only the buckets its keys fall in: per-batch I/O is
  *    O(touched buckets) ≈ O(batch keys · replica/nBuckets), NOT O(replica).
  *    Untouched buckets keep their existing files — the new manifest simply
  *    re-references them.
  *  - readers resolve max(`_PTR-<v>`) → manifest → bucket dirs; pointer
  *    files are write-once (creation is atomic on POSIX, HDFS, and object
  *    stores alike), so a concurrent reader sees the old or the new
  *    version in full, never a partial or empty replica. Version dirs
  *    referenced by the current OR previous manifest are retained, so a
  *    reader holding a just-replaced manifest still finds its files
  *    (bounded-staleness retention, the VACUUM model of transactional table
  *    formats).
  *  - tombstones (op = DELETE) are retained in the stored form so
  *    out-of-order micro-batches cannot resurrect deleted keys, and are
  *    garbage-collected once their event time falls behind an explicit
  *    horizon (the stream's watermark): no earlier position can still
  *    arrive, so the tombstone has no one left to win against.
  *
  * The bucket column is derived from the pk (pure function), never stored —
  * bucket files carry exactly `schema`.
  */
final class BucketedReplica(
    val root: String,
    val pk: String = "user_id",
    nBuckets: Int = 32,
    schema: StructType = CdcStream.envelopeSchema,
    val posCol: String = "pos",
    val opCol: String = "op",
    tsCol: String = "ts_ns") {

  /** All control-plane I/O (pointer, manifests, meta, GC listing) goes
    * through the filesystem-agnostic [[StoreIO]]: the replica root may be a
    * local dir in tests or an `hdfs://` URI on a cluster, same code. */
  private val io = new StoreIO(root, StoreIO.sessionConf())

  /** The bucket count is part of the stored layout: rows were placed by
    * `pmod(xxhash64(pk), n)` at write time, so re-deriving buckets with a
    * different n would make touched-bucket reads miss existing rows and
    * duplicate keys. The CURRENT layout n is versioned with the manifest
    * (`#n=` header line — [[rebucket]] changes it atomically with the
    * pointer flip); `_META` pins the pk and carries the creation-time n as
    * a fallback for pre-header manifests. Every writer open must agree
    * with the current layout or fails loudly. */
  private def metaKv: Map[String, String] = {
    val meta = io.path("_META")
    if (!io.existsSafe(meta)) Map.empty
    else io.readSafe(meta)
      .linesIterator.filter(_.contains("=")).map { l =>
        val Array(k, v) = l.split("=", 2); k -> v
      }.toMap
  }

  /** Source batch tag of the replica's FIRST EVER commit, if it was tagged
    * — recorded durably at creation and never GC'd, so a consistent-cut
    * reader can distinguish "this table was born after cut C" (provably
    * empty at C) from "the ≤-C version has been evicted" (a retention
    * violation), even once version retention has rolled past the birth. */
  def firstTag: Option[Long] = metaKv.get("firstTag").map(_.trim.toLong)

  /** Upgrade path for replicas created BEFORE birth tags were recorded:
    * durably register the source batch tag of the first-ever commit, known
    * from deployment history. Without it, a consistent-cut read whose cut
    * precedes every retained tag cannot distinguish "born later" (provably
    * empty) from "evicted" (retention violated) and fails loudly. Refuses
    * to overwrite an existing birth tag or to claim a birth AFTER a
    * retained tag (a version tagged t proves the table existed by t —
    * backfilling anything later would be unsound, which is why this is an
    * explicit operator action and never an automatic guess from the oldest
    * retained tag). */
  def recordFirstTag(t: Long): Unit = {
    require(firstTag.isEmpty,
      s"replica at $root already records firstTag=${firstTag.get}")
    retainedTags.values.reduceOption(_ min _).foreach(minTag =>
      require(t <= minTag,
        s"firstTag=$t is after retained tag $minTag — a version tagged " +
          s"$minTag proves the table existed by then"))
    val kv = metaKv
    io.overwriteSafe(io.path("_META"),
      (kv.toSeq.sortBy(_._1) :+ ("firstTag" -> t.toString))
        .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))
  }

  private def writeMetaKv(kv: Map[String, String]): Unit =
    io.overwriteSafe(io.path("_META"),
      kv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("", "\n", "\n"))

  /** Declared CHECK constraints (name → SQL boolean expression over the
    * stored schema), recorded durably in `_META` as `check.<name>=<expr>`
    * lines — like the rest of the table contract, they survive cold
    * sessions and are discovered by any writer that opens the root. */
  def checkConstraints: Map[String, String] = checksOf(metaKv)

  private def checksOf(kv: Map[String, String]): Map[String, String] =
    kv.collect {
      case (k, v) if k.startsWith("check.") => k.stripPrefix("check.") -> v
    }

  /** Declare a CHECK constraint. ANSI semantics: a row violates only when
    * the expression evaluates FALSE (UNKNOWN/NULL passes), and DELETE
    * tombstones are exempt (their non-key columns are legitimately NULL —
    * a constraint must never make a key undeletable). Declaration
    * validates the EXISTING live rows in one scan and refuses if any
    * violate — so a reader may assume every live row of every later
    * version satisfies every declared constraint. */
  def addCheck(spark: SparkSession, name: String, exprSql: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name '$name' must be [A-Za-z0-9_]+")
    require(!checkConstraints.contains(name),
      s"constraint '$name' already declared as: ${checkConstraints(name)}")
    require(!exprSql.contains("\n") && !exprSql.contains("\r"),
      "constraint expression must be single-line (stored in _META)")
    val violating = live(spark)
      .filter(expr(exprSql).cast(BooleanType) === false).count()
    require(violating == 0,
      s"cannot add CHECK '$name' ($exprSql): $violating existing live " +
        "rows violate it — clean the data first (the constraint would " +
        "otherwise claim a guarantee the stored table does not meet)")
    writeMetaKv(metaKv + (s"check.$name" -> exprSql))
  }

  /** Drop a declared CHECK constraint. */
  def dropCheck(name: String): Unit = {
    require(checkConstraints.contains(name),
      s"no CHECK constraint named '$name'; declared: " +
        checkConstraints.keys.toSeq.sorted.mkString(", "))
    writeMetaKv(metaKv - s"check.$name")
  }

  /** Declared FOREIGN KEY constraints: name → (local column, parent
    * replica root). Stored as `fk.<name>=<column>\t<parentRoot>` meta
    * lines (tab-separated — roots may contain '='). */
  def fkConstraints: Map[String, (String, String)] = fksOf(metaKv)

  private def fksOf(kv: Map[String, String]): Map[String, (String, String)] =
    kv.collect {
      case (k, v) if k.startsWith("fk.") =>
        val Array(c, r) = v.split("\t", 2)
        k.stripPrefix("fk.") -> ((c, r))
    }

  /** Declare a FOREIGN KEY: every non-NULL value of `column` in a
    * committed upsert row must exist as a live key of the parent replica
    * at `parentRoot` (tombstones exempt, NULL passes — ANSI MATCH SIMPLE).
    * Declaration validates the existing live rows with one anti-join.
    * Enforcement is ONE batch-sized anti-join per commit against the
    * parent's live keys — at scale the batch's distinct fk values are the
    * small side, and the parent read prunes to the buckets those keys
    * hash to. Checked at THIS table's commits only: deleting parent rows
    * does not cascade (the CDC stream owns ordering across tables — the
    * consistent-cut machinery, not the constraint, governs that). */
  def addForeignKey(spark: SparkSession, name: String, column: String,
                    parentRoot: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name '$name' must be [A-Za-z0-9_]+")
    require(!fkConstraints.contains(name),
      s"foreign key '$name' already declared")
    require(storedSchema.fieldNames.contains(column),
      s"no column '$column' in the stored schema")
    val parent = BucketedReplica.open(parentRoot)
    val orphans = live(spark).filter(col(column).isNotNull)
      .join(parent.live(spark).select(col(parent.pk).as(column)),
        Seq(column), "left_anti").count()
    require(orphans == 0,
      s"cannot add FOREIGN KEY '$name' ($column → $parentRoot): $orphans " +
        "existing live rows reference no live parent key")
    writeMetaKv(metaKv + (s"fk.$name" -> s"$column\t$parentRoot"))
  }

  /** Drop a declared FOREIGN KEY constraint. */
  def dropForeignKey(name: String): Unit = {
    require(fkConstraints.contains(name),
      s"no FOREIGN KEY constraint named '$name'; declared: " +
        fkConstraints.keys.toSeq.sorted.mkString(", "))
    writeMetaKv(metaKv - s"fk.$name")
  }

  /** Commit-side FK enforcement: one anti-join per declared FK over the
    * batch's non-tombstone rows; reject-the-batch like [[enforceChecks]].
    * Zero extra actions when no FKs are declared. */
  private def enforceForeignKeys(spark: SparkSession, batchRows: DataFrame,
                                 kv: Map[String, String]): Unit =
    fksOf(kv).toSeq.sortBy(_._1).foreach { case (nm, (column, parentRoot)) =>
      val parent = BucketedReplica.open(parentRoot)
      val orphans = batchRows
        .filter(!(col(opCol) <=> "DELETE") && col(column).isNotNull)
        .join(parent.live(spark).select(col(parent.pk).as(column)),
          Seq(column), "left_anti").count()
      if (orphans > 0) throw new IllegalArgumentException(
        s"FOREIGN KEY violation — batch rejected, nothing committed: " +
          s"'$nm' ($column → $parentRoot) fails on $orphans rows " +
          "referencing no live parent key")
    }

  /** Commit-side CHECK enforcement: counts violating non-tombstone rows
    * per constraint in ONE batch-sized action and fails loudly naming
    * every violated constraint — nothing is published, so the version
    * chain stays untouched (reject-the-batch, the CDC analogue of a
    * transactional CHECK). Costs zero extra actions when no constraints
    * are declared. */
  private def enforceChecks(batchRows: DataFrame,
                            kv: Map[String, String]): Unit = {
    val checks = checksOf(kv).toSeq.sortBy(_._1)
    if (checks.isEmpty) return
    val counters = checks.map { case (nm, ex) =>
      sum(when(!(col(opCol) <=> "DELETE") &&
        expr(ex).cast(BooleanType) === false, 1L).otherwise(0L)).as(nm)
    }
    val row = batchRows.agg(counters.head, counters.tail: _*).head()
    val violated = checks.indices
      .map(i => checks(i)._1 -> row.getLong(i)).filter(_._2 > 0)
    if (violated.nonEmpty) throw new IllegalArgumentException(
      "CHECK constraint violation — batch rejected, nothing committed: " +
        violated.map { case (nm, c) =>
          s"'$nm' (${checksOf(kv)(nm)}) fails on $c rows"
        }.mkString("; "))
  }

  private def effectiveBuckets: Int =
    effectiveBuckets(headSnapshot().flatMap { case (v, tk) => manifestBuckets(v, tk) })

  /** Layout-pinning check against an ALREADY-resolved manifest header n —
    * the one-snapshot commit path hands the header in so the check costs
    * zero extra control-plane reads. */
  private def effectiveBuckets(manifestN: Option[Int],
                               kvIn: Option[Map[String, String]] = None): Int = {
    val kv = kvIn.getOrElse(metaKv)
    kv.get("pk").foreach(p => require(p == pk,
      s"replica at $root is keyed by $p, not $pk"))
    val stored = manifestN.orElse(kv.get("nBuckets").map(_.toInt))
    stored.foreach(n => require(n == nBuckets,
      s"replica at $root is laid out with nBuckets=$n; " +
        s"opening a writer with $nBuckets would mis-place keys"))
    stored.getOrElse(nBuckets)
  }

  /** Current layout n for READ-side derivations ([[rebucket]] itself):
    * manifest header → creation meta → constructor, no pinning check. */
  private def layoutBuckets: Int =
    headSnapshot().flatMap { case (v, tk) => manifestBuckets(v, tk) }
      .orElse(metaKv.get("nBuckets").map(_.toInt))
      .getOrElse(nBuckets)

  private def writeMetaIfAbsent(n: Int, tag: Option[Long]): Unit = {
    val meta = io.path("_META")
    if (!io.existsSafe(meta))
      io.overwriteSafe(meta, s"nBuckets=$n\npk=$pk\n" +
        tag.map(t => s"firstTag=$t\n").getOrElse(""))
  }

  private def bucketExpr(n: Int): Column =
    pmod(xxhash64(col(pk)), lit(n.toLong))

  /** Committed versions, by their write-once `_PTR-<v>` pointer files
    * (stray-tolerant name rule: [[StoreIO.numberedFiles]]; [[fsck]]'s
    * `control_strays` row reports what the skip hides). */
  private def pointerVersions: Seq[Long] = io.numberedFiles("_PTR-")

  /** Highest committed version, if the replica exists. */
  def currentVersion: Option[Long] = pointerVersions.sorted.lastOption

  /** version → winning control-file attempt token for version `v` and its
    * predecessor, parsed from `_PTR-<v>`'s CONTENT: `attempt=` names v's
    * winner, `prev=` names v−1's (whose pointer is GC'd but whose control
    * files are retained). `Some(token)` = attempt-suffixed names;
    * `None` = legacy unsuffixed pre-r9 names, which a pointer declares
    * EXPLICITLY — bare-version content for its own version, `prev=-` for a
    * legacy predecessor. A version absent from the map entirely is
    * unresolvable (rolled past cur+prev retention) and must fail loudly,
    * never guess a legacy name ([[ctl]]). */
  private def parsePointer(v: Long, content: String): Map[Long, Option[String]] = {
    val kv = content.linesIterator.filter(_.contains("="))
      .map { l => val Array(k, s) = l.split("=", 2); k -> s.trim }.toMap
    val prevEntry: Map[Long, Option[String]] =
      if (v >= 2) Map(v - 1 -> kv.get("prev").filter(_ != "-")) else Map.empty
    kv.get("attempt") match {
      case Some(a) => prevEntry + (v -> Some(a))
      case None    => prevEntry + (v -> None) // legacy bare-version pointer
    }
  }

  /** ONE atomic control-plane snapshot: the newest committed version plus
    * the control-file tokens of it and its predecessor, resolved from the
    * SAME `_PTR-<v>` content read that selected the version. Every read
    * path carries this snapshot instead of re-deriving names per control
    * file — per-access re-derivation raced concurrent pointer flips: a
    * reader could select version v, lose two flips, and resolve v's
    * manifest to a legacy name that never existed (the r9 stale-reader
    * crash). The list+read retries when a concurrent flip GC's the listed
    * pointer mid-read (each retry re-lists, so it chases the NEWEST
    * pointer); a store that keeps listing pointers whose content stays
    * unreadable after 5 rounds fails loudly rather than guessing. */
  private def headSnapshot(): Option[(Long, Map[Long, Option[String]])] = {
    var lastErr: Throwable = null
    var tries = 0
    while (tries < 5) {
      tries += 1
      pointerVersions.sorted.lastOption match {
        case None => return None
        case Some(v) =>
          try return Some(v -> parsePointer(v, io.readString(io.path(s"_PTR-$v"))))
          catch { case e: java.io.IOException => lastErr = e } // flip GC'd it: re-list
      }
    }
    throw new IllegalStateException(
      s"replica at $root: newest pointer stayed unreadable across 5 " +
        "list+read rounds (concurrent flips outpaced this reader)", lastErr)
  }

  /** Control-file path under a snapshot's tokens. A version with no token
    * entry rolled past the cur+prev retention window: the correct outcome
    * is this loud error, not the pre-r10 silent legacy-name fallback that
    * surfaced as FileNotFoundException deep in a parquet read. */
  private def ctl(base: String, v: Long, ext: String,
                  tokens: Map[Long, Option[String]]): Path =
    tokens.get(v) match {
      case Some(Some(a)) => io.path(s"$base-$v-$a.$ext")
      case Some(None)    => io.path(s"$base-$v.$ext")
      case None => throw new IllegalStateException(
        s"version $v of the replica at $root has rolled past the cur+prev " +
          s"retention window (retained: ${tokens.keys.toSeq.sorted.mkString(", ")})")
    }

  private def commitTimeOf(v: Long, tokens: Map[Long, Option[String]]): Option[Long] = {
    val p = ctl("time", v, "tsv", tokens)
    if (io.exists(p)) Some(io.readString(p).trim.toLong) else None
  }

  /** Wall-clock commit time (epoch millis) of version `v`, if recorded —
    * written at publish, the basis for `TIMESTAMP AS OF` resolution.
    * Versions published before times were recorded have none. */
  def commitTimeOf(v: Long): Option[Long] =
    headSnapshot().filter(_._2.contains(v)).flatMap(s => commitTimeOf(v, s._2))

  /** The RETAINED version in effect at wall-clock `tsMillis` — the newest
    * retained version whose commit time is ≤ the asked instant (what
    * `TIMESTAMP AS OF` names). Fails loudly when the instant predates every
    * retained commit: like the consistent-cut reader, a bounded-retention
    * store cannot distinguish "born later" from "evicted" for arbitrary
    * timestamps, so guessing would be unsound. */
  def versionAt(tsMillis: Long): Long = {
    val tokens = headSnapshot().map(_._2).getOrElse(Map.empty)
    val retained = tokens.keys.toSeq.sorted
      .filter(v => v > 0 && io.exists(ctl("manifest", v, "tsv", tokens)))
    val timed = retained.flatMap(v => commitTimeOf(v, tokens).map(v -> _))
    timed.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"no retained version of the replica at $root committed at or before " +
          s"epoch-millis $tsMillis (earliest retained: " +
          s"${timed.map(_._2).minOption.getOrElse("none recorded")}) — " +
          "older versions are past the cur+prev retention window"))
  }

  private def tagOf(v: Long, tokens: Map[Long, Option[String]]): Option[Long] = {
    val p = ctl("tag", v, "tsv", tokens)
    if (io.exists(p)) Some(io.readString(p).trim.toLong) else None
  }

  /** Commit tag of version `v` (the source batch id the version reflects),
    * if one was recorded. */
  def tagOf(v: Long): Option[Long] =
    headSnapshot().filter(_._2.contains(v)).flatMap(s => tagOf(v, s._2))

  /** version → tag for every RETAINED version (current + previous) that
    * carries a tag — the alignment index for cross-replica consistent
    * reads ([[CdcStream.consistentCutVersions]]). */
  def retainedTags: Map[Long, Long] = {
    val tokens = headSnapshot().map(_._2).getOrElse(Map.empty)
    tokens.keys.toSeq.sorted
      .filter(v => v > 0 && io.exists(ctl("manifest", v, "tsv", tokens)))
      .flatMap(v => tagOf(v, tokens).map(v -> _)).toMap
  }

  private def parseManifestEntries(txt: String): Map[Int, String] =
    txt.linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
        val Array(b, rel) = line.split("\t", 2)
        b.toInt -> rel
      }.toMap

  private def parseManifestN(txt: String): Option[Int] =
    txt.linesIterator
      .find(_.startsWith("#n=")).map(_.stripPrefix("#n=").trim.toInt)

  private def readManifest(v: Long, tokens: Map[Long, Option[String]]): Map[Int, String] =
    parseManifestEntries(io.readString(ctl("manifest", v, "tsv", tokens)))

  /** Layout bucket count recorded in version `v`'s manifest header
    * (absent for manifests written before layouts were versioned). */
  private def manifestBuckets(v: Long, tokens: Map[Long, Option[String]]): Option[Int] =
    parseManifestN(io.readString(ctl("manifest", v, "tsv", tokens)))

  /** Stored schema in effect at version `v` — the widest schema any commit
    * through `v` declared. Bucket files written by EARLIER (narrower)
    * commits and re-referenced by `v`'s manifest read under it with the
    * missing columns NULL (the all-NULLABLE evolution model of the
    * reference's sink schemas, main.tf:197-215). Pre-evolution replicas
    * have no schema file and fall back to the constructor contract. */
  private def schemaAt(v: Long, tokens: Map[Long, Option[String]]): StructType = {
    val p = ctl("schema", v, "json", tokens)
    if (io.exists(p))
      org.apache.spark.sql.types.DataType.fromJson(io.readString(p))
        .asInstanceOf[StructType]
    else schema
  }

  def schemaAt(v: Long): StructType = headSnapshot() match {
    case Some((_, tokens)) => schemaAt(v, tokens) // ctl raises if v rolled out
    case None => schema
  }

  /** Schema of the replica as of the current pointer. */
  def storedSchema: StructType = storedSchemaOf(headSnapshot())

  /** [[storedSchema]] against an already-taken snapshot (the one-snapshot
    * commit path). */
  private def storedSchemaOf(
      snap: Option[(Long, Map[Long, Option[String]])]): StructType =
    snap.map { case (v, tk) => schemaAt(v, tk) }.getOrElse(schema)

  /** Resolve a manifest data reference: ordinary entries are relative to
    * THIS replica's root; `ext:` entries (written by [[cloneShallow]])
    * carry the absolute path of a bucket file still owned by the clone
    * SOURCE — zero-copy until a commit rewrites that bucket locally. */
  private def dataPath(rel: String): String =
    if (rel.startsWith("ext:")) rel.stripPrefix("ext:") else s"$root/$rel"

  /** The stored replica (tombstones included) as of the current pointer.
    * One snapshot names the version, its schema, AND its manifest, so the
    * three can never mix generations; if a concurrent flip sweeps the
    * snapshot's control files mid-read (the reader lost ≥2 commits in the
    * microseconds between snapshot and readString), re-snapshot and retry
    * against the new head — a HEAD read can always move forward. */
  def read(spark: SparkSession): DataFrame = {
    var lastErr: Throwable = null
    for (_ <- 0 until 5) {
      headSnapshot() match {
        case None =>
          return spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        case Some((v, tokens)) =>
          try {
            val sch = schemaAt(v, tokens)
            val paths = readManifest(v, tokens).values.map(dataPath).toSeq.sorted
            return if (paths.isEmpty)
              spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
            else spark.read.schema(sch).parquet(paths: _*)
          } catch { case e: java.io.IOException => lastErr = e } // lost ≥2 flips: re-snapshot
      }
    }
    throw new IllegalStateException(
      s"replica at $root: head read lost to concurrent commits 5 times in a row", lastErr)
  }

  /** The analyst-facing view: tombstoned keys filtered out. */
  def live(spark: SparkSession): DataFrame =
    read(spark).filter(col(opCol) =!= "DELETE")

  /** Time travel: the stored replica as of version `v`. Retention is
    * bounded — the current and previous manifests are kept (and their bucket
    * dirs protected from GC), so `v` must be one of those two; older
    * versions raise. This is the bounded-staleness read model of
    * transactional table formats, not an unbounded history log. */
  def readAt(spark: SparkSession, v: Long): DataFrame = {
    var lastErr: Throwable = null
    for (_ <- 0 until 5) {
      val snap = headSnapshot()
      val tokens = snap.map(_._2).getOrElse(Map.empty)
      require(tokens.contains(v) &&
        io.exists(ctl("manifest", v, "tsv", tokens)),
        s"version $v of replica at $root is not retained " +
          s"(current=${snap.map(_._1).getOrElse(-1L)}; current+previous kept)")
      try {
        val sch = schemaAt(v, tokens) // the schema in effect when v was committed
        val paths = readManifest(v, tokens).values.map(dataPath).toSeq.sorted
        return if (paths.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
        else spark.read.schema(sch).parquet(paths: _*)
      } catch {
        // a flip swept v's controls between snapshot and read: the re-loop's
        // fresh snapshot either still retains v (transient, retry) or the
        // require above becomes the CORRECT loud not-retained failure
        case e: java.io.IOException => lastErr = e
      }
    }
    throw new IllegalStateException(
      s"replica at $root: readAt($v) lost to concurrent commits 5 times in a row", lastErr)
  }

  /** [[readAt]] with tombstones filtered — the live view as of version `v`. */
  def liveAt(spark: SparkSession, v: Long): DataFrame =
    readAt(spark, v).filter(col(opCol) =!= "DELETE")

  /** Change feed between two retained versions (the CDC-on-the-replica
    * read path: what a downstream consumer must apply to move from
    * `fromV` to `toV`). Emitted per changed key: INSERT (new only),
    * DELETE (old only), UPDATE (position moved); `posCol` carries the new
    * position (old position for DELETEs). One full-outer hash join keyed by
    * pk — both sides share the replica's bucket layout, so at scale this
    * joins bucket-by-bucket with no wide shuffle. */
  def changeFeed(spark: SparkSession, fromV: Long, toV: Long): DataFrame = {
    val o = liveAt(spark, fromV)
      .select(col(pk).as("__old_k"), col(posCol).as("__old_pos"))
    val n = liveAt(spark, toV)
      .select(col(pk).as("__new_k"), col(posCol).as("__new_pos"))
    o.join(n, col("__old_k") === col("__new_k"), "full_outer")
      .filter(col("__old_k").isNull || col("__new_k").isNull ||
        col("__old_pos") =!= col("__new_pos"))
      .select(
        coalesce(col("__new_k"), col("__old_k")).as(pk),
        when(col("__old_k").isNull, "INSERT")
          .when(col("__new_k").isNull, "DELETE")
          .otherwise("UPDATE").as("change"),
        coalesce(col("__new_pos"), col("__old_pos")).as(posCol))
  }

  /** Full compaction (small-file maintenance): rewrite every live bucket
    * into one fresh version, collapsing the file scatter a long commit
    * history accumulates (each bucket's current file lives in whichever
    * version last touched it). Content is unchanged; runs as its own atomic
    * version commit. At scale this is the periodic OPTIMIZE pass — one
    * task per bucket, embarrassingly parallel. */
  def compact(spark: SparkSession): Unit = {
    // one pinned snapshot for manifest, content AND publish: a live commit
    // interleaving this maintenance pass loses nothing — the compaction
    // loses at the write-once pointer (ConcurrentCommit) and retries,
    // instead of publishing its pre-commit content over the racer's rows
    val snap = pinSnapshot()
    val man = snap.map { case (v, tk) => readManifest(v, tk) }.getOrElse(Map.empty)
    if (man.isEmpty) return
    // content is unchanged, so the new version still reflects the same
    // source batch: carry the current tag forward
    publish(man.keys.toSeq.sorted, readAllAt(spark, snap),
      snap.flatMap { case (v, tk) => tagOf(v, tk) }, layoutBuckets,
      snapIn = Some((snap, man)))
  }

  /** Fold one change batch into the replica. Only buckets containing batch
    * keys are re-merged and rewritten; the commit becomes visible with one
    * atomic pointer rename. `tombstoneGcHorizon` (same unit as `tsCol`)
    * lazily drops stored tombstones strictly older than the horizon from the
    * buckets this commit touches — pass the stream's watermark; pass None to
    * retain all tombstones (required while arbitrarily old positions can
    * still arrive). Untouched buckets GC when next written, or via
    * [[compactTombstones]]. Returns the snapshot of the version this commit
    * PUBLISHED (or the snapshot it read, for a no-op empty batch) — a
    * read-commit-read caller uses it to read the state its own commit
    * created, immune to foreign commits landing after it. */
  def commit(batch: DataFrame, tombstoneGcHorizon: Option[Long] = None,
             tag: Option[Long] = None, evolveSchema: Boolean = false,
             precomputedTouched: Option[Seq[Int]] = None,
             snapAt: Option[Snapshot] = None,
             storedIn: Option[DataFrame] = None): Snapshot = {
    val spark = batch.sparkSession
    // ONE control-plane snapshot per commit: pointer, manifest text, and
    // schema are resolved once and threaded through bucket-merge AND
    // publish, instead of the pre-r11 shape (4 independent headSnapshots +
    // 3 manifest reads per commit, counted by StoreIO.Stats). Besides the
    // round trips, a single snapshot closes a consistency seam: the old
    // publish re-snapshotted after the merge plan was built against the
    // earlier snapshot's manifest, so a foreign commit landing in between
    // could have its touched-bucket rows silently dropped from the new
    // manifest; now that racer is caught at the write-once pointer
    // (ConcurrentCommit) like every other conflict. A caller that READ
    // replica state before calling (IncrementalAgg's pre-commit diff)
    // passes the snapshot it read at via `snapAt`, extending the same
    // serialization back over its own read window.
    val snap0 = snapAt.getOrElse(headSnapshot())
    val kv0 = metaKv
    val manTxt = snap0.map { case (v, tk) =>
      io.readString(ctl("manifest", v, "tsv", tk)) }
    val n = effectiveBuckets(manTxt.flatMap(parseManifestN), Some(kv0))
    // Schema-drift tolerance (the reference's sink schemas are all-NULLABLE
    // for the same reason — main.tf:197-215): a batch missing an envelope
    // column lands it as NULL, out-of-contract extra columns are dropped,
    // and drifted-but-castable types coerce. The stored schema is the
    // declared contract — unless `evolveSchema`, in which case a NEW batch
    // column WIDENS the contract instead of dropping: it appends as a
    // nullable field, all previously-stored rows read NULL for it, and the
    // widened schema becomes this version's stored contract (monotone —
    // later narrower batches land the missing column as NULL as usual).
    val target: StructType =
      if (!evolveSchema) storedSchemaOf(snap0)
      else {
        val base = storedSchemaOf(snap0)
        val known = base.fieldNames.toSet
        StructType(base.fields ++ batch.schema.fields
          .filterNot(f => known.contains(f.name))
          .map(f => StructField(f.name, f.dataType, nullable = true)))
      }
    val have = batch.columns.toSet
    // Null primary keys are unmergeable at the storage layer (xxhash64(null)
    // has no bucket): skip them deterministically rather than NPE. The
    // streaming path pre-filters these into the DLQ; direct callers (b8,
    // library use) get the same drop-don't-crash contract here.
    // persisted: a direct commit is two actions (bucket-id probe, version
    // write), plus the CHECK and FK probes when any are declared — the
    // cache stops the later ones from recomputing the caller's upstream
    // (for the streaming paths that is a filter/cast/dedup over the
    // source). A caller that passes `precomputedTouched` (IncrementalAgg)
    // skips the probe.
    // Deliberately NOT a localCheckpoint (the scd2Batch/replaceTouched
    // width treatment): most callers' batches carry no exchange, so
    // persist's frozen width costs nothing here, while a checkpoint adds
    // one Spark job per commit. Two tests pin the action budgets it would
    // break: IncrementalAggSpec (applyBatch ≤ 3) and
    // IncrementalAggSelfHealSpec (a multi-table micro-batch ≤ 3 + 3 per
    // table).
    val batchRows = batch.select(target.fields.toSeq.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*).filter(col(pk).isNotNull).persist()
    try {
      // callers that already probed this batch ([[touchedBuckets]]) hand the
      // ids in and skip the duplicate driver action; the probe here runs on
      // the CAST rows, which touchedBuckets' stored-type cast matches
      val touched: Seq[Int] = precomputedTouched.getOrElse(batchRows
        .select(bucketExpr(n).as("__b")).distinct()
        .collect().map(_.getLong(0).toInt).toSeq.sorted)
      if (touched.isEmpty) return snap0 // empty batch: nothing to commit
      enforceChecks(batchRows, kv0) // reject-the-batch BEFORE any data write
      enforceForeignKeys(spark, batchRows, kv0)

      val man = manTxt.map(parseManifestEntries).getOrElse(Map.empty[Int, String])
      // storedIn: a read-commit-read caller (IncrementalAgg) that already
      // reads the touched buckets at `snapAt` for its own pre-commit diff
      // passes that (persisted) frame in, so the stored rows are SCANNED
      // ONCE per fold instead of once here and once in the caller's diff.
      // Contract: must equal readBuckets at snapAt's manifest with this
      // commit's target schema — callers that evolve schema or read a
      // different snapshot must not pass it.
      val storedRows = storedIn.getOrElse(readBuckets(spark, man, touched, target))
      val merged = graft.Cdc.merge(
        storedRows.unionByName(batchRows), Seq(pk),
        posCol, opCol, keepTombstones = true)
      // GC only tombstones PROVABLY behind the horizon: a null event time
      // (possible via the schema-drift NULL landing above) must be retained,
      // not dropped — dropping it re-opens the key-resurrection hazard the
      // tombstone exists to prevent. The isNotNull conjunct also keeps the
      // predicate two-valued, so `!` never swallows rows via SQL NULL.
      val gcd = tombstoneGcHorizon match {
        case Some(h) => merged.filter(
          !((col("is_deleted") <=> true) && col(tsCol).isNotNull && col(tsCol) < h))
        case None    => merged
      }
      publish(touched, gcd.drop("is_deleted"), tag, n,
        snapIn = Some((snap0, man)))
    } finally { batchRows.unpersist(); () }
  }

  /** Structural + semantic integrity audit — the fsck of the replica: one
    * report row per invariant the store's protocol is supposed to hold,
    * so an operator can verify a table after an incident (partial restore,
    * manual file surgery, suspected bit rot) instead of trusting it.
    * Control-plane checks (pointer, manifest parse, file presence, bucket
    * ids in layout range) run driver-side; the row-level checks (pk
    * uniqueness, bucket placement under the CURRENT layout hash, declared
    * CHECK conformity) fold into ONE distributed scan over the stored
    * buckets — cost = one table read regardless of how many constraints
    * are declared. SQL surface: `SELECT * FROM graft_fsck('ns.t')`. */
  def fsck(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    val reportSchema = StructType(Seq(
      StructField("check", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("observed", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("details", org.apache.spark.sql.types.StringType, nullable = false)))
    val rows = scala.collection.mutable.Buffer[Row]()
    headSnapshot() match {
      case None =>
        rows += Row("pointer", true, "none",
          "no committed version — an empty table is consistent")
      case Some((v, tokens)) =>
        val man = readManifest(v, tokens)
        val n = layoutBuckets
        rows += Row("pointer", true, s"v$v",
          s"${man.size} bucket entries, layout n=$n")
        val badIds = man.keys.filter(b => b < 0 || b >= n).toSeq.sorted
        rows += Row("bucket_ids", badIds.isEmpty, s"${man.size} entries",
          if (badIds.isEmpty) s"all bucket ids in [0, $n)"
          else s"out of layout range: ${badIds.mkString(",")}")
        // a referenced path must exist AND carry data: bucket DIRS whose
        // part files were lost still "exist" but read empty. A listing
        // that THROWS is its own failure class — an integrity audit that
        // defaulted an unreadable bucket to "has data" would mask exactly
        // the I/O faults it exists to surface.
        def stateOf(rel: String): Either[String, Boolean] = {
          val p = new Path(dataPath(rel))
          try Right(io.exists(p) &&
            io.listFiles(p).exists(!_.getName.startsWith("_")))
          catch { case e: java.io.IOException =>
            Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        }
        val states = man.toSeq.sortBy(_._1).map { case (b, rel) =>
          (b, rel, stateOf(rel)) }
        val missing = states.collect { case (_, rel, Right(false)) => rel }
        val unreadable = states.collect { case (_, rel, Left(e)) => (rel, e) }
        rows += Row("files_present", missing.isEmpty && unreadable.isEmpty,
          s"${states.size - missing.size - unreadable.size}/${man.size}",
          if (missing.isEmpty && unreadable.isEmpty)
            "every manifest-referenced file exists and has data"
          else Seq(
            if (missing.nonEmpty)
              Some(s"missing/empty: ${missing.take(3).mkString(", ")}") else None,
            if (unreadable.nonEmpty)
              Some("unreadable: " + unreadable.take(3)
                .map { case (r, e) => s"$r ($e)" }.mkString(", ")) else None
          ).flatten.mkString("; "))
        val present = states.collect { case (b, rel, Right(true)) => (b, rel) }
        if (present.nonEmpty) {
          val sch = schemaAt(v, tokens)
          // footer-only conformity: stored fields must match the declared
          // contract by name+type (a schema-enforced read would coerce and
          // hide drift)
          val footer = spark.read.parquet(present.map(p => dataPath(p._2)): _*).schema
          val declared = sch.fields.map(f => f.name -> f.dataType).toMap
          val drifted = footer.fields
            .filterNot(f => declared.get(f.name).contains(f.dataType))
          rows += Row("schema", drifted.isEmpty,
            s"${footer.fields.length} stored fields",
            if (drifted.isEmpty) "stored fields match the declared contract"
            else s"drifted: ${drifted.map(_.name).take(3).mkString(", ")}")
          // ONE distributed scan for every row-level invariant
          val data = present.map { case (b, rel) =>
            spark.read.schema(sch).parquet(dataPath(rel))
              .withColumn("__expected", lit(b))
          }.reduce(_ unionByName _)
          val checks = checkConstraints.toSeq.sortBy(_._1)
          val aggs = Seq(
            count(lit(1)).as("n"),
            countDistinct(col(pk)).as("nk"),
            sum(when(bucketExpr(n) =!= col("__expected"), 1L).otherwise(0L))
              .as("misplaced")) ++
            checks.map { case (nm, ex) =>
              sum(when(!(col(opCol) <=> "DELETE") &&
                expr(ex).cast(BooleanType) === false, 1L).otherwise(0L))
                .as(s"chk_$nm")
            }
          val r = data.agg(aggs.head, aggs.tail: _*).head()
          val (nRows, nKeys, mis) = (r.getLong(0), r.getLong(1), r.getLong(2))
          rows += Row("pk_unique", nRows == nKeys, s"$nRows rows / $nKeys keys",
            if (nRows == nKeys) s"one stored row per $pk (tombstones included)"
            else s"${nRows - nKeys} duplicate-key rows — latest-wins invariant broken")
          rows += Row("bucket_placement", mis == 0, s"$mis misplaced",
            s"pmod(xxhash64($pk), $n) must match the manifest bucket per row")
          checks.zipWithIndex.foreach { case ((nm, ex), i) =>
            val bad = r.getLong(3 + i)
            rows += Row(s"check_$nm", bad == 0, s"$bad violating", ex)
          }
          // FK conformity: one anti-join per declared FK over live rows
          fkConstraints.toSeq.sortBy(_._1).foreach { case (nm, (c, pr)) =>
            val parent = BucketedReplica.open(pr)
            val orphans = live(spark).filter(col(c).isNotNull)
              .join(parent.live(spark).select(col(parent.pk).as(c)),
                Seq(c), "left_anti").count()
            rows += Row(s"fk_$nm", orphans == 0, s"$orphans orphans",
              s"$c → $pr")
          }
        }
    }
    // control-file strays: names in the _PTR-/manifest- namespaces the
    // protocol did not write (manual copies/renames — post-incident
    // surgery). Normal reads SKIP them (stray-tolerant name parse, so a
    // backup beside the store never wedges readers); the audit is where
    // they must surface. ok=false when a stray _PTR's digits exceed the
    // committed head: that is evidence the canonical pointer of a NEWER
    // version was renamed away — a silently rolled-back head, the one
    // stray state reads alone cannot distinguish from a fresh store.
    val head = currentVersion.getOrElse(-1L)
    val strays = io.listFiles(io.root).map(_.getName).filter { nm =>
      (nm.startsWith("_PTR-") &&
        nm.stripPrefix("_PTR-").toLongOption.isEmpty) ||
      (nm.startsWith("manifest-") &&
        !nm.matches("manifest-\\d+(-[^.]+)?\\.tsv"))
    }
    val rolledBack = strays.filter(nm =>
      nm.stripPrefix("_PTR-").takeWhile(_.isDigit).toLongOption.exists(_ > head))
    rows += Row("control_strays", rolledBack.isEmpty, s"${strays.size}",
      if (strays.isEmpty) "none"
      else if (rolledBack.isEmpty)
        "names outside the protocol's (manual copies); readers skip " +
          s"them — operator's to remove: ${strays.sorted.mkString(",")}"
      else s"stray pointer names ABOVE the committed head v$head — a " +
        "newer version's canonical pointer may have been renamed away " +
        s"(rolled-back head): ${rolledBack.sorted.mkString(",")}")
    spark.createDataFrame(
      java.util.Arrays.asList(rows.toSeq: _*), reportSchema)
  }

  /** Change the bucket count — the maintenance op a long-lived replica
    * eventually needs (the day-one n is wrong once the table grows 100×:
    * buckets become multi-GB rewrite units). Rewrites EVERY live bucket
    * into a fresh version laid out with `newBuckets` and replaces the
    * manifest wholesale; the new layout n rides the manifest header, so it
    * becomes visible atomically WITH the pointer flip — a crash mid-rebucket
    * leaves the old pointer, old manifest, old n, fully consistent.
    * Content, tag, retention and time travel are untouched: the previous
    * (old-layout) version stays readable/readAt-able under the same
    * cur+prev window, because reads never derive bucket placement. */
  def rebucket(spark: SparkSession, newBuckets: Int): Unit = {
    require(newBuckets > 0, s"rebucket: need a positive bucket count, got $newBuckets")
    // one pinned snapshot for content and publish (the compact discipline):
    // a commit interleaving the rewrite defeats the rebucket at the
    // pointer rather than having its rows dropped from the new layout
    val snap = pinSnapshot()
    if (snap.isEmpty) return // nothing stored: layout not yet pinned
    val man = snap.map { case (v, tk) => readManifest(v, tk) }.getOrElse(Map.empty)
    publish(man.keys.toSeq.sorted, readAllAt(spark, snap),
      snap.flatMap { case (v, tk) => tagOf(v, tk) },
      newBuckets, replaceAll = true, snapIn = Some((snap, man)))
    // refresh the creation-meta fallback so pre-header readers and error
    // messages cite the live layout; placement truth is the manifest header,
    // so a crash before this line costs nothing
    io.overwriteSafe(io.path("_META"), s"nBuckets=$newBuckets\npk=$pk\n" +
      firstTag.map(t => s"firstTag=$t\n").getOrElse(""))
  }

  /** DDL schema widening with ZERO data I/O (`ALTER TABLE … ADD COLUMN`,
    * graft.plans.GraftCatalog.alterTable): appends nullable fields to the
    * stored contract by publishing a new version whose manifest re-points
    * at the CURRENT version's bucket files untouched and whose schema file
    * carries the widened struct. Previously-stored rows read NULL for the
    * new columns (the parquet reader null-fills a declared-but-absent
    * field — the same mechanism [[commit]]'s `evolveSchema` relies on);
    * the next commit writes them physically. This is the only sound ALTER
    * on a replica: drops/renames/type changes would orphan stored rows,
    * and the evolution stays MONOTONE, so every retained version still
    * reads under exactly the schema it committed with (`schemaAt`).
    * Pre-first-commit tables have no version to flip — the declared
    * `_SCHEMA.json` contract rewrites in place instead. */
  /** Zero-copy SHALLOW CLONE of the current version into a fresh replica
    * root — the table-clone operation of the reference's warehouse
    * (BigQuery table clones; Delta/Snowflake shallow clone): the clone is
    * a full independent replica from its first read, but its manifest
    * references the SOURCE's bucket files (`ext:` absolute entries), so
    * creation moves zero data bytes. Commits to either side never affect
    * the other; a clone commit rewrites only its touched buckets LOCALLY,
    * so the clone materializes copy-on-write.
    *
    * Where Delta documents "vacuum on the source breaks shallow clones",
    * this clone is GC-SAFE by protocol: creation registers the clone root
    * in the source's `_META`, and every source GC pass unions the bucket
    * files referenced by registered clones' retained manifests into its
    * keep set. [[detachClone]] (after the clone is destroyed or fully
    * materialized — see [[externalRefs]]) lifts the protection.
    *
    * A clone whose own manifest still holds `ext:` references refuses to
    * be shallow-cloned again: a grandchild would reference the ORIGINAL
    * root's files while registering only with the middle clone, and the
    * original could not see it. Materialize first ([[compact]] rewrites
    * every bucket locally). */
  def cloneShallow(destRoot: String): BucketedReplica = {
    val (curV, tokens) = headSnapshot().getOrElse(throw new IllegalStateException(
      s"replica at $root has no committed version to clone"))
    val man = readManifest(curV, tokens)
    require(man.values.forall(!_.startsWith("ext:")),
      s"replica at $root still references external files (itself a fresh " +
        "shallow clone) — materialize it (compact) before cloning again")
    val dio = new StoreIO(destRoot, StoreIO.sessionConf())
    // retryable creation: a clone is VISIBLE only once `_PTR-1` lands
    // (write-once, last step). A crashed earlier attempt leaves
    // _META + manifest-1 with no pointer — never readable, safe to
    // overwrite on retry. Anything with ANY pointer (a live replica may
    // have advanced past v1) refuses, and _META WITHOUT a clone manifest
    // is a provisioned (CREATE TABLE) empty table — refuses too.
    val destRootPath = dio.path(".")
    require(!dio.exists(destRootPath) ||
      !dio.listFiles(destRootPath).exists(_.getName.startsWith("_PTR-")),
      s"clone target $destRoot already holds a replica")
    require(!dio.existsSafe(dio.path("_META")) ||
      dio.exists(dio.path("manifest-1.tsv")),
      s"clone target $destRoot is a provisioned empty table — " +
        "drop it first or clone to a fresh name")
    val n = layoutBuckets
    dio.overwriteSafe(dio.path("_META"), s"nBuckets=$n\npk=$pk\n" +
      firstTag.map(t => s"firstTag=$t\n").getOrElse(""))
    dio.writeString(dio.path("manifest-1.tsv"),
      s"#n=$n\n" + man.toSeq.sortBy(_._1)
        .map { case (b, rel) => s"$b\text:$root/$rel" }
        .mkString("", "\n", "\n"))
    dio.writeString(dio.path("schema-1.json"), schemaAt(curV, tokens).json)
    tagOf(curV, tokens).foreach(t => dio.writeString(dio.path("tag-1.tsv"), s"$t\n"))
    dio.writeString(dio.path("time-1.tsv"), s"${System.currentTimeMillis()}\n")
    // register BEFORE the clone's pointer lands: from the instant the
    // clone is readable, source GC must already be protecting its refs
    registerClone(destRoot)
    dio.createExclusive(dio.path("_PTR-1"), "1")
    new BucketedReplica(destRoot, pk, n, schemaAt(curV, tokens), posCol, opCol, tsCol)
  }

  /** Clone roots registered for GC protection on this source. */
  def registeredClones: Seq[String] =
    metaKv.toSeq.filter(_._1.startsWith("clone."))
      .sortBy(_._1).map(_._2)

  /** Count of `ext:` (source-owned) bucket references still in this
    * replica's current manifest — 0 means the clone has fully
    * materialized and may be detached from its source. */
  def externalRefs: Int = headSnapshot()
    .map { case (v, tk) => readManifest(v, tk) }.getOrElse(Map.empty)
    .values.count(_.startsWith("ext:"))

  /** Lift GC protection for a clone (operator action, after the clone is
    * destroyed or [[externalRefs]] reached 0). */
  def detachClone(destRoot: String): Unit = {
    val kept = metaKv.toSeq
      .filterNot { case (k, v) => k.startsWith("clone.") && v == destRoot }
    io.overwriteSafe(io.path("_META"),
      kept.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))
  }

  private def registerClone(destRoot: String): Unit = {
    val kv = metaKv
    if (kv.exists { case (k, v) => k.startsWith("clone.") && v == destRoot })
      return // crashed-attempt retry: already registered
    val next = kv.keys.filter(_.startsWith("clone."))
      .map(_.stripPrefix("clone.").toInt).foldLeft(0)(_ max _) + 1
    io.overwriteSafe(io.path("_META"),
      (kv.toSeq :+ (s"clone.$next" -> destRoot)).sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))
  }

  /** Local bucket rels referenced by registered clones' RETAINED manifests
    * — unioned into every GC keep set, which is what makes shallow clones
    * safe against source GC (control-plane reads only: a few KB per clone
    * per commit). A registered clone root that no longer exists (destroyed
    * without detach) simply contributes nothing. */
  private def cloneProtectedRels: Set[String] = {
    val prefix = s"ext:$root/"
    registeredClones.flatMap { croot =>
      val cio = new StoreIO(croot, StoreIO.sessionConf())
      val rootPath = cio.path(".")
      if (!cio.exists(rootPath)) Seq.empty[String]
      else cio.listFiles(rootPath)
        // both naming generations, and defensively ALL attempts (an extra
        // keep is safe; a missed reference is data loss)
        .filter(_.getName.matches("manifest-\\d+(-[0-9a-f]{8})?\\.tsv"))
        .flatMap(p => cio.readString(p).linesIterator
          .filter(l => l.nonEmpty && !l.startsWith("#"))
          .map(_.split("\t", 2)(1))
          .filter(_.startsWith(prefix))
          .map(_.stripPrefix(prefix)).toSeq)
    }.toSet
  }

  def widenSchema(newFields: Seq[StructField]): Unit = {
    require(newFields.nonEmpty, "widenSchema: no columns to add")
    val base = storedSchema
    val known = base.fieldNames.toSet
    newFields.foreach(f => require(!known.contains(f.name),
      s"column ${f.name} already exists on the replica at $root"))
    val widened = StructType(base.fields ++
      newFields.map(f => StructField(f.name, f.dataType, nullable = true)))
    headSnapshot() match {
      case None =>
        // pre-first-commit: the contract lives in the creation-time schema
        // file (the _META-declared attempt file for catalog tables, bare
        // _SCHEMA.json otherwise). overwriteSafe, not writeString: a crash
        // mid-rewrite must leave the old complete contract readable, never
        // a torn JSON that wedges every subsequent open()
        io.overwriteSafe(
          io.path(metaKv.getOrElse("schema", "_SCHEMA.json")),
          widened.json + "\n")
      case Some((curV, tokens)) =>
        val newV = curV + 1
        val man = readManifest(curV, tokens)
        // same attempt-suffixed write-once discipline as publish: a DDL
        // racing a live commit serializes at the pointer, clobbering nothing
        val attempt = java.util.UUID.randomUUID().toString.take(8)
        val prevToken = tokens.getOrElse(curV, None)
        defeatAware(newV) {
          io.writeString(io.path(s"manifest-$newV-$attempt.tsv"),
            s"#n=$layoutBuckets\n" +
              man.toSeq.sortBy(_._1).map { case (b, rel) => s"$b\t$rel" }
                .mkString("", "\n", "\n"))
          io.writeString(io.path(s"schema-$newV-$attempt.json"), widened.json)
          tagOf(curV, tokens).foreach(t =>
            io.writeString(io.path(s"tag-$newV-$attempt.tsv"), s"$t\n"))
          io.writeString(io.path(s"time-$newV-$attempt.tsv"),
            s"${System.currentTimeMillis()}\n")
        }
        commitPointer(newV, attempt, prevToken)
        // same cur+prev metadata retention as publish (pins honored); no
        // data GC — every bucket file stays referenced by both manifests.
        // Best-effort post-pointer, same invariant as publish.
        try sweepControlFiles(livePins() ++
          Map(newV -> Some(attempt), curV -> prevToken))
        catch { case StoreIO.Faults.BestEffort() => () }
    }
  }

  /** [[commit]] for a caller that ALREADY holds the merged full content of
    * the touched buckets (the streaming SCD2 path: its historization
    * window computes latest-wins as a by-product, so re-merging inside
    * commit would run the union+window a second time).
    *
    * `snapAt` MUST be the snapshot the open rows were READ against
    * ([[pinSnapshot]] → [[readBucketsAt]]): publish derives the next
    * version from it, so a foreign commit landing between the read and
    * this publish loses at the write-once pointer (ConcurrentCommit) like
    * every other conflict — if this method took its own fresh snapshot
    * instead, the stale pre-merged rows would publish on TOP of the
    * foreign commit and silently drop its rows from the touched buckets.
    *
    * Constraints are enforced on `delta` — the INCOMING batch — matching
    * [[commit]]'s contract. Validating the merged content would re-judge
    * STORED rows (a row orphaned by a later parent delete, or predating an
    * added CHECK) and permanently wedge the stream on a bucket no current
    * batch is at fault for. `rows` must carry every key co-resident in
    * `touched` (tombstones included). */
  /** `beforePointer` (r17): a barrier invoked AFTER this commit's data and
    * control files land but BEFORE the write-once pointer flips — the hook
    * that lets a caller overlap an independent sibling write (scd2Batch's
    * history append) with this commit's bucket-file job while preserving
    * the crash seam: the pointer publishing PROVES the sibling write
    * completed, because a barrier throw aborts the commit pre-pointer and
    * the orphaned attempt dir/control files are swept like any crashed
    * attempt's. Without the gate, a concurrent history-append failure
    * after the pointer flip would lose closed intervals forever (the
    * retry re-reads POST-fold open rows and can never regenerate them). */
  private[graft] def commitMerged(rows: DataFrame, touched: Seq[Int],
                                  snapAt: Snapshot, delta: DataFrame,
                                  beforePointer: () => Unit = () => ()): Unit = {
    if (touched.isEmpty) { beforePointer(); return }
    val spark = rows.sparkSession
    val kv0 = metaKv
    val manTxt = snapAt.map { case (v, tk) =>
      io.readString(ctl("manifest", v, "tsv", tk)) }
    val n = effectiveBuckets(manTxt.flatMap(parseManifestN), Some(kv0))
    enforceChecks(delta, kv0)
    enforceForeignKeys(spark, delta, kv0)
    publish(touched, rows, None, n,
      snapIn = Some((snapAt,
        manTxt.map(parseManifestEntries).getOrElse(Map.empty[Int, String]))),
      beforePointer = beforePointer)
  }

  /** SQL-MERGE/DML write path (graft.plans.GraftMergeInto, DELETE/UPDATE):
    * `rows` is the FULL new content of every bucket it covers (the caller
    * carried co-resident rows and applied the merge semantics); replace
    * exactly those buckets — the same bounded atomic version commit as
    * [[commit]] without the latest-wins fold.
    *
    * `snapAt` MUST be the snapshot the co-resident rows were READ against
    * ([[pinSnapshot]] → [[readBucketsAt]]/[[readAllAt]]): publish derives
    * the next version from it, so a foreign commit interleaving the
    * caller's read and this replace loses loudly at the write-once pointer
    * (ConcurrentCommit) instead of having its rows silently replaced by
    * the caller's stale pre-merge view — the [[commitMerged]] discipline,
    * applied to the SQL surface. */
  private[graft] def replaceTouched(rows: DataFrame, snapAt: Snapshot): Unit = {
    val n = layoutBuckets
    // lazy localCheckpoint, not persist — same width rationale as
    // [[commit]]'s batchRows: the DML callers' rows end in merge/window
    // exchanges, and a persist()ed exchange pins the full session width
    val r = rows.filter(col(pk).isNotNull).localCheckpoint(eager = false)
    try {
      val touched = r.select(bucketExpr(n).as("__b")).distinct()
        .collect().map(_.getLong(0).toInt).toSeq.sorted
      if (touched.nonEmpty)
        publish(touched, r, snapAt.flatMap { case (v, tk) => tagOf(v, tk) }, n,
          snapIn = Some((snapAt,
            snapAt.map { case (v, tk) => readManifest(v, tk) }
              .getOrElse(Map.empty[Int, String]))))
    } finally { r.unpersist(); () }
  }

  /** Full stored content at an already-pinned snapshot — the DML-side
    * read for forms that need the whole table (MERGE's NOT MATCHED BY
    * SOURCE), paired with [[replaceTouched]]'s conflict discipline. */
  private[graft] def readAllAt(spark: SparkSession, snap: Snapshot): DataFrame =
    snap match {
      case None => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      case Some((v, tokens)) =>
        val sch = schemaAt(v, tokens)
        val paths = readManifest(v, tokens).values.map(dataPath).toSeq.sorted
        if (paths.isEmpty) spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
        else spark.read.schema(sch).parquet(paths: _*)
    }

  /** Bucket ids the batch's keys hash into under the current layout — ONE
    * driver action (a distinct over ≤ nBuckets longs). Merge-style consumers
    * that read around a commit ([[graft.streaming.IncrementalAgg]],
    * [[CdcStream.scd2Batch]]) call this once per micro-batch and pass the
    * result to [[readBucketsOf]] and [[commit]], instead of each step
    * re-running the identical probe — per-batch driver actions are the
    * streaming path's scalability tax at high trigger rates. The pk is cast
    * to its STORED type first so the hash agrees with what [[commit]]'s
    * schema-coercion writes (an uncast probe over a drifted batch would
    * bucket by the wrong hash). */
  def touchedBuckets(batch: DataFrame): Seq[Int] = {
    val pkType = storedSchema(pk).dataType
    batch.filter(col(pk).isNotNull)
      .select(pmod(xxhash64(col(pk).cast(pkType)), lit(layoutBuckets.toLong)).as("__b"))
      .distinct()
      .collect().map(_.getLong(0).toInt).toSeq.sorted
  }

  /** Stored rows of exactly `buckets` (ids from [[touchedBuckets]]) as of
    * the current pointer — the probe-free half of [[readTouched]]. */
  def readBucketsOf(spark: SparkSession, buckets: Seq[Int]): DataFrame =
    readBucketsAt(spark, buckets, pinSnapshot())

  /** The control-plane snapshot a read-merge-commit caller pins ONCE and
    * threads through [[readBucketsAt]] and [[commitMerged]], so its commit
    * serializes against the version it actually read. Opaque outside the
    * replica. */
  private[graft] type Snapshot = Option[(Long, Map[Long, Option[String]])]
  private[graft] def pinSnapshot(): Snapshot = headSnapshot()

  /** [[readBucketsOf]] against an already-pinned snapshot — manifest and
    * schema both resolve at `snap`'s version. */
  private[graft] def readBucketsAt(spark: SparkSession, buckets: Seq[Int],
                                   snap: Snapshot): DataFrame =
    readBuckets(spark,
      snap.map { case (v, tk) => readManifest(v, tk) }.getOrElse(Map.empty),
      buckets,
      snap.map { case (v, tk) => schemaAt(v, tk) }.getOrElse(schema))

  /** The stored rows sharing a bucket with any key in `batch` — the bounded
    * read for merge-style consumers (same touched-bucket arithmetic as
    * [[commit]]): I/O is O(touched buckets), never O(replica). Rows of
    * OTHER keys co-resident in a touched bucket are included; callers'
    * keyed windows/joins ignore them naturally. */
  def readTouched(batch: DataFrame): DataFrame =
    readBucketsOf(batch.sparkSession, touchedBuckets(batch))

  /** Maintenance pass (the VACUUM analog of transactional table formats):
    * rewrite exactly the buckets still holding tombstones older than
    * `horizon`, dropping those tombstones. Safe once the stream's watermark
    * has passed the horizon — no earlier position can arrive to lose against
    * them. Runs as its own atomic version commit. */
  def compactTombstones(spark: SparkSession, horizon: Long): Unit = {
    // one pinned snapshot for the probe, the bucket read AND the publish
    // (the compact discipline): an interleaved commit defeats this pass at
    // the pointer instead of losing its rows to the pre-commit rewrite
    val snap = pinSnapshot()
    val man = snap.map { case (v, tk) => readManifest(v, tk) }.getOrElse(Map.empty)
    if (man.isEmpty) return
    // <=> and isNotNull keep this two-valued: a null-op or null-ts row is
    // never "provably old", so filter(!isOldTombstone) retains it instead of
    // dropping it through three-valued NULL.
    val isOldTombstone =
      (col(opCol) <=> "DELETE") && col(tsCol).isNotNull && col(tsCol) < horizon
    val n = layoutBuckets
    val touched = readAllAt(spark, snap).filter(isOldTombstone)
      .select(bucketExpr(n).as("__b")).distinct()
      .collect().map(_.getLong(0).toInt).toSeq.sorted
    if (touched.isEmpty) return
    // tombstone GC does not change which source batches are reflected
    publish(touched,
      readBuckets(spark, man, touched, storedSchemaOf(snap)).filter(!isOldTombstone),
      snap.flatMap { case (v, tk) => tagOf(v, tk) }, n,
      snapIn = Some((snap, man)))
  }

  private def readBuckets(spark: SparkSession, man: Map[Int, String],
                          buckets: Seq[Int], sch: StructType): DataFrame = {
    val paths = buckets.flatMap(man.get).map(dataPath)
    if (paths.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
    else spark.read.schema(sch).parquet(paths: _*)
  }

  /** Write `rows` (covering exactly `touched` buckets under layout
    * `layoutN`) as the next version, re-point the manifest, and flip the
    * pointer atomically. `replaceAll` drops every prior manifest entry
    * instead of carrying untouched buckets forward ([[rebucket]] — the old
    * entries' bucket ids are meaningless under the new layout). The rows'
    * schema is recorded as the version's stored contract. */
  /** Returns the snapshot of the version it published (version + control
    * tokens, same shape as [[pinSnapshot]]), so a read-commit-read caller
    * (IncrementalAgg's after-read) can read AT the state this commit
    * created instead of the current head — a foreign commit landing
    * between this publish and the caller's next read would otherwise be
    * silently folded into the caller's delta (the symmetric post-commit
    * twin of the pre-commit seam `snapAt` closes). */
  private def publish(touched: Seq[Int], rows: DataFrame, tag: Option[Long],
                      layoutN: Int, replaceAll: Boolean = false,
                      snapIn: Option[(Option[(Long, Map[Long, Option[String]])],
                        Map[Int, String])] = None,
                      beforePointer: () => Unit = () => ()): Snapshot = {
    writeMetaIfAbsent(layoutN, tag)
    val outSchema = rows.schema
    // snapIn = the caller's already-taken snapshot + parsed manifest (the
    // one-snapshot commit path); absent for direct callers (replaceTouched,
    // compact) that did no prior control reads of their own
    val (snap, man) = snapIn.getOrElse {
      val s = headSnapshot()
      (s, s.map { case (v, tk) => readManifest(v, tk) }
        .getOrElse(Map.empty[Int, String]))
    }
    val curV = snap.map(_._1)
    val newV = curV.getOrElse(0L) + 1
    // ATTEMPT-UNIQUE data dir (multi-writer hardening, proven by
    // CrossJvmCommitSpec): two independent drivers racing the same next
    // version each write their own `v<N>-<attempt>` directory, so the
    // loser's minutes-long data job can never overwrite files the
    // winner's committed manifest references — the old shared `v<N>` dir
    // left exactly that window open between the winner's pointer flip and
    // the loser's create-exclusive failure. A crashed or defeated
    // attempt's dir is referenced by no manifest and is swept by
    // gcUnreferenced at the next successful commit.
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val versionDir = s"$root/data/v$newV-$attempt"
    // hash-partitioned ON the bucket column, so every bucket lands in
    // exactly one task → exactly one right-sized file per bucket dir, at
    // any task count. A task writes several buckets: capping the width at
    // the cluster's parallelism instead of one task per touched bucket
    // cuts a small batch's write stage (~30 near-empty tasks, each paying
    // its own deserialization) to one wave.
    rows.withColumn("bucket", bucketExpr(layoutN))
      .repartition(if (replaceAll) layoutN
                   else math.min(touched.size,
                     rows.sparkSession.sparkContext.defaultParallelism).max(1),
        col("bucket"))
      .sortWithinPartitions(col("bucket"), col(pk))
      .write.mode("overwrite").partitionBy("bucket").parquet(versionDir)

    // buckets whose rewrite produced zero rows (fully GC'd) write no dir and
    // leave the manifest; everything else re-points at the new version
    val written = io.listDirs(new Path(versionDir))
      .filter(_.getName.startsWith("bucket="))
      .map(p => p.getName.stripPrefix("bucket=").toInt ->
        s"data/v$newV-$attempt/${p.getName}")
      .toMap
    val newMan = if (replaceAll) written else (man -- touched) ++ written

    // fast-fail (not a guard the protocol relies on): another driver
    // already committed this version while our data job ran — we'd lose at
    // the pointer anyway, so skip the control-file writes entirely.
    if (io.exists(io.path(s"_PTR-$newV")))
      throw new StoreIO.ConcurrentCommit(
        s"version $newV was committed by another writer during this " +
          "commit's data write — re-read and retry")

    // the control files are ATTEMPT-SUFFIXED write-once, like the data dir:
    // a concurrent committer racing this version writes its OWN files, and
    // only the pointer's content decides whose become version newV's. No
    // overwrite of version-named state ever happens, so there is no window
    // (however small) where a defeated writer clobbers the winner's
    // manifest/schema after the winner's pointer flip (the r8 advisor's
    // check-then-act hole in the old plain-named writes).
    val prevToken: Option[String] = snap.flatMap { case (v, tk) => tk.getOrElse(v, None) }
    defeatAware(newV) {
      io.writeString(io.path(s"manifest-$newV-$attempt.tsv"),
        s"#n=$layoutN\n" +
          newMan.toSeq.sortBy(_._1).map { case (b, rel) => s"$b\t$rel" }
            .mkString("", "\n", "\n"))
      io.writeString(io.path(s"schema-$newV-$attempt.json"), outSchema.json)
      // tag + commit time before pointer: once the version is visible its
      // metadata is readable (commit time feeds TIMESTAMP AS OF)
      tag.foreach(t => io.writeString(io.path(s"tag-$newV-$attempt.tsv"), s"$t\n"))
      io.writeString(io.path(s"time-$newV-$attempt.tsv"),
        s"${System.currentTimeMillis()}\n")
    }
    // caller's pre-pointer barrier (see commitMerged): a throw here aborts
    // the commit with the pointer untouched — this attempt's data dir and
    // control files become defeated-attempt orphans, swept by the next
    // successful publish
    beforePointer()
    commitPointer(newV, attempt, prevToken)
    // everything after the pointer flip is BEST-EFFORT housekeeping — the
    // same no-pointer-on-throw invariant as the view store's write()
    // (IncrementalAgg): every retrying caller (the view fold, the stream's
    // foreachBatch, the stress harness) treats "commit threw" as "the
    // version did NOT land" and re-commits — for a read-diff-fold caller
    // the idempotent re-commit diffs to ZERO, so a post-pointer throw
    // would silently lose that batch's view delta forever. GC faults are
    // swallowed: stale pointers/control files are harmless (readers
    // resolve the max; retention keeps refs) and orphan dirs are re-swept
    // by the next successful publish. BestEffort (NonFatal minus
    // InjectedCrash) — an injected crash still models process death for
    // the crash sweeps.
    try {
      beforeDataGc()
      val (pins, pinnedRels) = pinProtection()
      gcUnreferenced(keep = newMan.values.toSet ++ man.values.toSet
        ++ cloneProtectedRels ++ pinnedRels, ceiling = newV)
      // keep cur+prev control files (the winning attempts only) plus any
      // pinned versions'; sweep everything older plus any defeated/crashed
      // attempt's leftovers
      sweepControlFiles(pins ++ Map(newV -> Some(attempt)) ++
        curV.map(v => v -> prevToken))
    } catch { case StoreIO.Faults.BestEffort() => () }
    // the snapshot this commit created — exactly what parsePointer would
    // reconstruct from the _PTR-<newV> content written above
    Some((newV, Map[Long, Option[String]](newV -> Some(attempt)) ++
      curV.map(v => v -> prevToken)))
  }

  /** Durable GC pin for a read-commit-read consumer's fold window
    * (IncrementalAgg's before/after diff): while the returned `_PIN` file
    * exists, EVERY publisher keeps the pinned version's bucket files
    * ([[gcUnreferenced]]) and its manifest/schema control files
    * ([[sweepControlFiles]]) — so the consumer's pinned-snapshot scans stay
    * readable no matter how many foreign commits land mid-fold, instead of
    * relying on the cur+prev retention that a single foreign commit can
    * roll past. Control-plane only (one small file create + delete per
    * fold); the caller MUST [[unpin]] in a finally. A crashed consumer's
    * stale pin expires after [[BucketedReplica.PinTtlMs]] (swept by the
    * next publish), bounding the leak to one version's files for the TTL.
    *
    * The pin is race-free by the commit protocol, not by file-create
    * timing: it only needs to be visible to GCs that run AFTER the
    * consumer's own commit publishes, and the consumer's commit succeeding
    * proves no foreign publish (hence no foreign GC listing) happened
    * between the pin's creation and that publish. */
  private[graft] def pinFiles(snap: Snapshot): Option[Path] = snap.map {
    case (v, tk) =>
      val p = io.path(
        s"_PIN-$v-${java.util.UUID.randomUUID().toString.take(8)}")
      io.writeString(p,
        s"v=$v\ntoken=${tk.getOrElse(v, None).getOrElse("-")}\n" +
          s"created=${System.currentTimeMillis()}\n")
      p
  }

  private[graft] def unpin(pin: Option[Path]): Unit = pin.foreach(io.delete)

  /** Control tokens for every version whose control files are still
    * REACHABLE: the current pointer's cur+prev, plus every live `_PIN` —
    * a crashed consumer's pins keep its fold-window versions' manifest/
    * schema/tag files and bucket dirs readable until the TTL expires.
    * This is the recovery index behind [[IncrementalAgg]]'s crash-gap
    * self-heal: the crashed fold's own surviving pins are exactly the
    * lease that keeps its lost delta reconstructible. */
  private[graft] def reachableVersions(): Map[Long, Option[String]] =
    livePins() ++ headSnapshot().map(_._2).getOrElse(Map.empty)

  /** Tag of `v` resolved through a reachable token (None if untagged or
    * the file is already gone — reachability is best-effort by design;
    * callers fail loudly on an unreconstructible gap). */
  private[graft] def tagAtReachable(v: Long, tok: Option[String]): Option[Long] =
    try tagOf(v, Map(v -> tok)) catch { case _: java.io.IOException => None }

  /** Manifest of `v` through a reachable token (None if gone). */
  private[graft] def manifestAtReachable(
      v: Long, tok: Option[String]): Option[Map[Int, String]] =
    try Some(readManifest(v, Map(v -> tok)))
    catch { case _: java.io.IOException => None }

  private val pinRe = "_PIN-(\\d+)-[0-9a-f]{8}".r

  /** Live pins as version → control token, deleting expired ones. A pin
    * file that vanishes between list and read (its consumer just
    * unpinned) contributes nothing — exactly the no-protection-needed
    * case. */
  private def livePins(): Map[Long, Option[String]] = {
    val now = System.currentTimeMillis()
    io.listFiles(io.root).flatMap { p =>
      p.getName match {
        case pinRe(_) =>
          val kv = try io.readString(p).linesIterator.filter(_.contains("="))
            .map { l => val Array(k, s) = l.split("=", 2); k -> s.trim }.toMap
          catch { case _: java.io.IOException => Map.empty[String, String] }
          val created = kv.get("created").map(_.toLong).getOrElse(0L)
          if (kv.isEmpty) None
          else if (now - created > BucketedReplica.PinTtlMs) {
            io.delete(p); None
          } else Some(kv("v").toLong -> kv.get("token").filter(_ != "-"))
        case _ => None
      }
    }.toMap
  }

  /** LOCAL bucket rels the live pins protect: each pinned version's
    * manifest entries (ext: rels belong to a clone's source root, which
    * protects them via its own clone registration). A pin whose manifest
    * is already unresolvable (pinned after its version rolled out)
    * protects nothing — its consumer's scans fail loudly, never silently
    * wrong. */
  private def pinProtection(): (Map[Long, Option[String]], Set[String]) = {
    val pins = livePins()
    val rels = pins.flatMap { case (v, tok) =>
      try readManifest(v, Map(v -> tok)).values.filterNot(_.startsWith("ext:"))
      catch { case _: java.io.IOException => Nil }
    }.toSet
    (pins, rels)
  }

  /** Control-file retention: keep exactly the winning attempt's files for
    * the versions in `winning` (None = the version's files are legacy
    * unsuffixed), delete every other manifest/schema/tag/time file —
    * older versions past the cur+prev window, and defeated or crashed
    * attempts at any version. Write-once naming makes this safe against a
    * still-running loser: its files are referenced by no pointer. */
  private val ctlFileRe =
    "(manifest|schema|tag|time)-(\\d+)(-[0-9a-f]{8})?\\.(tsv|json)".r

  private def sweepControlFiles(winning: Map[Long, Option[String]]): Unit = {
    // the sweep runs AFTER the pointer flip (and after slow data GC), when
    // a concurrent committer may already have written — or even
    // pointer-committed — the NEXT version's control files; they are
    // absent from `winning`, so an unbounded sweep would delete a
    // committed version's manifest (store unreadable). Only versions at or
    // below the version this commit published are this sweep's to judge.
    val ceiling = winning.keys.max
    io.listFiles(io.root).foreach { p =>
      p.getName match {
        case ctlFileRe(_, vS, suffix, _) if vS.toLong <= ceiling =>
          val keep = winning.get(vS.toLong).exists { tok =>
            Option(suffix).map(_.stripPrefix("-")) == tok
          }
          if (!keep) io.delete(p)
        case _ => ()
      }
    }
  }

  /** Run a defeated-committer-sensitive block: once the winner's pointer
    * for `v` is up, its sweep may delete THIS attempt's control files —
    * legitimately, even mid-create (an in-flight local-FS create whose
    * file is deleted between create and chmod surfaces as a raw
    * IOException). Translate that into the clean [[StoreIO.ConcurrentCommit]]
    * the optimistic-retry discipline expects; an IOException with no
    * winning pointer is a real fault and propagates. */
  private def defeatAware[A](v: Long)(body: => A): A =
    try body
    catch {
      // any pointer AT OR PAST v proves defeat: fast metadata-only commits
      // can land v and v+1 inside this writer's window, and v+1's commit
      // GC's the `_PTR-v` file itself
      case e: java.io.IOException if pointerVersions.exists(_ >= v) =>
        throw new StoreIO.ConcurrentCommit(
          s"version $v was committed by another writer while this commit " +
            s"was writing control files — re-read and retry ($e)")
    }

  /** Test seam for deterministic race interleavings: invoked after a
    * version's data+manifest are fully written, immediately before the
    * pointer flip — the window a concurrent committer can win. No-op in
    * production. */
  private[graft] var beforePointerCommit: () => Unit = () => ()

  /** Test seam: invoked after the pointer flip, before the data GC — the
    * window a FUTURE-version writer (who already saw the new pointer) can
    * be mid-write or even committed in, which is why [[gcUnreferenced]]
    * carries a version ceiling. No-op in production. */
  private[graft] var beforeDataGc: () => Unit = () => ()

  /** Write-once pointer creation makes the new version visible
    * all-at-once (no rename anywhere — see [[StoreIO]]); older pointers
    * are then GC'd (readers that already listed are protected by the
    * cur+prev MANIFEST retention, not by pointer retention). A committer
    * racing another writer onto the same next version (a live commit vs a
    * concurrent [[rebucket]]/[[compact]]) loses here LOUDLY — the
    * write-once create throws, the loser's version dir is an orphan the
    * retry clobbers, and the retry recomputes against the winner's layout
    * (effectiveBuckets re-reads the manifest header): the same
    * optimistic-concurrency discipline as [[OpLog]], which is what makes
    * rebucket safe against a LIVE stream. */
  private def commitPointer(v: Long, attempt: String,
                            prev: Option[String]): Unit = {
    beforePointerCommit()
    try io.createExclusive(io.path(s"_PTR-$v"),
      s"$v\nattempt=$attempt\nprev=${prev.getOrElse("-")}\n")
    catch { case e: java.io.IOException if pointerVersions.exists(_ >= v) =>
      // the name is TAKEN: a concurrent committer won this version (the
      // age gate keeps won names on disk for the whole grace) — the
      // standard loud defeat, not an I/O fault
      throw new StoreIO.ConcurrentCommit(
        s"version $v was committed by another writer during this " +
          s"commit's data write — re-read and retry ($e)")
    }
    // FREED-NAME laggard validation (the r16 stress over-count): pointer
    // names are GC'd, so a committer descheduled across ≥2 foreign
    // commits can find its target name FREE again and land a
    // "successful" create BELOW the committed head — an invisible commit
    // whose batch the replica never keeps but whose caller proceeds as
    // committed (and folds a view delta for it). The age gate below
    // makes that impossible within the grace; past it, the successor
    // pointer convicts: _PTR-(v+1)'s `prev=` names the attempt of the v
    // it was built on — if that is NOT ours, version v was committed by
    // someone else long ago and our create reused its freed name.
    // Revocation is gated on PROVEN non-ancestry (never on the mere
    // existence of higher versions — those may be built ON this commit,
    // and revoking a built-on pointer would double-apply downstream).
    val successorPrev: Option[String] =
      try {
        if (!io.exists(io.path(s"_PTR-${v + 1}"))) None
        else io.readString(io.path(s"_PTR-${v + 1}")).linesIterator
          .find(_.startsWith("prev=")).map(_.stripPrefix("prev=").trim)
      } catch { case _: java.io.IOException => None } // gone/unreadable: no proof
    if (successorPrev.exists(p => p != attempt)) {
      try io.delete(io.path(s"_PTR-$v"))
      catch { case StoreIO.Faults.BestEffort() => () } // below head: harmless
      throw new StoreIO.ConcurrentCommit(
        s"version $v was already committed by attempt ${successorPrev.get}'s " +
          s"predecessor — this committer's snapshot went stale past the " +
          s"pointer grace and its create landed at a freed name; revoked, " +
          "re-read and retry")
    }
    // post-flip: the commit IS durable — old-pointer GC is best-effort
    // (no-pointer-on-throw invariant; a stale lower pointer is harmless,
    // readers resolve the max and the next commit re-sweeps). AGE-GATED:
    // deleting a name frees it for re-creation, so only names older than
    // the grace — provably beyond any live committer's snapshot window —
    // are swept (see StoreIO.ptrGraceMs).
    try {
      val now = System.currentTimeMillis()
      pointerVersions.filter(_ < v)
        .map(o => io.path(s"_PTR-$o"))
        .filter(p => io.mtime(p).exists(m => now - m > StoreIO.ptrGraceMs))
        .foreach(io.delete)
    } catch { case StoreIO.Faults.BestEffort() => () }
  }

  /** Delete bucket dirs referenced by neither the new nor the previous
    * manifest (readers may still hold the previous one — bounded staleness). */
  /** `ceiling` closes the same race [[sweepControlFiles]]'s ceiling closes,
    * at the DATA layer (found by IncrementalAggStressSpec's randomized
    * wedge): this GC lists dirs at DELETE time, after the pointer flip —
    * by then a writer that already saw our pointer may be mid-write (or
    * even pointer-committed) at a HIGHER version, its dirs absent from
    * our keep set. Deleting them dangles the new head's manifest: every
    * reader fails permanently (the manifest references swept files).
    * Only versions at or below the version this commit published are this
    * GC's to judge. Same-or-lower-version dirs outside the keep set are
    * defeated/crashed attempts (their writers lose the pointer and retry
    * wholesale — loud, pre-commit, safe). */
  private def gcUnreferenced(keep: Set[String], ceiling: Long): Unit = {
    val dataDir = io.path("data")
    def versionOf(name: String): Long =
      name.stripPrefix("v").takeWhile(_.isDigit) match {
        case "" => Long.MaxValue // unparseable: never ours to delete
        case ds => ds.toLong
      }
    for {
      vDir <- io.listDirs(dataDir)
      if versionOf(vDir.getName) <= ceiling
      bDir <- io.listDirs(vDir)
      if bDir.getName.startsWith("bucket=")
      rel = s"data/${vDir.getName}/${bDir.getName}"
      if !keep.contains(rel)
    } io.delete(bDir)
    // drop version dirs with no bucket= payload left. NOT `listDirs.isEmpty`:
    // a kill -9 mid-parquet-write leaves Spark's `_temporary/` staging as the
    // dir's only child, and the empty-check left exactly that wreckage
    // leaking forever (found by CrossJvmKillSpec under suite load). A
    // committed dir always carries its referenced bucket= dirs (job commit
    // removed _temporary); a bucket-less dir below the ceiling is wreckage
    // of a crashed/defeated attempt — same deletability argument as its
    // bucket dirs above. AT the ceiling, though, a dir still holding
    // children (Spark's _temporary staging) may be a CONCURRENT (not
    // crashed) same-version racer mid-parquet-write: sweeping its staging
    // would fail its write job with a raw SparkException instead of the
    // clean write-once pointer defeat its retry logic keys on — so
    // same-version staging ages one commit cycle (the next publish's
    // ceiling clears it). A fully EMPTY dir at the ceiling carries no such
    // risk (a racer between mkdir and staging re-mkdirs its tree) and is
    // swept immediately — e.g. the husk left right above once this GC
    // removes a defeated attempt's bucket dirs. Residual, accepted and
    // bounded: a still-writing racer LAPPED BY TWO commits (two full
    // commits complete inside its single data write) has staging BELOW
    // the ceiling and is swept mid-write — it fails loudly with a raw
    // task error instead of the pointer defeat, and its wholesale retry
    // converges; it never committed, so no durable state is at risk.
    // One aging cycle covers the common race; unbounded aging would turn
    // every genuinely crashed attempt into a permanent leak.
    io.listDirs(dataDir)
      .filter { v =>
        val ver = versionOf(v.getName)
        lazy val children = io.listDirs(v)
        ver <= ceiling && !children.exists(_.getName.startsWith("bucket=")) &&
          (ver < ceiling || children.isEmpty)
      }
      .foreach(io.delete)
  }

  /** Remove the replica entirely (test/scratch hygiene). */
  def destroy(): Unit = io.delete(io.root)
}

object BucketedReplica {

  /** How long a [[BucketedReplica!.pinFiles]] GC pin protects its version
    * before publishers sweep it as a crashed consumer's leftover. Generous:
    * a legitimate fold holds its pin for one micro-batch, not hours. This
    * is also the CRASH-GAP SELF-HEAL WINDOW ([[IncrementalAgg]]): a stream
    * restarting within it repairs a killed fold's lost view delta exactly;
    * past it the evidence is swept and audit()/rebuild() is the recovery.
    * Deployment knob `-Dgraft.replica.pinTtlMs=<millis>`: raise it when
    * restarts can be slow (orchestrator backoff, manual ops), at the cost
    * of retaining a crashed fold's two pinned versions' files longer. */
  private[graft] val PinTtlMs: Long =
    sys.props.get("graft.replica.pinTtlMs").flatMap(_.toLongOption)
      .getOrElse(6L * 60 * 60 * 1000)

  /** Open an EXISTING replica knowing only its root — the catalog path
    * ([[graft.plans.GraftCatalog]]): a cold session resolves a table NAME to
    * a root directory and everything else (key, layout, schema) must come
    * from the replica's own durable metadata. Layout priority mirrors
    * `effectiveBuckets`: current manifest header (`#n=`, authoritative after
    * [[BucketedReplica.rebucket]]) → creation `_META` → default. The
    * constructor-schema fallback (used only before the first commit writes a
    * `schema-<v>.json`) comes from `_SCHEMA.json` when a catalog
    * CREATE TABLE declared columns up front. */
  def open(root: String): BucketedReplica = {
    val io = new StoreIO(root, StoreIO.sessionConf())
    val metaP = io.path("_META")
    require(io.existsSafe(metaP), s"no replica at $root (missing _META)")
    val kv = io.readSafe(metaP).linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v.trim }.toMap
    val pk = kv.getOrElse("pk", "user_id")
    val curV = io.numberedFiles("_PTR-").sorted.lastOption
    val n = curV.flatMap { v =>
      // the pointer content names the winning attempt (bare-version
      // content = legacy unsuffixed manifest)
      val attempt = io.readString(io.path(s"_PTR-$v")).linesIterator
        .find(_.startsWith("attempt=")).map(_.stripPrefix("attempt=").trim)
      val manName = attempt.map(a => s"manifest-$v-$a.tsv")
        .getOrElse(s"manifest-$v.tsv")
      io.readString(io.path(manName)).linesIterator
        .find(_.startsWith("#n=")).map(_.stripPrefix("#n=").trim.toInt)
    }.orElse(kv.get("nBuckets").map(_.toInt)).getOrElse(32)
    // the catalog's CREATE TABLE names its attempt-unique schema payload in
    // _META (`schema=`); bare `_SCHEMA.json` covers pre-r13 tables. Read
    // via the safe pair: the pre-first-commit widenSchema maintains this
    // file with overwriteSafe, whose flip window a plain read would race.
    val schemaP = io.path(kv.getOrElse("schema", "_SCHEMA.json"))
    val fallbackSchema =
      if (io.existsSafe(schemaP))
        org.apache.spark.sql.types.DataType.fromJson(io.readSafe(schemaP))
          .asInstanceOf[StructType]
      else CdcStream.envelopeSchema
    new BucketedReplica(root, pk, n, fallbackSchema)
  }
}
