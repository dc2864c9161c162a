package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.streaming.{BucketedReplica, CdcStream}
import java.io.File

/** The incremental keyed replica (D8's storage layer): touched-bucket-only
  * rewrites, atomic pointer visibility, and watermark-gated tombstone GC —
  * the three properties that make the streaming merge shippable at 100 TB
  * (per-batch cost ∝ batch, not replica). */
class BucketedReplicaSpec extends SparkSpecBase {

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum

  private def mkBatch(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), CdcStream.envelopeSchema)

  private def row(op: String, pos: Long, ts: Long, uid: Long, v: Double): Row =
    Row(op, "users", pos, ts, uid, v, "evt")

  test("commit rewrites only touched buckets; written bytes scale with batch, not replica") {
    val root = tmpDir("bkr") + "/rep"
    val rep = new BucketedReplica(root)
    // seed: the full sf0.01 changelog (150 keys → all 32 buckets populated)
    val ch = Cdc.changelog(spark, "/root/testdata/sf0.01")
    rep.commit(ch)
    val v1Bytes = dirBytes(new File(root, "data"))
    val v1Dirs = Option(versionDataDir(root, 1L).listFiles()).get
      .count(_.getName.startsWith("bucket="))
    assert(v1Dirs > 16, s"seed should populate most buckets, got $v1Dirs")

    // tiny batch: ONE key updated
    rep.commit(mkBatch(Seq(row("UPDATE", 999999L, 999L, 7L, 123.45))))
    val v2 = versionDataDir(root, 2L)
    val v2Dirs = Option(v2.listFiles()).get.filter(_.getName.startsWith("bucket="))
    assert(v2Dirs.length === 1, "a one-key batch must rewrite exactly one bucket")
    // written bytes for the commit ≪ replica bytes (bucket-granular, not full)
    assert(dirBytes(v2) < v1Bytes / 8,
      s"v2 wrote ${dirBytes(v2)} bytes vs replica $v1Bytes — not incremental")

    // correctness: the updated key reflects the new change, others untouched
    val live = rep.live(spark)
    val got = live.filter(col("user_id") === 7L)
      .select("pos", "value").head()
    assert(got.getLong(0) === 999999L && got.getDouble(1) === 123.45)
    val expected = Cdc.merge(
      ch.unionByName(mkBatch(Seq(row("UPDATE", 999999L, 999L, 7L, 123.45)))),
      Seq("user_id"))
      .collect().map(r => r.getLong(4) -> r.getLong(2)).toMap
    val gotAll = live.collect().map(r => r.getLong(4) -> r.getLong(2)).toMap
    assert(gotAll === expected)
  }

  test("a batch touching more buckets than the parallelism still writes " +
    "exactly one file per bucket") {
    val root = tmpDir("bkr_width") + "/rep"
    val rep = new BucketedReplica(root) // 32 buckets
    val seed = mkBatch((0L until 200L).map(k => row("INSERT", k, k, k, k.toDouble)))
    // updates, deletes and new keys spread over most of the buckets
    val batch = mkBatch((0L until 260L by 3).map { k =>
      if (k >= 200L) row("INSERT", 1000L + k, 1000L + k, k, k.toDouble)
      else if (k % 2 == 0) row("UPDATE", 1000L + k, 1000L + k, k, -k.toDouble)
      else row("DELETE", 1000L + k, 1000L + k, k, 0.0)
    })
    rep.commit(seed)
    rep.commit(batch)
    val dirs = Option(versionDataDir(root, 2L).listFiles()).get
      .filter(_.getName.startsWith("bucket="))
    assert(dirs.length > spark.sparkContext.defaultParallelism,
      s"the batch must touch more buckets than the write has tasks, got ${dirs.length}")
    dirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files === 1, s"${d.getName} holds $files parquet files")
    }
    def rowsOf(df: DataFrame): Seq[String] =
      df.select(CdcStream.envelopeSchema.fieldNames.map(col).toSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    assert(rowsOf(rep.live(spark)) ===
      rowsOf(Cdc.merge(seed.unionByName(batch), Seq("user_id"))))
  }

  test("a durable GC pin keeps the pinned version's files across foreign " +
    "commits; unpin (or expiry) releases them") {
    val root = tmpDir("bkr_pin") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    rep.commit(mkBatch(Seq(row("INSERT", 1L, 1L, 1L, 10.0),
      row("INSERT", 2L, 2L, 2L, 20.0))))
    val snap = rep.pinSnapshot()
    val pin = rep.pinFiles(snap)
    val atSnap = rep.readBucketsAt(spark, 0 until 4, snap)
    // two foreign commits touching key 1's bucket — WITHOUT the pin, the
    // second rolls cur+prev retention past the pinned version and GCs
    // its rewritten bucket file (exactly the post-commit seam's scan)
    rep.commit(mkBatch(Seq(row("UPDATE", 10L, 10L, 1L, 11.0))))
    rep.commit(mkBatch(Seq(row("UPDATE", 20L, 20L, 1L, 12.0))))
    val pinnedVals = atSnap.filter(col("user_id") === 1L)
      .select("value").collect().map(_.getDouble(0)).toSeq
    assert(pinnedVals === Seq(10.0), "pinned-version scan must read v1 state")
    rep.unpin(pin)
    rep.commit(mkBatch(Seq(row("UPDATE", 30L, 30L, 1L, 13.0))))
    // after unpin + another commit, the pinned version's rewritten bucket
    // is unprotected and swept — the scan now fails LOUDLY, never serves
    // stale-silently
    intercept[Exception] { atSnap.filter(col("user_id") === 1L).collect() }
    // and an EXPIRED pin (a crashed consumer's leftover) is swept by the
    // next publish rather than protecting files forever
    val io = new graft.streaming.StoreIO(root, graft.streaming.StoreIO.sessionConf())
    io.writeString(io.path("_PIN-1-deadbeef"), "v=1\ntoken=-\ncreated=0\n")
    rep.commit(mkBatch(Seq(row("UPDATE", 40L, 40L, 1L, 14.0))))
    assert(!io.exists(io.path("_PIN-1-deadbeef")), "expired pin must be swept")
  }

  test("data GC never touches a FUTURE version committed inside its own " +
    "post-flip window (the stress-found wedge, deterministically)") {
    val root = tmpDir("bkr_gc_ceiling") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    rep.commit(mkBatch(Seq(row("INSERT", 1L, 1L, 1L, 10.0),
      row("INSERT", 2L, 2L, 2L, 20.0))))
    // writer A commits v2; INSIDE A's pointer-flip→GC window, writer B
    // (who sees A's pointer) commits v3 COMPLETELY. Pre-ceiling, A's GC
    // listed B's v3 dirs, found them outside A's keep set, and deleted
    // committed data — the head manifest then referenced swept files and
    // every read failed permanently.
    rep.beforeDataGc = () => {
      rep.beforeDataGc = () => ()
      new BucketedReplica(root, nBuckets = 4)
        .commit(mkBatch(Seq(row("UPDATE", 20L, 20L, 2L, 22.0))))
    }
    rep.commit(mkBatch(Seq(row("UPDATE", 10L, 10L, 1L, 11.0))))
    // the head (B's v3) must read back whole — key 2's bucket lives in
    // B's v3 dir, exactly what the pre-ceiling GC deleted
    val live = rep.live(spark).select("user_id", "value")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(live === Seq((1L, 11.0), (2L, 22.0)),
      "a future version committed during the GC window lost data")
  }

  test("a concurrent reader never observes an empty or partial replica") {
    val root = tmpDir("bkr_atomic") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    rep.commit(mkBatch((1L to 40L).map(k => row("INSERT", k, k * 10, k, k * 1.0))))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val n = rep.live(spark).count()
          // every key only ever gets updated — the live count can never drop
          if (n < 40) failures.add(s"saw $n rows (< 40)")
        } catch { case t: Throwable => failures.add(t.toString) }
      }
    })
    reader.start()
    try {
      (1 to 6).foreach { i =>
        rep.commit(mkBatch((1L to 10L).map(k =>
          row("UPDATE", 1000L * i + k, 100L * i, k, i * 1.0))))
      }
    } finally { stop.set(true); reader.join(30000) }
    assert(failures.isEmpty, s"reader observed: ${failures.toArray.mkString("; ")}")
    // bounded retention: at most current+previous version dirs remain
    val versions = Option(new File(root, "data").listFiles()).get
      .filter(_.isDirectory).map(_.getName).sorted
    assert(versions.length <= 4, s"stale versions not GC'd: ${versions.mkString(",")}")
  }

  test("a crash between data write and pointer flip leaves the replica consistent") {
    val root = tmpDir("bkr_crash") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    rep.commit(mkBatch((1L to 20L).map(k => row("INSERT", k, k * 10, k, k * 1.0))))
    val before = rep.live(spark).collect().map(r => (r.getLong(4), r.getLong(2))).toSet

    // simulate a writer that died mid-commit: the NEXT version dir (v2) is
    // fully written — poison update included — but the pointer never flipped
    val orphan = new File(root, "data/v2-deadcafe/bucket=0")
    orphan.mkdirs()
    mkBatch(Seq(row("UPDATE", 777L, 1L, 1L, 9.9)))
      .coalesce(1).write.mode("overwrite").parquet(orphan.getAbsolutePath)

    // readers resolve the pointer: the orphan is invisible
    val after = rep.live(spark).collect().map(r => (r.getLong(4), r.getLong(2))).toSet
    assert(after === before, "orphan version dir leaked into reads")

    // the recovery commit reuses version 2: it must clobber the orphan (not
    // fail on the existing dir) and publish only its own data
    rep.commit(mkBatch(Seq(row("UPDATE", 1000L, 500L, 5L, 50.0))))
    val end = rep.live(spark).collect().map(r => (r.getLong(4), r.getLong(2))).toMap
    assert(end(5L) === 1000L)
    assert(end(1L) === 1L, "the never-committed poison update must not apply")
    assert(end.size === 20)
  }

  test("layout pinning: a replica refuses writers configured with a different bucket count or key") {
    val root = tmpDir("bkr_meta") + "/rep"
    new BucketedReplica(root, nBuckets = 4)
      .commit(mkBatch(Seq(row("INSERT", 1L, 10L, 1L, 1.0))))
    // wrong bucket count: rows were PLACED with n=4; n=8 would mis-derive
    val wrongN = intercept[IllegalArgumentException] {
      new BucketedReplica(root, nBuckets = 8)
        .commit(mkBatch(Seq(row("INSERT", 2L, 20L, 2L, 2.0))))
    }
    assert(wrongN.getMessage.contains("nBuckets=4"), wrongN.getMessage)
    // wrong primary key
    val wrongPk = intercept[IllegalArgumentException] {
      new BucketedReplica(root, pk = "pos", nBuckets = 4)
        .commit(mkBatch(Seq(row("INSERT", 3L, 30L, 3L, 3.0))))
    }
    assert(wrongPk.getMessage.contains("keyed by"), wrongPk.getMessage)
    // matching configuration keeps working; reads never need the layout
    new BucketedReplica(root, nBuckets = 4)
      .commit(mkBatch(Seq(row("INSERT", 4L, 40L, 4L, 4.0))))
    assert(new BucketedReplica(root).live(spark).count() === 2) // default open reads fine
  }

  test("schema drift: missing envelope columns land NULL, extra columns drop, types coerce") {
    val root = tmpDir("bkr_drift") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    rep.commit(mkBatch(Seq(row("INSERT", 1L, 100L, 1L, 1.0))))
    // drifted producer: no event_type, extra column, int pos instead of long
    val drifted = spark.range(1).select(
      lit("UPDATE").as("op"), lit("users").as("tbl"),
      lit(7).cast("int").as("pos"),            // drifted type: int, not long
      lit(200L).as("ts_ns"), lit(1L).as("user_id"), lit(2.5).as("value"),
      lit("surprise").as("not_in_contract"))   // out-of-contract column
    rep.commit(drifted)
    val got = rep.live(spark)
    assert(got.schema === CdcStream.envelopeSchema, got.schema.treeString)
    val r0 = got.head()
    assert(r0.getLong(2) === 7L && r0.getDouble(5) === 2.5)
    assert(r0.isNullAt(6), "missing event_type must land as NULL")
  }

  test("tombstone GC drops deletes behind the watermark, keeps recent ones, no resurrection") {
    val root = tmpDir("bkr_gc") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    rep.commit(mkBatch(Seq(
      row("INSERT", 1L, 1000L, 1L, 1.0),
      row("INSERT", 2L, 1000L, 2L, 2.0),
      row("DELETE", 3L, 2000L, 1L, 0.0),    // old tombstone (ts 2000)
      row("DELETE", 4L, 9000L, 2L, 0.0))))  // recent tombstone (ts 9000)
    // maintenance compaction at horizon 5000: the ts-2000 tombstone drops
    // (regardless of which bucket it sits in), the ts-9000 one stays
    rep.compactTombstones(spark, horizon = 5000L)
    val stored = rep.read(spark).collect()
      .map(r => (r.getLong(4), r.getString(0))).toSet
    assert(stored === Set((2L, "DELETE")), s"stored form after GC: $stored")
    // resurrection protection: an out-of-order OLDER update for key 2 must
    // still lose to the retained tombstone at pos 4
    rep.commit(mkBatch(Seq(row("UPDATE", 3L, 8000L, 2L, 99.0))))
    assert(rep.live(spark).filter(col("user_id") === 2L).count() === 0,
      "retained tombstone must keep winning against older positions")
    // but key 1's tombstone was GC'd — by the watermark contract no pos < 5000
    // can still arrive for it, so a NEW insert (higher pos) recreates it
    rep.commit(mkBatch(Seq(row("INSERT", 20L, 9900L, 1L, 7.0))))
    assert(rep.live(spark).filter(col("user_id") === 1L).count() === 1)
  }

  test("maintenance racing a live commit loses the pointer loudly; the " +
    "commit's rows survive and the retry compacts on top of them") {
    val root = tmpDir("bkr_maintrace") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    rep.commit(mkBatch(Seq(
      row("INSERT", 1L, 1000L, 1L, 1.0),
      row("DELETE", 2L, 2000L, 2L, 0.0)))) // GC-able tombstone
    // a live commit lands inside the maintenance pass's read-to-pointer
    // window: the pass publishes against its pinned snapshot, so it must
    // lose — silently replacing the commit's rows with the pre-commit
    // content would be data loss in a background job nobody watches
    def raceOnce(): Unit = rep.beforePointerCommit = () => {
      rep.beforePointerCommit = () => ()
      new BucketedReplica(root, nBuckets = 4)
        .commit(mkBatch(Seq(row("INSERT", 10L, 9000L, 77L, 7.0))))
    }
    raceOnce()
    val e = intercept[Exception] { rep.compactTombstones(spark, horizon = 5000L) }
    assert(e.isInstanceOf[java.io.IOException] ||
      e.isInstanceOf[graft.streaming.StoreIO.ConcurrentCommit], e.toString)
    assert(rep.live(spark).filter(col("user_id") === 77L).count() === 1,
      "the racing commit's row must survive the defeated maintenance pass")
    rep.compactTombstones(spark, horizon = 5000L) // retry converges
    assert(rep.read(spark).filter(col("op") === "DELETE").count() === 0)
    assert(rep.live(spark).count() === 2)
    // same discipline for full compaction
    rep.beforePointerCommit = () => {
      rep.beforePointerCommit = () => ()
      new BucketedReplica(root, nBuckets = 4)
        .commit(mkBatch(Seq(row("INSERT", 11L, 9100L, 78L, 8.0))))
    }
    val e2 = intercept[Exception] { rep.compact(spark) }
    assert(e2.isInstanceOf[java.io.IOException] ||
      e2.isInstanceOf[graft.streaming.StoreIO.ConcurrentCommit], e2.toString)
    assert(rep.live(spark).filter(col("user_id") === 78L).count() === 1)
    rep.compact(spark)
    assert(rep.live(spark).count() === 3)
  }

  test("a tombstone with NULL event time is never GC'd (not provably behind any horizon)") {
    val root = tmpDir("bkr_nullts") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    // schema-drift path: a producer without ts_ns lands the column as NULL
    val noTs = spark.range(1).select(
      lit("DELETE").as("op"), lit("users").as("tbl"), lit(5L).as("pos"),
      lit(9L).as("user_id"), lit(0.0).as("value"), lit("evt").as("event_type"))
    rep.commit(noTs)
    // in-commit GC with a horizon: the null-ts tombstone must survive
    rep.commit(mkBatch(Seq(row("INSERT", 6L, 8000L, 10L, 1.0))),
      tombstoneGcHorizon = Some(7000L))
    // maintenance compaction must not drop it either
    rep.compactTombstones(spark, horizon = Long.MaxValue)
    val stored = rep.read(spark).collect()
      .map(r => (r.getLong(4), r.getString(0))).toSet
    assert(stored.contains((9L, "DELETE")),
      s"null-ts tombstone was GC'd — resurrection hazard re-opened: $stored")
    // and it still wins: a late lower-position update for key 9 stays dead
    rep.commit(mkBatch(Seq(row("UPDATE", 3L, 100L, 9L, 42.0))))
    assert(rep.live(spark).filter(col("user_id") === 9L).count() === 0)
  }

  test("time travel + change feed: retained versions read back; diff emits INSERT/UPDATE/DELETE") {
    val root = tmpDir("bkr_tt") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    rep.commit(mkBatch(Seq(
      row("INSERT", 1L, 100L, 1L, 1.0),
      row("INSERT", 2L, 200L, 2L, 2.0),
      row("INSERT", 3L, 300L, 3L, 3.0))))          // v1
    rep.commit(mkBatch(Seq(
      row("UPDATE", 10L, 400L, 2L, 2.5),           // key 2 updated
      row("DELETE", 11L, 500L, 3L, 0.0),           // key 3 deleted
      row("INSERT", 12L, 600L, 4L, 4.0))))         // key 4 new
    // v1 is still readable as of its manifest (bounded retention: cur+prev)
    assert(rep.liveAt(spark, 1L).collect().map(_.getLong(4)).toSet === Set(1L, 2L, 3L))
    assert(rep.liveAt(spark, 2L).collect().map(_.getLong(4)).toSet === Set(1L, 2L, 4L))
    val feed = rep.changeFeed(spark, 1L, 2L).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(feed === Map(
      2L -> ("UPDATE", 10L),   // new position
      3L -> ("DELETE", 3L),    // old position (the row it removes)
      4L -> ("INSERT", 12L)))  // key 1 unchanged: absent from the feed
    // beyond retention: a version whose manifest was dropped refuses loudly
    rep.commit(mkBatch(Seq(row("UPDATE", 20L, 700L, 1L, 1.5)))) // v3 drops manifest-1
    val gone = intercept[IllegalArgumentException] { rep.readAt(spark, 1L) }
    assert(gone.getMessage.contains("not retained"), gone.getMessage)
  }

  test("compact() collapses the multi-version file scatter without changing content") {
    val root = tmpDir("bkr_compact") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    // 6 commits scatter each bucket's current file across many version dirs
    (1 to 6).foreach { i =>
      rep.commit(mkBatch((1L to 8L).map(k =>
        row(if (i == 4 && k == 5) "DELETE" else "UPDATE", i * 100L + k, i * 10L, k, i * 1.0))))
    }
    val before = rep.live(spark).collect()
      .map(r => (r.getLong(4), r.getLong(2), r.getDouble(5))).toSet
    val versionsBefore = Option(new File(root, "data").listFiles()).get
      .count(_.isDirectory)
    rep.compact(spark)
    val after = rep.live(spark).collect()
      .map(r => (r.getLong(4), r.getLong(2), r.getDouble(5))).toSet
    assert(after === before, "compaction must not change the live content")
    // every live bucket now lives in the compacted version; only it and the
    // pre-compaction version (reader retention) keep data dirs
    val versions = Option(new File(root, "data").listFiles()).get
      .filter(_.isDirectory).map(_.getName).sorted
    assert(versions.length <= versionsBefore.min(2),
      s"compaction left stale version dirs: ${versions.mkString(",")}")
    val cur = rep.currentVersion.get
    // control files are attempt-suffixed since the r9 multi-writer
    // hardening; resolve the current manifest by name pattern
    val manFile = Option(new File(root).listFiles()).get
      .filter(_.getName.matches(s"manifest-$cur(-[0-9a-f]{8})?\\.tsv"))
      .head
    val manifest = new String(java.nio.file.Files.readAllBytes(
      manFile.toPath), "UTF-8")
    assert(manifest.linesIterator.filterNot(_.startsWith("#")) // layout header
      .forall(_.contains(s"data/v$cur-")),
      s"manifest still references pre-compaction versions:\n$manifest")
  }

  test("rebucket(n') re-lays the replica; merge, time travel, and change feed survive") {
    val root = tmpDir("bkr_rebucket") + "/rep"
    val rep8 = new BucketedReplica(root, nBuckets = 8)
    rep8.commit(mkBatch((1L to 40L).map(k => row("INSERT", k, k * 10, k, k * 1.0))),
      tag = Some(1L))
    rep8.commit(mkBatch(Seq(row("UPDATE", 100L, 900L, 5L, 50.0),
      row("DELETE", 101L, 910L, 6L, 0.0))), tag = Some(2L))
    val before = rep8.live(spark).collect()
      .map(r => (r.getLong(4), r.getLong(2), r.getDouble(5))).toSet
    val vOld = rep8.currentVersion.get

    new BucketedReplica(root, nBuckets = 8).rebucket(spark, 16)

    // the old-layout writer now fails loudly (pinning against the NEW n) …
    val stale = intercept[IllegalArgumentException] {
      new BucketedReplica(root, nBuckets = 8)
        .commit(mkBatch(Seq(row("UPDATE", 200L, 990L, 1L, 11.0))))
    }
    assert(stale.getMessage.contains("nBuckets=16"), stale.getMessage)

    // … the new-layout writer merges touched-bucket-wise, content preserved
    val rep16 = new BucketedReplica(root, nBuckets = 16)
    assert(rep16.live(spark).collect()
      .map(r => (r.getLong(4), r.getLong(2), r.getDouble(5))).toSet === before,
      "rebucket must not change content")
    val vNew = rep16.currentVersion.get
    assert(rep16.tagOf(vNew) === Some(2L), "rebucket must carry the tag forward")
    rep16.commit(mkBatch(Seq(row("UPDATE", 200L, 990L, 1L, 11.0))), tag = Some(3L))
    val v3 = versionDataDir(root, rep16.currentVersion.get)
    assert(Option(v3.listFiles()).get.count(_.getName.startsWith("bucket=")) === 1,
      "post-rebucket one-key commit must still rewrite exactly one bucket")
    val got = rep16.live(spark).filter(col("user_id") === 1L).select("pos").head()
    assert(got.getLong(0) === 200L)

    // time travel across the layout change: the pre-rebucket version is the
    // retained previous one and still reads under the OLD layout's manifest
    assert(rep16.liveAt(spark, vNew).collect()
      .map(r => (r.getLong(4), r.getLong(2), r.getDouble(5))).toSet === before)
    // change feed across the rebucket boundary sees only the real change
    val feed = rep16.changeFeed(spark, vNew, rep16.currentVersion.get)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(feed.toSeq === Seq((1L, "UPDATE", 200L)))
  }

  test("schema evolution: a new producer generation widens the stored contract mid-stream") {
    import org.apache.spark.sql.types._
    val root = tmpDir("bkr_evolve") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    // generation 1: the flat envelope
    rep.commit(mkBatch(Seq(row("INSERT", 1L, 10L, 1L, 1.0),
      row("INSERT", 2L, 20L, 2L, 2.0))), tag = Some(1L))
    val vGen1 = rep.currentVersion.get

    // generation 2 adds a nullable column; evolveSchema widens instead of drops
    val gen2Schema = StructType(CdcStream.envelopeSchema.fields :+
      StructField("region_code", StringType))
    val gen2 = spark.createDataFrame(java.util.Arrays.asList(
      Row("UPDATE", "users", 3L, 30L, 1L, 1.5, "evt", "EU"),
      Row("INSERT", "users", 4L, 40L, 3L, 3.0, "evt", "US")), gen2Schema)
    rep.commit(gen2, tag = Some(2L), evolveSchema = true)

    assert(rep.storedSchema.fieldNames.toSeq ===
      CdcStream.envelopeSchema.fieldNames.toSeq :+ "region_code")
    val live = rep.live(spark).collect()
      .map(r => r.getLong(4) -> Option(r.getString(7))).toMap
    // gen-1 rows read NULL for the new column, gen-2 rows carry it
    assert(live === Map(1L -> Some("EU"), 2L -> None, 3L -> Some("US")))

    // the retained pre-evolution version time-travels under ITS OWN (narrow)
    // schema — a gen-1 reader replaying history never sees the new column
    assert(rep.schemaAt(vGen1).fieldNames.toSeq ===
      CdcStream.envelopeSchema.fieldNames.toSeq)
    assert(rep.liveAt(spark, vGen1).columns.toSeq ===
      CdcStream.envelopeSchema.fieldNames.toSeq)
    assert(rep.liveAt(spark, vGen1).count() === 2)

    // a LATER old-generation batch still lands (missing column → NULL),
    // even when its keys share buckets with widened rows
    rep.commit(mkBatch(Seq(row("UPDATE", 5L, 50L, 2L, 2.5))), tag = Some(3L))
    val after = rep.live(spark).collect()
      .map(r => (r.getLong(4), r.getLong(2), Option(r.getString(7)))).toSet
    assert(after === Set((1L, 3L, Some("EU")), (2L, 5L, None), (3L, 4L, Some("US"))))

    // the whole incremental path converges to the one-shot batch merge over
    // the union of generations (stream ≡ batch under evolution)
    val allChanges = mkBatch(Seq(row("INSERT", 1L, 10L, 1L, 1.0),
        row("INSERT", 2L, 20L, 2L, 2.0), row("UPDATE", 5L, 50L, 2L, 2.5)))
      .withColumn("region_code", lit(null).cast("string"))
      .unionByName(gen2)
    val oneShot = Cdc.merge(allChanges, Seq("user_id"))
      .collect().map(r => (r.getLong(4), r.getLong(2), Option(r.getString(7)))).toSet
    assert(after === oneShot)
  }

  test("schema evolution through the streaming merge: mixed generations converge") {
    import org.apache.spark.sql.types._
    val base = tmpDir("bkr_evostream")
    val gen2Schema = StructType(CdcStream.envelopeSchema.fields :+
      StructField("region_code", StringType))
    // three micro-batches: gen1, gen2 (adds column), gen1 again
    val b1 = mkBatch(Seq(row("INSERT", 1L, 10L, 1L, 1.0)))
    val b2 = spark.createDataFrame(java.util.Arrays.asList(
      Row("INSERT", "users", 2L, 20L, 2L, 2.0, "evt", "EU")), gen2Schema)
    val b3 = mkBatch(Seq(row("UPDATE", 3L, 30L, 1L, 1.5)))
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      CdcStream.applyBatch(b, i.toLong, s"$base/rep", s"$base/staging",
        s"$base/dlq", evolveSchema = true)
    }
    val rep = new BucketedReplica(s"$base/rep")
    assert(rep.storedSchema.fieldNames.contains("region_code"))
    val live = rep.live(spark).collect()
      .map(r => (r.getLong(4), r.getLong(2), Option(r.getString(7)))).toSet
    assert(live === Set((1L, 3L, None), (2L, 2L, Some("EU"))))
  }

  test("direct commit skips null-pk rows deterministically instead of NPE-ing") {
    val root = tmpDir("bkr_nullpk") + "/rep"
    val rep = new BucketedReplica(root, nBuckets = 4)
    val mixed = mkBatch(Seq(
      row("INSERT", 1L, 100L, 1L, 1.0),
      Row("INSERT", "users", 2L, 200L, null, 2.0, "evt"), // null pk: no bucket
      row("INSERT", 3L, 300L, 3L, 3.0)))
    rep.commit(mixed) // must not throw
    val keys = rep.live(spark).collect().map(_.getLong(4)).toSet
    assert(keys === Set(1L, 3L), s"expected null-pk row skipped, got $keys")
  }
}
