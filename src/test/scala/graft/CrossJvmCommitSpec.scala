package graft

import java.nio.file.{Files, Paths, Path => JPath}
import org.apache.spark.sql.{Row, SparkSession}
import graft.streaming.{BucketedReplica, CdcStream}

/** Cross-PROCESS committer race for the replica's write-once pointer
  * protocol (the r7 "what's missing #1"): StoreProtocolSpec races
  * concurrent committers inside one JVM, but the protocol's claim — the
  * `_PTR-<v>` create-new-key is the single serialization point, so two
  * INDEPENDENT DRIVERS cannot both win one version and the loser
  * recomputes against the winner's state — rests on filesystem-level
  * atomicity that only a second process can honestly exercise. The
  * reference's pipeline is inherently multi-writer (stream workers and
  * analyst DML against the same warehouse table), so this is the
  * deployment shape, not an edge case.
  *
  * Deterministic interleaving via the `beforePointerCommit` seam, driven
  * across the process boundary by marker files:
  *
  *   1. parent seeds v1 in ITS OWN JVM;
  *   2. child A (fresh JVM) runs a full commit up to the pointer flip —
  *      data + manifest for v2 written — then parks in the race window;
  *   3. child B (another fresh JVM) commits v2 wholesale and exits;
  *   4. parent releases A: A's `_PTR-2` create MUST fail (B owns v2),
  *      and A's retry must recompute v3 ON TOP of B's committed rows.
  *
  * Asserted: exactly one pointer-create failure in A, final version 3,
  * one surviving pointer file, and a final table state equal to the
  * sequential merge of seed + B + A — i.e. the loser's first (doomed)
  * attempt leaked nothing.
  */
class CrossJvmCommitSpec extends SparkSpecBase {

  private def await(p: JPath, timeoutMs: Long, what: String): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!Files.exists(p)) {
      if (System.currentTimeMillis() > deadline)
        fail(s"timed out after ${timeoutMs}ms waiting for $what ($p)")
      Thread.sleep(50)
    }
  }

  private def launch(cls: String, args: Seq[String]): Process = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(java) ++ addOpens ++ Seq(
      "-Xmx1g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), cls) ++ args
    new ProcessBuilder(cmd: _*).inheritIO().start()
  }

  test("OpLog across processes: two JVMs appending to one LSH index " +
    "serialize through the write-once log; the loser's data is swept " +
    "and its retry converges") {
    val dir = tmpDir("xjvm_lsh")
    val root = s"$dir/idx"
    val hold = Paths.get(dir, "hold")
    Files.createFile(hold)
    val sf = "/root/testdata/sf0.001"

    // seed batch 0 from the parent JVM
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val idx = new graft.streaming.LshIndex(root)
    idx.addBatch(docs.filter(col("doc_id") >= 60 && col("doc_id") < 90), 0L)

    // child A writes batch 3's partitions, parks before its log commit
    val a = launch("graft.CrossJvmLshMain", Seq(root, dir, "A", "0", "3", hold.toString))
    try {
      await(Paths.get(dir, "window-A"), 120000L, "A to reach the log window")
      // B commits batch 2 wholesale while A is parked in the window
      val b = launch("graft.CrossJvmLshMain", Seq(root, dir, "B", "30", "2", "-"))
      try {
        await(Paths.get(dir, "done-B"), 120000L, "B to commit")
        Files.delete(hold)
        await(Paths.get(dir, "done-A"), 120000L, "A to recover")
      } finally { b.destroyForcibly(); () }
    } finally { a.destroyForcibly(); () }
    val doneA = new String(Files.readAllBytes(Paths.get(dir, "done-A")))
    assert(doneA.contains("lost=1"), s"A must lose the log race once: $doneA")

    // the log linearized: versions 1..3, batch ids {0, 2, 3} all committed
    val reopened = new graft.streaming.LshIndex(root)
    val kinds = reopened.log.entries.map { case (v, kv) =>
      v -> kv.getOrElse("batch", "?") }
    assert(kinds === Seq(1L -> "0", 2L -> "2", 3L -> "3"), s"log: $kinds")
    // and the emitted pairs equal the one-shot rule over ALL three batches
    val all = docs.filter(col("doc_id") < 90)
    val got = reopened.pairs(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bands = SetSimilarity.bandsFromSigs(SetSimilarity.minhashSigs(all), 2, 4)
    val want = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, "cross-process appends diverged from the one-shot rule")
  }

  test("two independent driver JVMs racing one version: exactly one " +
    "pointer winner, loser recomputes on top of the winner") {
    val dir = tmpDir("xjvm")
    val root = s"$dir/rep"
    val hold = Paths.get(dir, "hold")
    Files.createFile(hold)

    // seed v1 from the parent JVM (a third, already-distinct process)
    val rep = new BucketedReplica(root, nBuckets = 4)
    rep.commit(spark.createDataFrame(
      java.util.Arrays.asList((1L to 20L).map(k =>
        Row("INSERT", "users", k, k * 10, k, k * 1.0, "seed")): _*),
      CdcStream.envelopeSchema))
    assert(rep.currentVersion.contains(1L))

    // child A: commits keys 100-109, parks at the pointer-flip window
    val a = launch("graft.CrossJvmCommitterMain",
      Seq(root, dir, "A", "100", hold.toString))
    try {
      await(Paths.get(dir, "window-A"), 120000L,
        "child A to reach the pointer window")
      // A has fully written v2 data + manifest but holds no pointer yet:
      // the table is still v1 for every reader
      assert(BucketedReplica.open(root).currentVersion.contains(1L),
        "an uncommitted version leaked a pointer")

      // child B: commits keys 200-209 start-to-finish while A is parked
      val b = launch("graft.CrossJvmCommitterMain",
        Seq(root, dir, "B", "200", "-"))
      try {
        await(Paths.get(dir, "done-B"), 120000L, "child B to commit")
        assert(new String(Files.readAllBytes(Paths.get(dir, "done-B")))
          .contains("lost=0"), "B ran unopposed and must win cleanly")
        assert(BucketedReplica.open(root).currentVersion.contains(2L))

        // release A: its _PTR-2 create must LOSE to B's, and the retry
        // must land v3 on top of B's committed state
        Files.delete(hold)
        await(Paths.get(dir, "done-A"), 120000L, "child A to recover")
      } finally { b.destroyForcibly(); () }
      val doneA = new String(Files.readAllBytes(Paths.get(dir, "done-A")))
      assert(doneA.contains("lost=1"),
        s"A must lose the pointer race exactly once, got: $doneA")
      assert(doneA.contains("version=3"),
        s"A's recovery commit must land v3, got: $doneA")
    } finally { a.destroyForcibly(); () }

    // the head pointer is v3 and nothing above it; superseded names stay
    // on disk for the r16 reuse grace (StoreIO.ptrGraceMs) — readers
    // resolve the max, and freeing a name early is what let a laggard
    // re-create it below the head. The loser's doomed first attempt still
    // leaked nothing: no pointer past the head, no fourth version.
    val ptrs = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("_PTR-")).toSeq.sorted
    assert(ptrs.flatMap(_.stripPrefix("_PTR-").toLongOption).max === 3L,
      s"pointers: $ptrs")
    val reopened = BucketedReplica.open(root)
    val live = reopened.live(spark)
      .select("user_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected =
      (1L to 20L).map(k => k -> k * 1.0).toMap ++
        (200L to 209L).map(k => k -> k * 2.0).toMap ++
        (100L to 109L).map(k => k -> k * 2.0).toMap
    assert(live === expected)
    // and the store passes its own integrity audit
    val bad = reopened.fsck(spark).filter("ok = false").collect()
    assert(bad.isEmpty, s"fsck failures: ${bad.mkString("; ")}")
  }
}

/** Child-process entry for [[CrossJvmCommitSpec]]: opens the replica at
  * `root` cold (its own SparkSession, its own StoreIO), commits ten keys
  * starting at `keyBase`, and — when a hold file is given — parks in the
  * `beforePointerCommit` window until the parent deletes it, so the
  * parent can schedule a second committer into the race window
  * deterministically. Writes `window-<id>` on reaching the window and
  * `done-<id>` with `lost=<n> version=<v>` on exit. */
/** Child-process entry for the OpLog race: appends 30 docs starting at
  * `start` as `batchId` to the LSH index at `root`, optionally parking in
  * the `beforeAppendCommit` window until the parent deletes the hold
  * file. On a lost race ([[graft.streaming.StoreIO.ConcurrentCommit]])
  * the append retries — the contract every foreachBatch caller follows. */
object CrossJvmLshMain {
  def main(args: Array[String]): Unit = {
    val Array(root, dir, id, startS, batchIdS, holdS) = args
    val (start, batchId) = (startS.toLong, batchIdS.toLong)
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import org.apache.spark.sql.functions.col
      val idx = new graft.streaming.LshIndex(root)
      if (holdS != "-") {
        val hold = Paths.get(holdS)
        idx.log.beforeAppendCommit = () => {
          val w = Paths.get(dir, s"window-$id")
          if (!Files.exists(w)) {
            Files.write(w, "at-window\n".getBytes)
            while (Files.exists(hold)) Thread.sleep(25)
          }
        }
      }
      val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .filter(col("doc_id") >= start && col("doc_id") < start + 30)
        .select(col("doc_id"), col("text"))
      var lost = 0
      var committed = false
      var attempts = 0
      while (!committed && attempts < 5) {
        attempts += 1
        try { idx.addBatch(docs, batchId); committed = true }
        catch { case _: graft.streaming.StoreIO.ConcurrentCommit => lost += 1 }
      }
      Files.write(Paths.get(dir, s"done-$id"),
        s"lost=$lost committed=$committed\n".getBytes)
      if (!committed) sys.exit(2)
    } finally spark.stop()
  }
}

object CrossJvmCommitterMain {
  def main(args: Array[String]): Unit = {
    val Array(root, dir, id, keyBaseS, holdS) = args
    val keyBase = keyBaseS.toLong
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val rep = BucketedReplica.open(root)
      if (holdS != "-") {
        val hold = Paths.get(holdS)
        rep.beforePointerCommit = () => {
          val w = Paths.get(dir, s"window-$id")
          if (!Files.exists(w)) {
            Files.write(w, "at-window\n".getBytes)
            while (Files.exists(hold)) Thread.sleep(25)
          } // retry commits pass straight through: the race already ran
        }
      }
      val batch = spark.createDataFrame(
        java.util.Arrays.asList((keyBase until keyBase + 10).map(k =>
          Row("INSERT", "users", k, k * 10, k, k * 2.0, s"c$id")): _*),
        CdcStream.envelopeSchema)
      var lost = 0
      var committed = false
      var attempts = 0
      while (!committed && attempts < 5) {
        attempts += 1
        try { rep.commit(batch); committed = true }
        catch {
          case e: Throwable
              if e.isInstanceOf[graft.streaming.StoreIO.ConcurrentCommit] ||
                e.getClass.getName.contains("FileAlreadyExists") ||
                Option(e.getMessage).exists(_.contains("already exists")) =>
            lost += 1 // lost the race (pointer or pre-manifest guard):
                      // re-read and recompute
        }
      }
      val v = rep.currentVersion.getOrElse(-1L)
      Files.write(Paths.get(dir, s"done-$id"),
        s"lost=$lost version=$v committed=$committed\n".getBytes)
      if (!committed) sys.exit(2)
    } finally spark.stop()
  }
}
