package graft.perfbench

import graft.streaming.{BucketedReplica, CdcStream, IncrementalAgg, StoreIO}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Shape of one ingest stage: a pre-landed backlog file drained in one
  * batch (backfill), then an open-loop tail of small files landed every
  * `periodMs` in `merges` cycles, each folded by a scheduled merge when its
  * landing interval ends. */
final case class IngestPlan(keys: Int, backlogRows: Int, tailFiles: Int,
                            tailRows: Int, periodMs: Long, merges: Int)

/** One micro-batch as the benchmark saw it. */
final case class BatchRec(id: Long, files: Seq[Int], startNs: Long, endNs: Long,
                          storeOps: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class IngestResult(changes: Seq[Change], backfill: Seq[BatchRec],
                              tail: Seq[BatchRec], backfillRows: Long,
                              tailLatency: Seq[Double], lagMaxS: Double, replicaRoot: String,
                              aggRoot: String, dlqDir: String) {
  /** Wall time from the first backfill batch's start to the last one's end. */
  def backfillSeconds: Double = (backfill.map(_.endNs).max - backfill.map(_.startNs).min) / 1e9
  def backfillRowsPerS: Double = backfillRows / backfillSeconds
}

/** Drives the CDC pipeline through its public entry points: change files
  * are streamed by `CdcStream.fileChangelogStream` and each micro-batch is
  * folded by `CdcStream.applyTablesWithAggViews` into one BucketedReplica
  * and one IncrementalAgg view per source table. */
final class Ingest(spark: SparkSession, trace: Trace, dir: String) {
  private val src = s"$dir/landing"
  private val hold = s"$dir/hold"
  val replicaRoot = s"$dir/replica"
  val aggRoot = s"$dir/views"
  private val staging = s"$dir/staging"
  val dlqDir = s"$dir/dlq"
  private val checkpoint = s"$dir/checkpoint"

  private def fileName(i: Int): String = f"c-$i%05d.parquet"
  private def fileIndex(path: String): Int =
    path.substring(path.lastIndexOf("c-") + 2, path.lastIndexOf(".parquet")).toInt

  /** Change files of micro-batch `id`, from the file source's log in the
    * checkpoint (written before the batch runs; every tenth log file is a
    * compaction holding all earlier entries). */
  private def filesOf(id: Long): Seq[Int] = {
    val log = Paths.get(checkpoint, "sources", "0")
    val f = Seq(log.resolve(id.toString), log.resolve(s"$id.compact")).find(Files.exists(_)).get
    val Entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    Files.readAllLines(f).asScala.toSeq.collect {
      case Entry(path, b) if b.toLong == id => fileIndex(path)
    }.sorted
  }

  /** Writes every generated file under the holding dir in one Spark job. */
  private def writeFiles(files: IndexedSeq[IndexedSeq[Change]]): Unit = {
    val rows = files.zipWithIndex.flatMap { case (cs, f) =>
      cs.map(c => Row(c.op, c.tbl, c.pos, c.tsNs, c.userId.map(Long.box).orNull,
        c.value, c.eventType, f))
    }
    val schema = CdcStream.envelopeSchema.add("__f", "int")
    spark.createDataFrame(rows.asJava, schema)
      .repartition(col("__f")).write.partitionBy("__f").parquet(s"$hold/raw")
    files.indices.foreach { f =>
      val part = Files.list(Paths.get(s"$hold/raw/__f=$f")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(hold, fileName(f)))
    }
  }

  private def sleepUntil(ns: Long): Unit = {
    val wait = ns - System.nanoTime()
    if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
  }

  private def land(f: Int): Unit =
    Files.move(Paths.get(hold, fileName(f)), Paths.get(src, fileName(f)),
      StandardCopyOption.ATOMIC_MOVE)

  def run(seed: Long, plan: IngestPlan): IngestResult = {
    import plan._
    Files.createDirectories(Paths.get(src)); Files.createDirectories(Paths.get(hold))
    val files = Changes.generate(seed, keys,
      backlogRows +: Seq.fill(tailFiles)(tailRows))
    writeFiles(files)
    land(0)

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
    def apply(batch: DataFrame, id: Long): Unit = {
      val fs = filesOf(id)
      val ops0 = StoreIO.Stats.snapshot()
      val t0 = System.nanoTime()
      // a stream's jobs inherit the call site of its start(); cleared, each
      // job is named after the program frame that ran it
      val sc = spark.sparkContext
      val site = Seq("callSite.short", "callSite.long").map(k => k -> sc.getLocalProperty(k))
      sc.clearCallSite()
      try trace.span("CdcStream.applyTablesWithAggViews", scope = s"batch:$id") {
        CdcStream.applyTablesWithAggViews(batch, id, replicaRoot, aggRoot, staging, dlqDir)
      } finally site.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      val t1 = System.nanoTime()
      batches.add(BatchRec(id, fs, t0, t1, StoreIO.Stats.diff(StoreIO.Stats.snapshot(), ops0)))
    }
    /** Runs the stream until it has folded every landed file. */
    def drain(maxFiles: Int): Seq[BatchRec] = {
      batches.clear()
      val q = CdcStream.fileChangelogStream(spark, src, maxFiles).writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, id: Long) => apply(b, id))
        .start()
      q.awaitTermination()
      batches.asScala.toSeq.sortBy(_.id)
    }

    val backfill = drain(1)
    val backfillRows = files.head.size.toLong
    if (tailFiles == 0) return IngestResult(files.flatten, backfill, Nil,
      backfillRows, Nil, 0.0, replicaRoot, aggRoot, dlqDir)

    // tail: `merges` cycles, one after another. In each, an open loop lands
    // one file every periodMs; when the cycle's interval ends, a scheduled
    // merge folds everything landed since the last one. A merge's latency
    // runs from when it was due, the last file of the cycle having landed,
    // to the end of each batch it ran: the landing interval is the
    // schedule's wait, not the program's work.
    var lagMax = 0L
    val merged = (0 until tailFiles).grouped((tailFiles + merges - 1) / merges).toSeq.map { fs =>
      val t0 = System.nanoTime()
      fs.zipWithIndex.foreach { case (f, j) =>
        val due = t0 + j * periodMs * 1000000L
        sleepUntil(due)
        land(1 + f)
        lagMax = math.max(lagMax, System.nanoTime() - due)
      }
      val mergeDue = t0 + fs.size * periodMs * 1000000L
      sleepUntil(mergeDue)
      val bs = drain(100000)
      require(bs.map(_.files.size).sum == fs.size, "tail files not all applied")
      (bs, bs.map(b => (b.endNs - mergeDue) / 1e9))
    }
    val tail = merged.flatMap(_._1)
    val tailLatency = merged.flatMap(_._2)
    IngestResult(files.flatten, backfill, tail, backfillRows, tailLatency,
      lagMax / 1e9, replicaRoot, aggRoot, dlqDir)
  }

  /** The replica, view and DLQ as the program left them, checked against
    * the independent fold of everything generated. */
  def check(changes: Seq[Change]): Seq[String] = {
    val live = Changes.Tables.map { t =>
      t -> CdcStream.liveReplicaFor(spark, replicaRoot, t)
        .select("user_id", "op", "pos", "ts_ns", "value", "event_type").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getString(5)))
    }.toMap
    val view = Changes.Tables.map { t =>
      t -> new IncrementalAgg(new BucketedReplica(s"$replicaRoot/$t"), s"$aggRoot/$t")
        .read(spark).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
    }.toMap
    val dlq = spark.read.parquet(dlqDir).count()
    ChangeCheck.check(changes, live, view, dlq)
  }

  /** Replica plus view bytes on disk, per live row. */
  def storeBytesPerRow(): Double = {
    def bytes(p: String): Long = Files.walk(Paths.get(p)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
    val liveRows = Changes.Tables.map(t =>
      CdcStream.liveReplicaFor(spark, replicaRoot, t).count()).sum
    (bytes(replicaRoot) + bytes(aggRoot)).toDouble / liveRows
  }
}
