package graft.perfbench

import scala.collection.mutable

/** One change event in the flat CDC envelope (CdcStream.envelopeSchema).
  * `userId` is the primary key; `None` is an unroutable row (DLQ). */
final case class Change(op: String, tbl: String, pos: Long, tsNs: Long,
                        userId: Option[Long], value: Double, eventType: String)

/** Seeded change-file generator for the ingest stage: a snapshot of every
  * key (INSERTs) followed by a binlog of INSERT/UPDATE/DELETE, cut into
  * files. Key popularity is Zipf-skewed, so hot keys change several times
  * within one file; about 1% of rows carry a null key (they dead-letter) and
  * about 1% are delivered one to three files late, behind newer changes to
  * the same key (latest-wins must keep the newer one). */
object Changes {
  val Tables: Seq[String] = Seq("accounts", "sessions")
  val EventTypes: Seq[String] = Seq("signup", "click", "view", "purchase", "error")

  /** `keys` per table; `files` row counts in order (backlog files first). */
  def generate(seed: Long, keys: Int, fileRows: Seq[Int]): IndexedSeq[IndexedSeq[Change]] = {
    val rnd = new scala.util.Random(seed)
    val perm = rnd.shuffle((0 until keys).toVector).map(_.toLong)
    // Zipf(1.1) CDF over key ranks
    val cdf = {
      val w = (1 to keys).map(r => 1.0 / math.pow(r.toDouble, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail.toArray
    }
    def zipfKey(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      perm(math.min(if (i >= 0) i else -i - 1, keys - 1))
    }
    var pos = 0L
    val baseNs = 1700000000000000000L
    def next(op: String, tbl: String, key: Option[Long]): Change = {
      pos += 1
      Change(op, tbl, pos, baseNs + pos * 1000000L, key,
        rnd.nextInt(50000) / 100.0, EventTypes(rnd.nextInt(EventTypes.size)))
    }
    val live = mutable.Map.empty[(String, Long), Boolean]
    val snapshot = Iterator.from(0).take(keys * Tables.size).map { i =>
      val tbl = Tables(i % Tables.size); val k = perm(i / Tables.size)
      live((tbl, k)) = true
      next("INSERT", tbl, Some(k))
    }
    def binlog(): Change = {
      val tbl = Tables(rnd.nextInt(Tables.size))
      if (rnd.nextDouble() < 0.01)
        next(Seq("INSERT", "UPDATE", "DELETE")(rnd.nextInt(3)), tbl, None)
      else {
        val k = zipfKey()
        val op =
          if (!live.getOrElse((tbl, k), false)) "INSERT"
          else if (rnd.nextDouble() < 0.25) "DELETE" else "UPDATE"
        live((tbl, k)) = op != "DELETE"
        next(op, tbl, Some(k))
      }
    }
    // rows held back for a later file: (due file index, change)
    val late = mutable.ArrayBuffer.empty[(Int, Change)]
    fileRows.indices.map { f =>
      val out = mutable.ArrayBuffer.empty[Change]
      val (due, held) = late.partition(_._1 <= f)
      late.clear(); late ++= held
      out ++= due.map(_._2)
      while (out.size < fileRows(f)) {
        val c = if (snapshot.hasNext) snapshot.next() else binlog()
        if (f < fileRows.size - 1 && rnd.nextDouble() < 0.01)
          late += ((math.min(f + 1 + rnd.nextInt(3), fileRows.size - 1), c))
        else out += c
      }
      if (f == fileRows.size - 1) out ++= late.map(_._2)
      out.toIndexedSeq
    }
  }
}

/** Independent checker for the ingest stage, in plain Scala: folds the
  * generated changes latest-wins by position (tombstones kept, delivery
  * order ignored) and compares the program's replica, aggregate view and
  * dead-letter count with that fold. Comparisons are multiset equality, so
  * a lost change and a duplicated row are both caught. */
object ChangeCheck {
  /** (user_id, op, pos, ts_ns, value, event_type) of one live replica row. */
  type LiveRow = (Long, String, Long, Long, Double, String)
  /** (event_type, n_live, sum_value) of one view row. */
  type ViewRow = (String, Long, BigDecimal)

  /** Winning change per (table, key), tombstones included. */
  def fold(changes: Iterable[Change]): Map[(String, Long), Change] = {
    val m = mutable.HashMap.empty[(String, Long), Change]
    changes.foreach { c =>
      c.userId.foreach { k =>
        val cur = m.get((c.tbl, k))
        if (cur.forall(_.pos < c.pos)) m((c.tbl, k)) = c
      }
    }
    m.toMap
  }

  def liveRows(folded: Map[(String, Long), Change]): Map[String, Seq[LiveRow]] =
    folded.values.filter(_.op != "DELETE").toSeq
      .groupBy(_.tbl).map { case (t, cs) =>
        t -> cs.map(c => (c.userId.get, c.op, c.pos, c.tsNs, c.value, c.eventType))
      }

  /** Group-by over live rows, as IncrementalAgg keeps it: count and the
    * DECIMAL(18,2) sum of `value`, zero-count groups absent. */
  def viewOf(live: Seq[LiveRow]): Seq[ViewRow] =
    live.groupBy(_._6).toSeq.map { case (g, rs) =>
      (g, rs.size.toLong,
        rs.map(r => BigDecimal(r._5).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum)
    }

  def unroutable(changes: Iterable[Change]): Long = changes.count(_.userId.isEmpty).toLong

  /** Mismatch descriptions; empty when the program's state equals the fold. */
  def check(changes: Iterable[Change],
            actualLive: Map[String, Seq[LiveRow]],
            actualView: Map[String, Seq[ViewRow]],
            actualDlq: Long): Seq[String] = {
    val expLive = liveRows(fold(changes))
    val tables = (expLive.keySet ++ actualLive.keySet).toSeq.sorted
    def sameMultiset[A](a: Seq[A], b: Seq[A]): Boolean =
      a.groupBy(identity).map { case (k, v) => k -> v.size } ==
        b.groupBy(identity).map { case (k, v) => k -> v.size }
    val liveErr = tables.flatMap { t =>
      val e = expLive.getOrElse(t, Nil); val a = actualLive.getOrElse(t, Nil)
      if (sameMultiset(e, a)) None
      else Some(s"replica $t: ${a.size} live rows, fold has ${e.size} " +
        s"(${a.diff(e).size} unexpected, ${e.diff(a).size} missing)")
    }
    // the view must equal a group-by over the FOLD (not over the replica),
    // so a replica error cannot hide a view error
    val viewErr = tables.flatMap { t =>
      val e = viewOf(expLive.getOrElse(t, Nil)); val a = actualView.getOrElse(t, Nil)
      if (sameMultiset(e, a)) None
      else Some(s"view $t: ${a.sortBy(_._1).mkString(",")} != fold ${e.sortBy(_._1).mkString(",")}")
    }
    val dlqErr =
      if (actualDlq == unroutable(changes)) Nil
      else Seq(s"dlq: $actualDlq rows, ${unroutable(changes)} unroutable generated")
    liveErr ++ viewErr ++ dlqErr
  }
}
