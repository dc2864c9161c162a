package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The ingest checker must reject a replica or view that lost one change or
  * applied one change twice, and must accept the true fold. */
class ChangeCheckSpec extends AnyFunSuite {
  private val files = Changes.generate(42L, keys = 200, Seq(400, 400) ++ Seq.fill(20)(20))
  private val changes = files.flatten
  private val live = ChangeCheck.liveRows(ChangeCheck.fold(changes))
  private def viewsOf(l: Map[String, Seq[ChangeCheck.LiveRow]]) =
    l.map { case (t, rs) => t -> ChangeCheck.viewOf(rs) }
  private val dlq = ChangeCheck.unroutable(changes)

  test("the generator is seeded and produces the intended mix") {
    assert(Changes.generate(42L, 200, Seq(400, 400) ++ Seq.fill(20)(20)) == files)
    assert(Set("INSERT", "UPDATE", "DELETE").subsetOf(changes.map(_.op).toSet))
    assert(dlq > 0)
    // hot keys change more than once within one tail file
    assert(files.drop(2).exists(_.flatMap(c => c.userId.map(c.tbl -> _))
      .groupBy(identity).exists(_._2.size > 1)))
    // some rows arrive after a newer change to the same key
    val seen = scala.collection.mutable.Map.empty[(String, Long), Long]
    val late = changes.count { c =>
      c.userId.exists { k =>
        val newer = seen.get(c.tbl -> k).exists(_ > c.pos)
        seen(c.tbl -> k) = math.max(seen.getOrElse(c.tbl -> k, 0L), c.pos)
        newer
      }
    }
    assert(late > 0)
  }

  test("the fold itself passes") {
    assert(ChangeCheck.check(changes, live, viewsOf(live), dlq).isEmpty)
  }

  test("one dropped change is caught") {
    val winner = ChangeCheck.fold(changes).values.find(_.op == "UPDATE").get
    val lostLive = ChangeCheck.liveRows(ChangeCheck.fold(changes.filterNot(_ eq winner)))
    val errs = ChangeCheck.check(changes, lostLive, viewsOf(lostLive), dlq)
    assert(errs.exists(_.startsWith(s"replica ${winner.tbl}")))
  }

  test("one duplicated change is caught in the replica and in the view") {
    val (t, rows) = live.head
    val dup = live.updated(t, rows :+ rows.head)
    val errs = ChangeCheck.check(changes, dup, viewsOf(dup), dlq)
    assert(errs.exists(_.startsWith(s"replica $t")))
    assert(errs.exists(_.startsWith(s"view $t")))
  }

  test("a dead-letter count off by one is caught") {
    assert(ChangeCheck.check(changes, live, viewsOf(live), dlq - 1) ==
      Seq(s"dlq: ${dlq - 1} rows, $dlq unroutable generated"))
  }
}
