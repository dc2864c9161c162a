package graft

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.JdbcSink

/** Exactly-once CDC upsert into a JDBC warehouse (streaming/JdbcSink —
  * the serving-table half of the reference pipeline, against embedded
  * Derby like JdbcSourceSpec). Pins: batch apply ≡ Cdc.merge, replay is a
  * ledger-gated no-op, a crash between staging and promote replays to the
  * identical state, tombstones block out-of-order resurrection, and the
  * foreachBatch streaming form converges to the batch merge. */
class JdbcSinkSpec extends SparkSpecBase {

  private def mkUrl(tag: String) = s"jdbc:derby:memory:jsink_$tag;create=true"

  private def env(rows: Seq[(String, Long, Long, Double, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("op", "pos", "user_id", "value", "event_type")
      .select(col("op"), col("pos"), col("user_id"), col("value"), col("event_type"))
  }

  private def liveRows(url: String, sink: JdbcSink): Set[(Long, Long, Double, String)] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        sink.liveSql + " ORDER BY user_id")
      val b = Set.newBuilder[(Long, Long, Double, String)]
      while (rs.next()) b += ((rs.getLong("user_id"), rs.getLong("pos"),
        rs.getDouble("value"), rs.getString("event_type")))
      b.result()
    } finally c.close()
  }

  private def mergedRows(batches: DataFrame*): Set[(Long, Long, Double, String)] =
    Cdc.merge(batches.reduce(_ unionByName _), Seq("user_id"))
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("pos"),
        r.getAs[Double]("value"), r.getAs[String]("event_type"))).toSet

  /** Runs one applyBatch; returns its result and the (connections,
    * statements) it cost the warehouse, from [[JdbcSink.Stats]]. */
  private def roundTrips(apply: => Boolean): (Boolean, (Long, Long)) = {
    val s0 = JdbcSink.Stats.snapshot()
    val applied = apply
    val s1 = JdbcSink.Stats.snapshot()
    (applied, (s1("conns") - s0("conns"), s1("stmts") - s0("stmts")))
  }

  test("sequential batches land as global latest-wins; replay is a no-op") {
    val url = mkUrl("seq")
    val sink = new JdbcSink(url, "users")
    val b0 = env(Seq(("INSERT", 1L, 1L, 10.0, "signup"),
      ("INSERT", 2L, 2L, 20.0, "signup"), ("UPDATE", 3L, 1L, 11.0, "click")))
    val b1 = env(Seq(("UPDATE", 5L, 2L, 21.0, "click"),
      ("DELETE", 6L, 1L, 0.0, "error"), ("INSERT", 7L, 3L, 30.0, "signup")))
    assert(sink.applyBatch(b0, 0L))
    // a steady batch (tables already provisioned): the ledger check (1
    // connection: ledger probe + lookup) and the promote (1 connection:
    // lock, ledger insert, merge, resolution check, staging sweep)
    assert(roundTrips(sink.applyBatch(b1, 1L)) === ((true, (2L, 7L))))
    assert(liveRows(url, sink) === mergedRows(b0, b1))
    // replay of either batch: ledger hit, content untouched
    assert(roundTrips(sink.applyBatch(b0, 0L)) === ((false, (1L, 2L))))
    assert(roundTrips(sink.applyBatch(b1, 1L)) === ((false, (1L, 2L))))
    assert(liveRows(url, sink) === mergedRows(b0, b1))
  }

  test("crash between staging and promote replays to the identical state") {
    val url = mkUrl("crash")
    val sink = new JdbcSink(url, "users")
    val b0 = env(Seq(("INSERT", 1L, 1L, 10.0, "signup")))
    sink.applyBatch(b0, 0L)
    val b1 = env(Seq(("UPDATE", 5L, 1L, 12.0, "click"),
      ("INSERT", 6L, 4L, 40.0, "signup")))
    // simulate the crashed attempt: staging slice written, promote never ran
    sink.ensureTables(b1.schema)
    b1.withColumn("batch_id", lit(1L)).write.mode("append")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .jdbc(url, "users_staging", new java.util.Properties())
    assert(!sink.committed(1L), "promote never ran — ledger must be empty")
    // the replay replaces the orphan slice and promotes exactly once
    assert(sink.applyBatch(b1, 1L))
    assert(liveRows(url, sink) === mergedRows(b0, b1))
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT COUNT(*) AS n FROM users_staging")
      rs.next(); assert(rs.getInt("n") === 0, "staging must drain after promote")
    } finally c.close()
  }

  test("tombstones block out-of-order resurrection; stale positions lose") {
    val url = mkUrl("ooo")
    val sink = new JdbcSink(url, "users")
    sink.applyBatch(env(Seq(("INSERT", 10L, 1L, 10.0, "signup"),
      ("INSERT", 10L, 2L, 20.0, "signup"))), 0L)
    sink.applyBatch(env(Seq(("DELETE", 20L, 1L, 0.0, "error"))), 1L)
    // an out-of-order batch: older positions for both keys
    sink.applyBatch(env(Seq(("UPDATE", 15L, 1L, 99.0, "click"),
      ("UPDATE", 5L, 2L, 99.0, "click"))), 2L)
    val live = liveRows(url, sink)
    assert(!live.exists(_._1 == 1L),
      "a pos-15 update must not resurrect the pos-20 tombstone")
    assert(live === Set((2L, 10L, 20.0, "signup")),
      "a pos-5 update must lose against the stored pos-10 row")
  }

  test("foreachBatch streaming ingest converges to the batch merge") {
    val url = mkUrl("stream")
    val sink = new JdbcSink(url, "users")
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Long, Long, Double, String)]
    val q = mem.toDF().toDF("op", "pos", "user_id", "value", "event_type")
      .writeStream
      .foreachBatch((df: DataFrame, id: Long) => { sink.applyBatch(df, id); () })
      .start()
    val all = Seq(
      ("INSERT", 1L, 1L, 10.0, "signup"), ("INSERT", 2L, 2L, 20.0, "signup"),
      ("UPDATE", 4L, 1L, 11.0, "click"), ("DELETE", 5L, 2L, 0.0, "error"),
      ("INSERT", 6L, 3L, 30.0, "signup"), ("UPDATE", 3L, 2L, 99.0, "click"))
    try {
      all.grouped(2).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(liveRows(url, sink) === mergedRows(env(all)))
  }
}
