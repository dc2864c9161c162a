package graft.streaming

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exactly-once CDC upsert into a JDBC warehouse table — the serving-table
  * half of the reference pipeline (its Dataflow job MERGEs staged changes
  * into the BigQuery serving table; reference README.md:204-205). The
  * replica ([[BucketedReplica]]) stays the system of record; this sink
  * mirrors a changelog into any JDBC database with the same latest-wins,
  * tombstone-aware semantics, surviving crashes and replays.
  *
  * Protocol (the staging-promote pattern — the scalable shape for
  * parallel writers against a transactional store):
  *  1. executors append the batch to `<table>_staging` in parallel (plain
  *     INSERTs through Spark's JDBC writer — append-only, restart-safe),
  *     tagged with an attempt-unique id so concurrent attempts' slices
  *     never interfere;
  *  2. the driver promotes in ONE transaction: insert `batchId` into
  *     `<table>_ledger` (PRIMARY KEY — a replayed or racing promote loses
  *     on the duplicate key and rolls back, which IS the exactly-once
  *     guarantee), supersede-delete target rows an equal-or-newer staged
  *     position beats, insert the staged winners — tombstones INCLUDED,
  *     so out-of-order batches cannot resurrect deleted keys — and clear
  *     the staging slice.
  *
  * A crash between (1) and (2) leaves orphan staging rows for a dead
  * attempt: the replay stages a NEW attempt slice and promotes it; the
  * won promote sweeps every slice of the batch, orphans included —
  * target content is identical to the no-crash run. Serving reads filter
  * `op <> 'DELETE'` ([[liveSql]]); tombstone GC is the same
  * watermark-gated maintenance as [[BucketedReplica.compactTombstones]]
  * (one DELETE the operator schedules, not this sink's concern).
  *
  * Scale: stage-append parallelism = batch partitions; the promote is
  * 4 statements of O(batch) work inside the database, never O(table) —
  * exactly the bounded-maintenance contract of the replica's commit.
  *
  * Dialect scope: the promote relies on `LOCK TABLE … IN EXCLUSIVE MODE`
  * and ANSI MERGE with WHEN-clause refinements — the Derby/Postgres class
  * of engines (Derby is what the specs drive). An engine without either
  * fails the promote loudly and non-transiently at the first batch, which
  * is deliberate: there is no portable phrasing that is SOUND under
  * read-committed concurrency (the randomized 3-writer differential
  * killed both set-based DELETE+INSERT and unlocked MERGE), so a new
  * target dialect must supply its own serialization primitive rather than
  * silently downgrade to a lossy one. */
class JdbcSink(url: String, table: String, pk: String = "user_id",
               posCol: String = "pos", opCol: String = "op",
               driver: String = "org.apache.derby.jdbc.EmbeddedDriver") {

  private val staging = s"${table}_staging"
  private val ledger = s"${table}_ledger"

  private def withConn[A](f: Connection => A): A = {
    JdbcSink.Stats.conns.increment()
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def sqlType(dt: DataType): String = dt match {
    case StringType => "VARCHAR(1024)"
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(
      s"JdbcSink cannot map column type $other — flatten the envelope first")
  }

  /** Metadata probes fold identifiers per-engine (Derby stores upper,
    * Postgres lower); probe the engine's declared folding first and fall
    * back to the other, so the same probe works on both classes. */
  private def foldings(c: Connection, name: String): Seq[String] = {
    val md = c.getMetaData
    if (md.storesUpperCaseIdentifiers) Seq(name.toUpperCase, name.toLowerCase)
    else if (md.storesLowerCaseIdentifiers) Seq(name.toLowerCase, name.toUpperCase)
    else Seq(name, name.toUpperCase, name.toLowerCase)
  }

  private def exists(c: Connection, name: String): Boolean =
    foldings(c, name).exists { n =>
      JdbcSink.Stats.stmts.increment()
      val rs = c.getMetaData.getTables(null, null, n, null)
      try rs.next() finally rs.close()
    }

  /** Provision target + staging + ledger for `schema` (the changelog
    * envelope; must include pk, pos, op). Idempotent — INCLUDING under
    * contention: two writers racing the first batch against a fresh
    * database both observe "absent" and both issue CREATE; the loser's
    * duplicate-descriptor error (Derby X0Y32; ANSI 42-class elsewhere) is
    * swallowed iff a re-check confirms the table now exists, which is the
    * create-if-absent outcome both writers wanted. */
  /** Once this instance has provisioned (or confirmed) the three tables,
    * later batches skip the metadata probes — 2 connections + 7
    * statements per micro-batch on a steady stream (the ledger check,
    * then the promote; the staging append's own JDBC writer comes on
    * top), pinned by JdbcSinkSpec. An out-of-band DROP after that
    * surfaces loudly at the next stage/promote statement, same failure
    * the probes would have deferred to anyway. */
  @volatile private var provisioned = false

  def ensureTables(schema: StructType): Unit = {
    Seq(pk, posCol, opCol).foreach(cn => require(schema.fieldNames.contains(cn),
      s"JdbcSink envelope needs column '$cn'; batch has ${schema.fieldNames.mkString(",")}"))
    if (provisioned) return
    val cols = schema.fields.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")
    withConn { c =>
      createIfAbsent(c, table, s"CREATE TABLE $table ($cols, PRIMARY KEY ($pk))")
      createIfAbsent(c, staging,
        s"CREATE TABLE $staging ($cols, batch_id BIGINT, attempt_id BIGINT)")
      createIfAbsent(c, ledger, s"CREATE TABLE $ledger (batch_id BIGINT PRIMARY KEY)")
      migrateStaging(c)
    }
    provisioned = true
  }

  private def createIfAbsent(c: Connection, name: String, ddl: String): Unit =
    if (!exists(c, name)) {
      try { JdbcSink.Stats.stmts.increment(); c.createStatement().execute(ddl) }
      catch {
        // lost a provision race — fine iff the winner's table is there now
        case t: java.sql.SQLException if exists(c, name) => ()
      }
    }

  /** A staging table provisioned by the pre-attempt layout lacks
    * attempt_id; every append would fail on the missing column with no
    * migration path. Widen it in place (NULL attempt slices are swept by
    * batch_id, so legacy orphans still get cleaned). */
  private def hasColumn(c: Connection, tbl: String, colName: String): Boolean =
    foldings(c, tbl).exists { t =>
      foldings(c, colName).exists { cn =>
        JdbcSink.Stats.stmts.increment()
        val rs = c.getMetaData.getColumns(null, null, t, cn)
        try rs.next() finally rs.close()
      }
    }

  private def migrateStaging(c: Connection): Unit = {
    if (!hasColumn(c, staging, "attempt_id")) {
      try { JdbcSink.Stats.stmts.increment()
        c.createStatement().execute(s"ALTER TABLE $staging ADD COLUMN attempt_id BIGINT") }
      catch { // racing migrators: loser is fine if the column landed
        case t: java.sql.SQLException =>
          if (!hasColumn(c, staging, "attempt_id")) throw t
      }
    }
  }

  /** Has `batchId` already been promoted? (The replay fast path; a
    * never-provisioned ledger means nothing was.) */
  def committed(batchId: Long): Boolean = withConn { c =>
    if (!exists(c, ledger)) return false
    val ps = c.prepareStatement(s"SELECT 1 FROM $ledger WHERE batch_id = ?")
    ps.setLong(1, batchId)
    JdbcSink.Stats.stmts.increment()
    val rs = ps.executeQuery()
    try rs.next() finally rs.close()
  }

  /** Apply one micro-batch exactly once. Returns false iff `batchId` was
    * already promoted (replay no-op). Safe to call concurrently and to
    * re-call after any crash point.
    *
    * The staging slice is ATTEMPT-scoped (batch_id, attempt_id) — the
    * replica's attempt-suffixed write-once discipline transplanted to
    * SQL: each caller stages only rows it owns and the promote reads
    * only its own attempt's slice, so a concurrent replay of the SAME
    * batch can neither double its rows nor (the nastier shape) delete
    * the winner's staged slice between the winner's stage and promote —
    * which would have let the ledger record a promoted batch whose rows
    * never landed. A won promote sweeps the batch's slices attempt-wide
    * (covering crashed earlier attempts); a lost race sweeps its own. */
  def applyBatch(batch: DataFrame, batchId: Long): Boolean = {
    ensureTables(batch.schema)
    if (committed(batchId)) return false
    val attemptId = java.util.concurrent.ThreadLocalRandom.current().nextLong()
    // within-batch latest-wins (one row per key) BEFORE staging: the
    // promote's supersede logic then needs no per-batch ordering
    val w = Window.partitionBy(col(pk)).orderBy(col(posCol).desc)
    val deduped = batch.filter(col(pk).isNotNull)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn").withColumn("batch_id", lit(batchId))
      .withColumn("attempt_id", lit(attemptId))
    deduped.write.mode("append")
      .option("driver", driver)
      .jdbc(url, staging, new java.util.Properties())

    val colList = batch.schema.fieldNames.mkString(", ")
    promoteWithRetry(batchId, attemptId, colList, attempts = 10)
  }

  /** The promote transaction, retried on the two transient outcomes a
    * CONCURRENT writer with a different batchId can inflict: deadlock
    * (SQLState 40001 — two promotes locking overlapping key sets in
    * opposite orders; the database aborts one as victim) and lock
    * timeout (40XL1). Both leave this attempt's staging slice intact and
    * its ledger row unwritten, so the retry re-runs the identical
    * transaction against the winner's committed state — latest-wins
    * comparisons (`s.pos >= t.pos`) make the outcome order-independent.
    * A ledger duplicate key is NOT retried: someone promoted THIS batch,
    * which is success-by-another-hand — sweep our orphan staging slice
    * and report false. */
  private def promoteWithRetry(batchId: Long, attemptId: Long,
                               colList: String, attempts: Int): Boolean = {
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        return withConn { c =>
          c.setAutoCommit(false)
          try {
            // Serialize promotes: under read-committed, set-based
            // supersede logic is UNSOUND against concurrent promotes no
            // matter how it is phrased — Derby's MERGE (like the ANSI
            // deferred-apply model) evaluates WHEN conditions against a
            // statement-start snapshot and applies the row-change list
            // after, so a rival committing key k between evaluation and
            // apply lets a LOWER-pos update clobber a higher-pos row
            // (and the former DELETE+INSERT pair had the dual silent-
            // skip window). The randomized 3-writer differential caught
            // both, ~1-in-8 runs each. An exclusive target lock taken
            // FIRST (one lock order: table → ledger, so no cycle) makes
            // every promote's read-evaluate-apply atomic; waiters
            // surface as 40XL1/40001, which the outer retry already
            // converges. Concurrency cost is nil in the sink's real
            // shape (one streaming writer + replay zombies), and a real
            // warehouse target runs its own transactional MERGE instead.
            JdbcSink.Stats.stmts.increment()
            c.createStatement().execute(
              s"LOCK TABLE $table IN EXCLUSIVE MODE")
            val led = c.prepareStatement(s"INSERT INTO $ledger VALUES (?)")
            led.setLong(1, batchId)
            JdbcSink.Stats.stmts.increment()
            led.executeUpdate() // duplicate key here = lost the race → rollback
            // Supersede + insert as ONE MERGE statement (set-based, one
            // round trip), safe because the exclusive table lock above
            // already made this promote's read-evaluate-apply atomic.
            val cols = colList.split(", ")
            val setList = cols.filter(_ != pk)
              .map(cn => s"$cn = s.$cn").mkString(", ")
            val mergeSql =
              s"""MERGE INTO $table t
                 |USING $staging s
                 |ON t.$pk = s.$pk AND s.batch_id = $batchId
                 |  AND s.attempt_id = $attemptId
                 |WHEN MATCHED AND s.$posCol >= t.$posCol
                 |  THEN UPDATE SET $setList
                 |WHEN NOT MATCHED AND s.batch_id = $batchId
                 |  AND s.attempt_id = $attemptId
                 |  THEN INSERT ($colList)
                 |  VALUES (${cols.map(cn => s"s.$cn").mkString(", ")})""".stripMargin
            // Post-merge resolution check — the promote VERIFIES its own
            // effect instead of trusting engine race semantics: every
            // slice row must be resolved (landed, or genuinely superseded
            // by t.pos ≥ s.pos) before the ledger row is allowed to
            // commit. Under the exclusive lock this passes on the first
            // iteration; it exists as a loud invariant so any future
            // weakening of the locking discipline fails visibly (the
            // pre-lock MERGE lost rows to evaluate/apply races that only
            // a differential test could see).
            val chk = c.prepareStatement(
              s"""SELECT COUNT(*) FROM $staging s
                 |WHERE s.batch_id = $batchId AND s.attempt_id = $attemptId
                 |  AND NOT EXISTS (SELECT 1 FROM $table t
                 |    WHERE t.$pk = s.$pk AND t.$posCol >= s.$posCol)""".stripMargin)
            var unresolved = -1L
            var merges = 0
            while (unresolved != 0L && merges < 10) {
              merges += 1
              JdbcSink.Stats.stmts.add(2)
              c.createStatement().executeUpdate(mergeSql)
              val rs = chk.executeQuery()
              unresolved = try { rs.next(); rs.getLong(1) } finally rs.close()
            }
            if (unresolved != 0L) throw new java.sql.SQLException(
              s"promote left $unresolved unresolved rows after $merges merges",
              "40001") // surface as the transient class: rollback + retry
            // won: sweep ALL of this batch's slices — ours plus any
            // crashed earlier attempt's orphans (never a live loser's
            // problem: its promote reads only its own attempt slice and
            // loses at the ledger regardless)
            val cln = c.prepareStatement(s"DELETE FROM $staging WHERE batch_id = ?")
            JdbcSink.Stats.stmts.increment()
            cln.setLong(1, batchId); cln.executeUpdate()
            c.commit()
            true
          } catch {
            case t: Throwable =>
              c.rollback()
              if (committed(batchId)) {
                // lost the same-batch race: sweep ONLY THIS attempt's
                // slice (the winner batch-sweeps earlier orphans inside
                // its own transaction). Sweeping batch-wide here raced
                // the winner's still-open promote — deleting the
                // winner's staged rows between its ledger insert and
                // its INSERT-from-staging read committed an EMPTY batch
                // the ledger recorded as promoted (caught by the
                // randomized 3-writer differential, ~1-in-10 runs).
                val ps = c.prepareStatement(
                  s"DELETE FROM $staging WHERE batch_id = ? AND attempt_id = ?")
                ps.setLong(1, batchId); ps.setLong(2, attemptId)
                JdbcSink.Stats.stmts.increment()
                ps.executeUpdate(); c.commit()
                false
              } else throw t
          } finally c.setAutoCommit(true)
        }
      } catch {
        // dup-key (23505) gets a LOWER retry budget than the lock-class
        // states: a genuine persistent PK violation (a staging-dedup
        // regression, say) should surface after a couple of rounds, not
        // hide behind 10 backoffs — while the legitimate transient shape
        // (two promotes inserting the same absent key; loser fails after
        // the winner commits) converges on the first re-run.
        case t: Throwable if isTransient(t) &&
            attempt < (if (isDupKey(t)) math.min(3, attempts) else attempts) =>
          Thread.sleep(50L * attempt) // linear backoff; victim retries
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Deadlock victim (40001), lock timeout (40XL1), and duplicate key
    * (23505) all mark a lost serialization race with a CONCURRENT
    * different-batch promote — 23505 arises when both transactions insert
    * the same not-yet-present key and the blocked one fails after the
    * winner commits (read-committed gives no predicate lock on the
    * NOT EXISTS probe). The retry re-runs against the winner's committed
    * rows, where the supersede DELETE / NOT EXISTS pair resolves the key
    * by position — order-independent, so convergent. The LEDGER's own
    * duplicate key (a same-batch race) never reaches this test: the
    * in-transaction handler checks `committed(batchId)` first and returns
    * false there. */
  private def isTransient(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).exists {
      case s: java.sql.SQLException =>
        s.getSQLState == "40001" || s.getSQLState == "40XL1" ||
          s.getSQLState == "23505"
      case _ => false
    }

  /** Duplicate key specifically — retried on a tighter budget (see the
    * retry site): transient only in the lost-insert-race shape, so a
    * persistent violation must not burn the full backoff ladder. */
  private def isDupKey(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).exists {
      case s: java.sql.SQLException => s.getSQLState == "23505"
      case _ => false
    }

  /** The serving read (the reference's analyst view): live rows only. */
  def liveSql: String = s"SELECT * FROM $table WHERE $opCol <> 'DELETE'"
}

object JdbcSink {
  /** JDBC round-trip counters (connections opened, statements/metadata
    * probes executed) — the warehouse-side twin of [[StoreIO.Stats]]. */
  object Stats {
    import java.util.concurrent.atomic.LongAdder
    val conns = new LongAdder; val stmts = new LongAdder
    def snapshot(): Map[String, Long] =
      Map("conns" -> conns.sum(), "stmts" -> stmts.sum())
  }
}
