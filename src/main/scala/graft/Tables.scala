package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of the driver-provided parquet corpus (TESTDATA.md) plus the
  * menagerie fixtures the reference seeds (reference: menagerie-db/cr_pet_tbl.sql:5-13,
  * cr_event_tbl.sql:5-11). All reads use explicit paths under the supplied
  * scale-factor directory; schemas are fixed by the parquet footers (the
  * reference likewise declares every schema up front — main.tf:202,213).
  *
  * Scale note: at 100 TB these reads become multi-file partitioned parquet
  * directories; `spark.read.parquet(dir)` is unchanged, and every query below
  * relies on Catalyst pushdown (filters + column pruning reach the scan), so
  * the same code scales by partition count alone.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Stat-validated schema cache (r17). `spark.read.parquet(path)` infers
    * the schema from footers on EVERY call — measured at 60-100 ms per
    * call on this host (it spins a footer-reading pass) vs ~10 ms with an
    * explicit schema; at 1-3 loads per query that inference was ~20 s of
    * pure per-query floor across the 256-query bench. Production resolves
    * schemas from a catalog declared once per table (the reference
    * declares every schema up front); this cache is that pattern with a
    * freshness guard: one `getFileStatus` per load (sub-ms) keys the
    * cached schema to the path's (mtime, length), so a rewritten fixture
    * re-infers instead of serving a stale schema. Results are unchanged —
    * the cached schema IS the inferred one. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Long, Long, org.apache.spark.sql.types.StructType)]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val hit = schemaCache.get(path)
      val sch =
        if (hit != null && hit._1 == st.getModificationTime && hit._2 == st.getLen)
          hit._3
        else {
          val s0 = spark.read.parquet(path).schema
          schemaCache.put(path, (st.getModificationTime, st.getLen, s0))
          s0
        }
      spark.read.schema(sch).parquet(path)
    } catch { // missing path etc.: fall through to the plain read's error
      case _: java.io.IOException => spark.read.parquet(path)
    }
  }

  /** A1 real-source branch: the same catalog interface over a live JDBC
    * source (the reference's snapshot reads MySQL — README.md:64-67,136).
    * Offline fixtures use [[load]]; a deployment passes the source URL here
    * and every downstream operator is unchanged. See
    * graft.sources.JdbcSnapshot for the partitioned backfill form. */
  def loadJdbc(spark: SparkSession, url: String, name: String,
               options: Map[String, String] = Map.empty): DataFrame =
    graft.sources.JdbcSnapshot.read(spark, url, name, options)

  /** Event time has shipped in two physical representations: parquet
    * TIMESTAMP(NANOS) — unrepresentable in Spark, surfaced as an epoch-nano
    * Long under `spark.sql.legacy.parquet.nanosAsLong=true` (set by every
    * entry point) — and parquet TIMESTAMP(MICROS), surfaced as
    * TIMESTAMP/TIMESTAMP_NTZ. The engine does not own this contract (the
    * fixture generator changed it once already), so branch on the schema that
    * actually arrives and normalize BOTH branches to one output shape:
    * `ts` TimestampType (µs, for windows/watermarks) in the column's original
    * position, `ts_ns` LongType (exact epoch nanos) appended last. Downstream
    * event-time arithmetic stays exact integer math on `ts_ns`, matching
    * DuckDB's `epoch_ns(ts)` on either representation. Session TZ is pinned
    * UTC, so the NTZ→timestamp cast is a relabel, not a shift. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long fixture: ts IS epoch nanoseconds
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts arrived as $other; expected nanos-as-long or a timestamp")
    }
  }

  /** Register every fixture table as a temp view (SURVEY §2 A9: the
    * reference's DDL/catalog surface — cr_pet_tbl.sql:3, main.tf:122-125). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
