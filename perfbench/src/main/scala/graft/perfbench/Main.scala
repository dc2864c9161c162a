package graft.perfbench

import graft.{Cdc, Extensions, Relational, SparkEntry, StreamingOps}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Benchmark JVM: runs one workload and writes `result.json` in the work
  * dir. Started by run.py, which checks query outputs against the DuckDB
  * oracle and prints the final record.
  *
  *  - cdc_ingest: the CDC pipeline. A backlog is drained (backfill), then
  *    an open loop lands small change files on a fixed schedule and a merge
  *    scheduled at the end of the interval folds them (tail); every
  *    micro-batch is folded into one replica and one aggregate view per
  *    table. One pass of replica reads follows. Checked against an
  *    independent fold of the changes generated from the seed.
  *  - analyst_mix: short reporting queries (Relational, Cdc, StreamingOps)
  *    and near-duplicate kernels (Extensions) over the fixture corpus.
  *    Checked against the oracle SQL.
  *
  * Two workloads, each a short run: a run is a fresh JVM whose cold start
  * alone takes half a minute, and a comparison needs tens of runs of every
  * workload within an hour.
  */
object Main {
  /** Reporting queries: the a/c/d families that run in under a second at
    * sf0.1 and read only the corpus directory. */
  val Reporting: Seq[String] = Seq(
    "a12_json_sink", "a15_csv_quoted", "a17_binary_files", "a1_snapshot_scan",
    "a3_avro_roundtrip", "a3b_avro_dsv2", "a6_sink_roundtrip", "a7_staging_append",
    "a9_catalog_ddl", "c01_projection", "c02_filter", "c03_distinct", "c04_sort",
    "c05_topk", "c06b_join_nullsafe", "c08_join_semi", "c08b_join_anti",
    "c09_self_join", "c10_multiway_join", "c12_global_agg", "c13_having",
    "c14b_cube", "c14d_grouping_id", "c16_window_rank", "c17_window_analytic",
    "c17b_window_range", "c18_setops", "c18b_setops_all", "c19_date_funcs",
    "c20_nulls", "c21_pattern", "c22_string_funcs", "c24_case", "c26_array_funcs",
    "c27_subquery", "c28_pivot", "c28b_unpivot", "c29_posexplode",
    "c32_percent_rank", "c34_gapfill", "c35_window_distinct", "c37_lateral_topn",
    "c38_not_in", "c39_bit_agg", "c40_regexp_extract", "c41_string_agg",
    "c42_conditional_agg", "c43_sort_nulls", "c44_histogram", "c45_nth_value",
    "c47_band_join", "c48_variant", "c49_funnel", "c50_retention_cohorts",
    "c51_event_transitions", "c52_dpp_join", "c53_rfm_segments", "d10_asof_join",
    "d10c_asof_forward", "d11_interval_join", "d12_late_audit",
    "d3_tumbling_window", "d4_sliding_window", "d7_stream_static_join")

  /** Module that defines a SparkEntry query. */
  def layerOf(name: String): String =
    if (Relational.queries.contains(name)) "Relational"
    else if (Cdc.queries.contains(name)) "Cdc"
    else if (StreamingOps.queries.contains(name)) "StreamingOps"
    else "Extensions"

  /** The analyst pass: every eighth reporting query (Cdc, Relational and
    * StreamingOps among them), and three near-duplicate kernels: LSH banding
    * with pair verification, blocked verification, and a reader of a
    * write-once LSH artifact. */
  val Analyst: Seq[String] =
    Reporting.zipWithIndex.collect { case (q, i) if i % 8 == 4 => q } ++
      Seq("e03b_lsh_pair_join", "e04c_jaccard_blocked", "e112_jaccard_histogram")

  /** Ingest of cdc_ingest: the tail lands ten 20-row files a second for
    * the run, in three cycles each folded by its own merge. */
  def ingestPlan(seconds: Int): IngestPlan =
    IngestPlan(keys = 1000, backlogRows = 5000, tailFiles = seconds * 10, tailRows = 20,
      periodMs = 100, merges = 3)

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.operators.ArtifactRoot.ConfKey, s"$work/artifacts")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Typical query latency of the timed passes: the geometric mean, over
    * the queries, of each query's median latency. Every query weighs the
    * same whatever its cost; a pooled median of all executions would jump
    * between queries whose latencies lie near it. */
  def typicalLatency(recs: Seq[QueryRec]): Double = {
    val perQuery = recs.groupBy(_.name).values.map(rs => median(rs.map(_.totalS)))
    math.exp(perQuery.map(math.log).sum / perQuery.size)
  }

  private def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toInt; val traced = a("trace") == "1"
    val work = a("work"); val corpus = a.getOrElse("corpus", "")
    val cores = a("cores").toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s $what")

    val spark = session(work, cores)
    val trace = new Trace(spark, traced, s"$workload-$seed")
    val untraced = new Trace(spark, false, "warm-up")
    val passes = new Passes(spark, trace)
    phase("session up")
    var attempted = 0
    val failures = Seq.newBuilder[String]
    var ingest: Option[IngestResult] = None
    var setupEndMs = 0L
    var e2e = Seq.empty[(String, Double)]
    var recs = Seq.empty[QueryRec]
    var passTimes = Seq.empty[Double]
    var extra = Seq("CdcStream.backfill_rows_per_s" -> 0.0, "BucketedReplica.store_bytes_per_row" -> 0.0)

    workload match {
      case "cdc_ingest" =>
        val plan = ingestPlan(seconds)
        // setup: one backfill-size batch, untimed, on its own root
        new Ingest(spark, untraced, s"$work/warm-up").run(seed + 7919, plan.copy(tailFiles = 0))
        setupEndMs = System.currentTimeMillis()
        phase("warm-up done")
        val ing = new Ingest(spark, trace, s"$work/ingest")
        val res = trace.span("ingest")(ing.run(seed, plan))
        ingest = Some(res)
        attempted += res.backfill.size + res.tail.size
        phase(s"ingest done: backfill ${res.backfill.map(_.seconds)} " +
          s"tail ${res.tail.map(b => (b.files.size, b.seconds))}")
        val reads = Passes.replicaReads(spark, ing.replicaRoot, ing.aggRoot, Changes.Tables)
        val (r, p) = passes.run(reads, 1)
        recs = r; passTimes = p
        attempted += reads.size
        passes.failed.foreach(failures += _)
        extra = Seq("CdcStream.backfill_rows_per_s" -> res.backfillRowsPerS,
          "BucketedReplica.store_bytes_per_row" -> ing.storeBytesPerRow())
        e2e = Seq(
          "latency_s" -> median(res.tailLatency),
          "pass_s" -> res.backfillSeconds)
        val mismatches = ing.check(res.changes)
        attempted += 1
        mismatches.foreach { msg => failures += "ingest_check"; System.err.println(s"check: $msg") }
        phase("checked")

      case "analyst_mix" =>
        val entry = Analyst.map(n => Query(n, layerOf(n), () => SparkEntry.queries(n)(spark, corpus)))
        // setup: write-once corpus artifacts, one untimed pass at the
        // workload's own scale that writes every result for the oracle
        // check, then one untimed pass through the noop sink the timed
        // passes use, so no timed query pays the first run of its plans
        Extensions.prebuildArtifacts(spark, corpus)
        phase("artifacts built")
        val warm = new Passes(spark, untraced)
        val dumpFailed = warm.dump(entry, s"$work/dump")
        Files.writeString(Paths.get(s"$work/dump/oracle_sql.json"),
          Json.obj(entry.map(q => q.name -> Json.str(SparkEntry.oracleSql(q.name)))))
        warm.run(entry, 1)
        setupEndMs = System.currentTimeMillis()
        phase("untimed passes done")
        val (r, p) = passes.run(entry, 3)
        recs = r; passTimes = p
        attempted += 5 * entry.size
        (dumpFailed ++ warm.failed ++ passes.failed).foreach(failures += _)
        phase(s"passes done: $passTimes ${recs.map(r => r.name -> r.totalS)}")
        e2e = Seq(
          "latency_s" -> typicalLatency(recs),
          "pass_s" -> median(passTimes))

      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    extra :+= "jvm.peak_rss_mb" -> peakRssMb

    val layers = if (traced) Layers.of(trace, ingest, recs, passTimes, cores) ++ extra ++
      e2e.map { case (k, v) => s"traced.$k" -> v }
    else Nil
    if (traced) trace.write(s"$work/spans.jsonl")

    val result = Json.obj(Seq(
      "setup_end_ms" -> setupEndMs.toString,
      "attempted" -> attempted.toString,
      "failures" -> Json.arr(failures.result().distinct.map(Json.str)),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "samples" -> Json.obj(Seq(
        "latencies" -> ingest.map(_.tailLatency.size).getOrElse(recs.size).toString,
        "passes" -> ingest.map(_.backfill.size).getOrElse(passTimes.size).toString,
        "tail_batches" -> ingest.map(_.tail.size).getOrElse(0).toString)),
      "gen_lag_max_s" -> Json.num(ingest.map(_.lagMaxS).getOrElse(0.0))))
    Files.writeString(Paths.get(s"$work/result.json"), result)
    spark.stop()
  }
}
