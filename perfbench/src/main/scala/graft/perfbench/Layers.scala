package graft.perfbench

import Main.median

/** Per-layer metrics of a traced run, from the timings and StoreIO op diffs
  * the benchmark takes around each call and the listener's scope stats. Tail
  * figures are medians per tail micro-batch; query figures are medians per
  * query execution; pass figures are medians per pass. */
object Layers {
  def of(trace: Trace, ingest: Option[IngestResult], recs: Seq[QueryRec],
         passTimes: Seq[Double], cores: Int): Seq[(String, Double)] = {
    val ing = ingest.getOrElse(IngestResult(Nil, Nil, Nil, 0, Nil, 0, "", "", ""))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
    val tailStats = ing.tail.map(b => trace.stats(s"batch:${b.id}"))
    val backfillStats = ing.backfill.map(b => trace.stats(s"batch:${b.id}"))
    val storeOps = Seq("reads", "writes", "renames", "exists", "lists", "deletes")
      .map(k => s"StoreIO.$k" -> med(ing.tail.map(_.storeOps(k).toDouble)))
    def fileMetrics(file: String, layer: String) = Seq(
      s"$layer.job_s" -> med(tailStats.map(_.fileJobSeconds(file))),
      s"$layer.jobs" -> med(tailStats.map(_.fileJobs(file).toDouble)))

    val queryStats = recs.map(r => Seq(
      trace.stats(s"q${r.pass}:${r.name}:build"), trace.stats(s"q${r.pass}:${r.name}:exec")))
    val allQuery = queryStats.flatten
    val reads = recs.filter(r => r.layer == "BucketedReplica" || r.layer == "IncrementalAgg")
    val passes = passTimes.size.max(1)
    val layerExec = Seq("Relational", "Cdc", "StreamingOps", "Extensions").map { l =>
      s"$l.exec_s" -> med(recs.filter(_.layer == l).groupBy(_.pass).values.map(_.map(_.totalS).sum).toSeq)
    }
    val queryWall = recs.map(_.totalS).sum

    Seq(
      "CdcStream.batch_s" -> med(ing.tail.map(_.seconds)),
      "CdcStream.batches" -> ing.tail.size.toDouble,
      "CdcStream.files_per_batch" -> ing.tail.map(_.files.size).sum.toDouble / ing.tail.size.max(1),
    ) ++ storeOps ++
      fileMetrics("CdcStream.scala", "CdcStream") ++
      fileMetrics("BucketedReplica.scala", "BucketedReplica") ++
      Seq("BucketedReplica.bytes_written" ->
        (tailStats ++ backfillStats).map(_.fileBytes("BucketedReplica.scala").toDouble).sum) ++
      fileMetrics("IncrementalAgg.scala", "IncrementalAgg") ++
      Seq(
        "sources.records_read" -> med(backfillStats.map(_.inputRecords.toDouble)),
        "sources.input_bytes" -> med(backfillStats.map(_.inputBytes.toDouble)),
        "BucketedReplica.read_s" -> med(reads.filter(_.layer == "BucketedReplica").map(_.totalS)),
        "IncrementalAgg.read_s" -> med(reads.filter(_.layer == "IncrementalAgg").map(_.totalS)),
        "StoreIO.ops_per_read" ->
          (if (reads.isEmpty) 0.0 else reads.map(_.storeOps).sum.toDouble / reads.size),
        "query.build_s" -> med(recs.map(_.buildS)),
        "query.plan_s" -> med(queryStats.map(_.map(_.planMs).sum / 1e3)),
        "query.exec_s" -> med(recs.zip(queryStats).map { case (r, st) =>
          r.totalS - r.buildS - st(1).planMs / 1e3 }),
      ) ++ layerExec ++ Seq(
        "spark.jobs" -> med(queryStats.map(_.map(_.jobs).sum.toDouble)),
        "spark.stages" -> med(queryStats.map(_.map(_.stages).sum.toDouble)),
        "spark.tasks" -> med(queryStats.map(_.map(_.tasks).sum.toDouble)),
        "spark.batch_jobs" -> med(tailStats.map(_.jobs.toDouble)),
        "spark.batch_stages" -> med(tailStats.map(_.stages.toDouble)),
        "spark.batch_tasks" -> med(tailStats.map(_.tasks.toDouble)),
        "spark.task_busy_ratio" ->
          (if (queryWall <= 0) 0.0 else allQuery.map(_.runMs).sum / 1e3 / (queryWall * cores)),
        "spark.shuffle_bytes" -> allQuery.map(_.shuffleBytes).sum.toDouble / passes,
        "spark.spill_bytes" -> allQuery.map(_.spillBytes).sum.toDouble / passes,
        "spark.gc_s" -> allQuery.map(_.gcMs).sum / 1e3 / passes,
        "gen.lag_max_s" -> ing.lagMaxS,
      )
  }
}
