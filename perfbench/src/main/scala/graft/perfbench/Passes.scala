package graft.perfbench

import graft.streaming.{BucketedReplica, CdcStream, IncrementalAgg, StoreIO}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One analyst query of a pass: `layer` names the module whose code builds
  * it (Relational, Cdc, StreamingOps, Extensions, BucketedReplica,
  * IncrementalAgg). */
final case class Query(name: String, layer: String, build: () => DataFrame)

/** One timed execution of a query. */
final case class QueryRec(pass: Int, name: String, layer: String,
                          buildS: Double, totalS: Double, storeOps: Long)

/** Analyst passes: every query of the set is built and executed in order,
  * its result forced through the `noop` sink (the full physical plan runs,
  * rows are discarded). Caches are cleared after each query, so every
  * execution computes. */
final class Passes(spark: SparkSession, trace: Trace) {
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def runOne(pass: Int, q: Query): QueryRec = {
    val ops0 = StoreIO.Stats.snapshot()
    val t0 = System.nanoTime()
    val df = trace.span("query.build", scope = s"q$pass:${q.name}:build")(q.build())
    val t1 = System.nanoTime()
    trace.span(s"${q.layer}.exec", scope = s"q$pass:${q.name}:exec")(materialize(df))
    val t2 = System.nanoTime()
    val ops = StoreIO.Stats.diff(StoreIO.Stats.snapshot(), ops0).values.sum
    spark.catalog.clearCache()
    QueryRec(pass, q.name, q.layer, (t1 - t0) / 1e9, (t2 - t0) / 1e9, ops)
  }

  /** Names of queries that threw in `run`. */
  val failed = scala.collection.mutable.LinkedHashSet.empty[String]

  /** `n` full passes; returns every execution and each pass's wall time. A
    * query that throws is recorded in `failed` and left out of the timings. */
  def run(queries: Seq[Query], n: Int): (Seq[QueryRec], Seq[Double]) = {
    val recs = Seq.newBuilder[QueryRec]
    val passes = Seq.newBuilder[Double]
    for (p <- 0 until n) {
      val ps = System.nanoTime()
      trace.span("pass")(queries.foreach { q =>
        try recs += runOne(p, q)
        catch { case e: Exception =>
          failed += q.name
          spark.catalog.clearCache()
          System.err.println(s"query ${q.name} failed: ${e.getClass.getName}: ${e.getMessage}")
        }
      })
      passes += (System.nanoTime() - ps) / 1e9
    }
    (recs.result(), passes.result())
  }

  /** Writes each query's result as parquet under `dir/<name>` (the layout
    * tools/check.py compares against the DuckDB oracle). Returns the names
    * of queries that threw. */
  def dump(queries: Seq[Query], dir: String): Seq[String] =
    queries.flatMap { q =>
      val r = try {
        q.build().coalesce(1).write.mode("overwrite").parquet(s"$dir/${q.name}"); None
      } catch { case e: Exception =>
        System.err.println(s"query ${q.name} failed: ${e.getClass.getName}: ${e.getMessage}")
        Some(q.name)
      }
      spark.catalog.clearCache()
      r
    }
}

object Passes {
  /** The reporting reads over a CDC replica root: a consistent cut across
    * tables, the head live view, time travel to the previous version, the
    * change feed between the two, and each table's aggregate view. */
  def replicaReads(spark: SparkSession, replicaRoot: String, aggRoot: String,
                   tables: Seq[String]): Seq[Query] =
    tables.flatMap { t =>
      def rep = new BucketedReplica(s"$replicaRoot/$t")
      Seq(
        Query(s"consistent_live_$t", "BucketedReplica", () => {
          val (_, vers) = CdcStream.consistentCutVersions(replicaRoot, tables)
          CdcStream.consistentLiveFor(spark, replicaRoot, t, vers)
        }),
        Query(s"live_$t", "BucketedReplica", () => rep.live(spark)),
        Query(s"read_at_prev_$t", "BucketedReplica", () => {
          val r = rep
          r.readAt(spark, r.currentVersion.get - 1)
        }),
        Query(s"change_feed_$t", "BucketedReplica", () => {
          val r = rep
          val v = r.currentVersion.get
          r.changeFeed(spark, v - 1, v)
        }),
        Query(s"agg_view_$t", "IncrementalAgg",
          () => new IncrementalAgg(rep, s"$aggRoot/$t").read(spark)))
    }
}
