package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.{BucketedReplica, LshIndex}

/** END-TO-END composition: the dedup index FOLLOWS the warehouse table.
  * Documents land in a BucketedReplica via CDC commits; the replica's
  * change feed (sources/ReplicaChangeSource) streams each committed
  * version; every micro-batch appends to the incremental LSH index
  * through the write-once OpLog. After any number of commits the index's
  * candidate pairs equal the one-shot banding rule over the replica's
  * LIVE rows — the production shape where the table is the source of
  * truth and derived indexes ride its change feed instead of re-scanning
  * the corpus per snapshot. */
class CdcLshFollowSpec extends SparkSpecBase {

  private val docSchema = StructType(Seq(
    StructField("op", StringType), StructField("tbl", StringType),
    StructField("pos", LongType), StructField("ts_ns", LongType),
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def commitDocs(rep: BucketedReplica, lo: Long, hi: Long,
                         pos0: Long): Unit =
    rep.commit(Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select(lit("INSERT").as("op"), lit("documents").as("tbl"),
        (col("doc_id") + pos0).as("pos"), (col("doc_id") + pos0).as("ts_ns"),
        col("doc_id"), col("text")))

  test("the LSH index rides the replica change feed; its pairs equal the " +
    "one-shot rule over the table's live rows") {
    val root = tmpDir("cdc_lsh") + "/docs"
    val rep = new BucketedReplica(root, pk = "doc_id", nBuckets = 4,
      schema = docSchema)
    commitDocs(rep, 0, 30, 1000)

    val idx = new LshIndex(tmpDir("cdc_lsh_idx") + "/idx")
    val q = spark.readStream
      .format("graft.sources.ReplicaChangeSource")
      .option("path", root)
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        idx.addBatch(df.filter(col("op") =!= "DELETE")
          .select(col("doc_id"), col("text")), id)
        ()
      }
      .start()
    try {
      q.processAllAvailable() // bootstrap: the stored snapshot
      commitDocs(rep, 30, 60, 100000)
      q.processAllAvailable() // diff: exactly the new rows
      commitDocs(rep, 60, 90, 200000)
      q.processAllAvailable()

      val live = rep.live(spark).select(col("doc_id"), col("text"))
      val bands = SetSimilarity.bandsFromSigs(SetSimilarity.minhashSigs(live), 2, 4)
      val want = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = idx.pairs(spark).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want,
        "feed-driven index diverged from the one-shot rule over live rows")
      assert(want.nonEmpty, "vacuous: no candidate pairs in the sample")
    } finally { q.stop(); () }
  }
}
