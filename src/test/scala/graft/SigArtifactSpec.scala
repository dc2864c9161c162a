package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r9 extension of the label-artifact pattern to the candidate-
  * generation prefix: the MinHash signature table, the LSH candidate
  * pairs, and the sampled Jaccard ground truth are write-once,
  * content-keyed corpus artifacts probed by the ten audit/calibration
  * consumers (e43/e45/e50/e56/e57/e58/e63/e69/e89/e112 + e90). Like
  * LabelArtifactSpec, this pins the two invariants a derived-table
  * cache rests on: materialized rows equal the from-scratch
  * computation, and re-reads are bare scans, not recomputes. */
class SigArtifactSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def assertBareScan(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
      s"$what re-read must be a parquet scan, got:\n${plan.take(500)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashAggregate"),
      s"$what re-read recomputed the prefix instead of reading the store")
  }

  test("signature artifact equals the from-scratch sig table; re-read is a scan") {
    val fresh = rows(SetSimilarity.minhashSigs(
      Tables.load(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))))
    assert(rows(Extensions.minhashSigsArtifact(spark, sfDir)) === fresh,
      "materialized signatures diverged from minhashSigs")
    assertBareScan(Extensions.minhashSigsArtifact(spark, sfDir), "sig artifact")
  }

  test("candidate-pair artifact equals the from-scratch banding self-join") {
    val bands = SetSimilarity.minhashBands(
      Tables.load(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")))
    val fresh = rows(bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct())
    assert(rows(Extensions.lshCandidates(spark, sfDir)) === fresh,
      "materialized candidate pairs diverged from the banding self-join")
    assertBareScan(Extensions.lshCandidates(spark, sfDir), "pairs artifact")
  }

  test("truth-pair artifact equals the from-scratch quadratic audit") {
    val sets = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tk"))
    val fresh = rows(sets.select(col("doc_id").as("d1"), col("tk").as("tk1"))
      .join(sets.select(col("doc_id").as("d2"), col("tk").as("tk2")),
        col("d1") < col("d2"))
      .withColumn("nc", size(array_intersect(col("tk1"), col("tk2"))))
      .filter(col("nc").cast("double")
        / (size(col("tk1")) + size(col("tk2")) - col("nc")) >= 0.1)
      .select("d1", "d2"))
    assert(rows(Extensions.sampledTruthPairs(spark, sfDir)) === fresh,
      "materialized truth pairs diverged from the dense Jaccard audit")
    assertBareScan(Extensions.sampledTruthPairs(spark, sfDir), "truth artifact")
  }
}
