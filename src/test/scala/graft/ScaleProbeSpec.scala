package graft

import org.apache.spark.sql.functions._

/** The scale probe's synthetic N× corpora carry the load-bearing claims of
  * the SCALE.md measurement (replicas statistically independent, per-replica
  * structure preserved) — this spec pins them, so the measured exponents
  * mean what the document says they mean. */
class ScaleProbeSpec extends SparkSpecBase {

  test("document replicas have disjoint vocabularies and scale-invariant samples") {
    import spark.implicits._
    val base = Seq(
      (0L, "alpha beta gamma", "en", "web", 16L),
      (1L, "beta gamma delta", "en", "web", 16L),
      (10L, "alpha alpha beta", "de", "book", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val x3 = ScaleProbe.replicateDocs(base, 3)
    assert(x3.count() === 9)
    // vocabularies are disjoint across replicas: no token appears under two
    // different replica offsets → candidate pairs never cross replicas
    val byReplica = x3
      .select((col("doc_id") / 10000000L).cast("long").as("rep"),
        explode(split(col("text"), " ")).as("t"))
      .distinct()
    val crossRep = byReplica.groupBy(col("t"))
      .agg(countDistinct(col("rep")).as("nrep"))
      .filter(col("nrep") > 1)
    assert(crossRep.count() === 0)
    // the doc_id%k samples the queries use keep the same per-replica hit set
    Seq(2, 5, 10).foreach { k =>
      val hits = x3.filter(col("doc_id") % k === 0)
        .select(pmod(col("doc_id"), lit(10000000L)).as("base_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      val want = base.filter(col("doc_id") % k === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(hits === want, s"doc_id % $k sample drifted across replicas")
    }
    // n_chars tracks the suffixed text, and replica 0 is the original
    assert(x3.filter(col("n_chars") =!= length(col("text"))).count() === 0)
    assert(x3.filter(col("doc_id") < 10000000L).select("doc_id", "text")
      .collect().toSet === base.select("doc_id", "text").collect().toSet)
  }

  test("embedding replicas preserve within-replica cosine exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0L until 6L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() - 0.5f), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val x3 = ScaleProbe.replicateEmb(base, 3)
    assert(x3.count() === 18)
    def cosines(repOff: Long): Map[(Long, Long), Double] = {
      val vecs = x3.filter(col("vec_id") >= repOff &&
          col("vec_id") < repOff + 10000000L)
        .as[(Long, Array[Float], Int)].collect()
        .map { case (id, e, _) => (id - repOff) -> e }.toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        dot / (na * nb)
      }
      (for { i <- 0L until 6L; j <- (i + 1) until 6L }
        yield (i, j) -> cos(vecs(i), vecs(j))).toMap
    }
    val c0 = cosines(0L)
    // rotation is an isometry: every within-replica pairwise cosine is
    // bit-identical to replica 0's (same floats, permuted positions)
    Seq(1L, 2L).foreach { r =>
      val cr = cosines(r * 10000000L)
      c0.foreach { case (k, v) => assert(math.abs(cr(k) - v) < 1e-12) }
    }
    // and replica 0 is stored verbatim
    val orig = base.as[(Long, Array[Float], Int)].collect()
      .map(t => t._1 -> t._2.toSeq).toMap
    x3.filter(col("vec_id") < 10000000L).as[(Long, Array[Float], Int)]
      .collect().foreach { case (id, e, _) => assert(e.toSeq === orig(id)) }
  }

  test("the N× corpus cache is keyed by base corpus, not by scale alone") {
    import spark.implicits._
    def corpus(nDocs: Int): String = {
      val d = tmpDir("scale_base")
      (0 until nDocs).map(i => (i.toLong, s"w$i x", "en", "web", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$d/documents.parquet")
      Seq((0L, Array.fill(64)(0.5f), 0)).toDF("vec_id", "embedding", "label")
        .write.parquet(s"$d/embeddings.parquet")
      d
    }
    val (a, b) = (corpus(2), corpus(3))
    val (ra, rb) = (ScaleProbe.synthDir(spark, a, 2), ScaleProbe.synthDir(spark, b, 2))
    try {
      assert(ra !== rb, "two base corpora at one scale shared one cache dir")
      assert(Tables.load(spark, ra, "documents").count() === 4)
      assert(Tables.load(spark, rb, "documents").count() === 6)
      assert(ScaleProbe.synthDir(spark, a, 2) === ra)
    } finally // the cache dirs are per base corpus: drop both with their bases
      (Seq(ra, rb).map(new java.io.File(_).getParentFile) ++
        Seq(a, b).map(new java.io.File(_)))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }
}
