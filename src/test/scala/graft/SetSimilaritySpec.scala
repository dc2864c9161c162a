package graft

/** The shared shingle step's row guard and hash compatibility: a doc with
  * fewer than n tokens gives no row (instead of throwing on
  * `element_at(tk, 0)`), and a doc of exactly n tokens gives the one hash
  * the DuckDB twins compute, `md5` of the tokens joined by single spaces. */
class SetSimilaritySpec extends SparkSpecBase {

  /** The twins' `CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)`, in
    * plain Scala. */
  private def md5Prefix(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    (0 until 4).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
  }

  test("shingleSets: short docs give no row, an n-token doc gives tokenHash of its joined tokens") {
    import spark.implicits._
    for (n <- Seq(2, 3)) {
      val words = (1 to n).map(i => s"w$i")
      val docs = Seq(
        (1L, words.take(n - 1).mkString(" ")),
        (2L, words.mkString(" "))).toDF("doc_id", "text")
      val got = SetSimilarity.shingleSets(docs, n, "g", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got.keySet === Set(2L), s"n=$n")
      val joined = words.mkString(" ")
      val viaTokenHash = spark.range(1)
        .select(Extensions.tokenHash(org.apache.spark.sql.functions.lit(joined)))
        .head().getLong(0)
      assert(got(2L) === Seq(viaTokenHash), s"n=$n")
      assert(viaTokenHash === md5Prefix(joined), s"n=$n")
    }
  }
}
