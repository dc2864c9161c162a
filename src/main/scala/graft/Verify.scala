package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dumps each query result under outDir. A query that throws must not
    * silently vanish from the correctness record (r5: 62 queries disappeared
    * with no err string anywhere the driver surfaces). Every failure leaves a
    * <name>._FAILED marker file beside the dumps plus one aggregated
    * verify_failures.json, so absent-vs-errored is distinguishable after the
    * fact. Returns the failed (name, message) pairs. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame])
      : Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        failed += name -> msg
        try Files.writeString(Paths.get(s"$outDir/$name._FAILED"), msg + "\n")
        catch { case _: Throwable => () }
      }
      // per-query persists (e04 family) must not accumulate across the run
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      failed.map { case (n, m) => s"${q(n)}: ${q(m)}" }.mkString("{", ",", "}"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.map(_._1).mkString(", "))
    failed.toSeq
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name prefixes (dev iteration only;
    // the driver always runs the full set)
    val only: String => Boolean = if (args.length > 2) {
      val ps = args(2).split(",").toSeq; n => ps.exists(n.startsWith)
    } else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkEntry.localSession(cpus)
    run(spark, sfDir, outDir, SparkEntry.queries.filter(kv => only(kv._1)))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
