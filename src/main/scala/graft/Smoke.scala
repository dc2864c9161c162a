package graft
/** Dev smoke: runs SparkEntry.entry exactly as the driver would. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(4)
    val df = SparkEntry.entry(spark)
    println(s"entry rows=${df.count()}")
    df.show(10, truncate = false)
    spark.stop()
  }
}
