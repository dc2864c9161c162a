package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every implemented operator family:
  *   Relational (SURVEY §2 C), Cdc (§2 A/B), StreamingOps batch twins (§2 D),
  *   Extensions (§2 E: dedup, similarity, text analysis, multimodal). */
object SparkEntry {
  /** The local session every graft main and spec runs in: `local[cores]`
    * with one shuffle partition per core, UTC, parquet nanos read as Long
    * (events.ts), no UI, and the graft planner extensions (on a cluster:
    * `spark.sql.extensions`). */
  def localSession(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Shape: C6 join + C11 agg — revenue per returnflag over lineitem⋈orders. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.load(spark, d, "lineitem")
    val o = Tables.load(spark, d, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_returnflag"), col("o_orderstatus"))
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2))
          * (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_returnflag", "o_orderstatus")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Cdc.queries ++ StreamingOps.queries ++
      Extensions.queries ++ Similarity.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracleSql ++ Cdc.oracleSql ++ StreamingOps.oracleSql ++
      Extensions.oracleSql ++ Similarity.oracleSql
}
