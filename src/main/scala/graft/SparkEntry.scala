package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory (one named entry per SURVEY.md §2
  * row); `oracleSql` carries the DuckDB-equivalent SQL for the
  * hash-compared subset. Catalogs live in CoreQueries / RelationalQueries /
  * EventQueries (+ extension catalogs as they land).
  */
object SparkEntry {

  private def catalogs: Seq[Q] =
    CoreQueries.all ++ RelationalQueries.all ++ EventQueries.all ++
      ExtensionQueries.all ++ SourceQueries.all

  /** Flagship interactive session on sf0.001 (SURVEY.md §7.2), driven
    * through the View layer exactly as a UI would: open lineitem → brush
    * child view (returnflag='R' ∧ quantity>25) → NextK page sketch under
    * (l_shipdate, l_orderkey), memoized under the view's job group.
    * Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val session = new ViewSession(spark)
    val root = session.open("lineitem", Tables.open(spark, sfDir, "lineitem"))
    val brushed = session.child(root, "brush") { df =>
      Filters.equality(df, "l_returnflag", "R").filter(col("l_quantity") > 25)
    }
    session.sketch(brushed, "nextk:l_shipdate,l_orderkey:20") { df =>
      NextK.page(df, Seq(SortKey("l_shipdate"), SortKey("l_orderkey")), None, 20)
    }
  }

  /** The local session every main runs on: `local[cpus]` with as many
    * shuffle partitions, UTC, AQE on, nanosecond parquet timestamps read
    * as longs (`events.ts`), no UI.
    */
  private[graft] def localSession(cpus: String, logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    catalogs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
