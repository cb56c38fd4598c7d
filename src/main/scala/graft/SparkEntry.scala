package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{KernelQueries, LlmQueries, Q, RelationalQueries, StreamQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SURVEY §2 inventory row with a query name is registered here; the
  * ones with DuckDB-expressible semantics also carry an oracle (the t2
  * correctness gate), the rest get the driver's rows-only check.
  */
object SparkEntry {

  private val registry: Seq[Q] = {
    val all = KernelQueries.all ++ RelationalQueries.all ++ StreamQueries.all ++ LlmQueries.all
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names would silently shrink Verify/Bench coverage: ${dups.mkString(", ")}")
    all
  }

  /** Flagship: TPC-H Q1 analog through the engine — filter → multi-key
    * groupBy → sum/avg/count → orderBy (SURVEY §7.2 step 1). Driver
    * smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.agg.Ql(graft.model.Tables.lineitem(spark, "/root/testdata/sf0.001"))
      .where(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .aggregate(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
      .result

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
