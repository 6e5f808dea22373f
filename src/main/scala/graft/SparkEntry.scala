package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator key from SURVEY.md §2 registers here via
  * its category module ([[operators]], [[graft.functions]],
  * [[graft.plans]], [[graft.streaming]], [[graft.llm]]); oracle SQL is
  * the DuckDB-dialect equivalent the driver hash-matches against.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2): revenue by returnflag/linestatus
    * for shipments in a date range — scan → pushdown filter → partial+
    * final hash agg → sort. Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_discount").between(0.01, 0.09))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        T.money(sum(T.dec(col("l_quantity")))).as("sum_qty"),
        T.money(sum(T.dec(col("l_extendedprice")) * (lit(1) - T.dec(col("l_discount")))))
          .as("revenue"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  private[graft] val modules: Seq[(Map[String, (SparkSession, String) => DataFrame],
                                   Map[String, String])] = Seq(
    (ScanOps.queries, ScanOps.oracle),
    (FilterOps.queries, FilterOps.oracle),
    (AggOps.queries, AggOps.oracle),
    (SortOps.queries, SortOps.oracle),
    (SubqueryOps.queries, SubqueryOps.oracle),
    (JoinOps.queries, JoinOps.oracle),
    (BloomJoin.queries, BloomJoin.oracle),
    (RangeBin.queries, RangeBin.oracle),
    (TimeSeries.queries, TimeSeries.oracle),
    (ZOrder.queries, ZOrder.oracle),
    (WindowOps.queries, WindowOps.oracle),
    (SetOps.queries, SetOps.oracle),
    (graft.functions.FnOps.queries, graft.functions.FnOps.oracle),
    (graft.functions.UdfOps.queries, graft.functions.UdfOps.oracle),
    (DomainOps.queries, DomainOps.oracle),
    (graft.plans.CubeOps.queries, graft.plans.CubeOps.oracle),
    (graft.streaming.StreamOps.queries, graft.streaming.StreamOps.oracle),
    (graft.llm.LlmDedup.queries, graft.llm.LlmDedup.oracle),
    (graft.llm.CorpusPipeline.queries, graft.llm.CorpusPipeline.oracle),
    (graft.llm.LlmText.queries, graft.llm.LlmText.oracle),
    (graft.llm.LlmGraph.queries, graft.llm.LlmGraph.oracle),
    (graft.llm.LlmVector.queries, graft.llm.LlmVector.oracle),
    (graft.llm.Multimodal.queries, graft.llm.Multimodal.oracle)
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.map(_._2).reduce(_ ++ _)
}
