package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables
import graft.operators.ChannelStats
import graft.queries.{LlmQueries, MultimodalQueries, QueryDef, ReferenceQueries, RelationalQueries, SensicalQueries, UdbfQueries, WebhookQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private[graft] val defs: Seq[QueryDef] =
    RelationalQueries.all ++ ReferenceQueries.all ++ LlmQueries.all ++
      UdbfQueries.all ++ SensicalQueries.all ++ MultimodalQueries.all ++
      WebhookQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's spine: per-channel round(mean/min/max, 3)
    * (SURVEY.md §7.3, udbf_file_analysis.py:24-91). */
  def entry(spark: SparkSession): DataFrame =
    ChannelStats(
      Tables.lineitem(spark, "/root/testdata/sf0.001"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every registered query has one. */
  def oracleSql: Map[String, String] =
    defs.map(q => q.name -> q.oracle).toMap
}
