package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CoreQueries, LlmQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The real point-in-time join, not a fig leaf.
    *
    * Points at the NATIVE single-pass as-of operator (plans/AsOfJoin):
    * the round-8 100× chained probe measured it 6.3× faster than the
    * compositional window formulation at the second decade (1.71 s vs
    * 10.76 s, ratio/decade 2.3 vs 7.8 — see STATUS.md "100× chained
    * probe, round-8 refresh"), so the custom operator IS the 100 TB
    * plan. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries("pit_native_asof")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * LLM-data-pipeline extensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ LlmQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ LlmQueries.oracleSql
}
