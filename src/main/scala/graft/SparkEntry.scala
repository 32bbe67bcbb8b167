package graft

import graft.queries.{QueryRegistry, WccQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Driver contract (see SURVEY.md §7 and the harness docs):
 *  - `entry`: flagship query, smoke-checked at sf0.001;
 *  - `queries`: every registered query, each `(spark, sfDir) =>
 *    DataFrame` over the parquet tables in sfDir;
 *  - `oracleSql`: the DuckDB SQL that predicts each query's rows.
 *
 * Both maps are views of the one [[graft.queries.QueryRegistry]].
 * Column names are aliased identically on both sides — the driver's
 * comparison sorts columns by name before hashing.
 */
object SparkEntry {

  /** Flagship: full batch DWCC community detection on the
   * co-purchase graph (SURVEY.md §3.1). */
  def entry(spark: SparkSession): DataFrame =
    WccQueries.wccPartition(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.all.map { case (name, spec) => name -> spec.run }

  def oracleSql: Map[String, String] =
    QueryRegistry.all.map { case (name, spec) => name -> spec.oracle }
}
