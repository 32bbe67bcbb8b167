package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark plan it runs over the
 * parquet tables of an sf directory, and the DuckDB SQL that predicts
 * the same rows. Every query carries an oracle. */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

/** The one query registry. Each domain's modules declare their specs
 * once; `SparkEntry.queries` and `SparkEntry.oracleSql` are views of
 * [[all]]. */
object QueryRegistry {

  /** Every domain's specs under the name prefix its rows carry. A name
   * belongs to the domain with its longest matching prefix, so the
   * `g_wcc_` rows are WCC's, not the graph domain's. */
  lazy val domains: Seq[(String, Seq[QuerySpec])] = Seq(
    "r_" -> (RelationalQueries.specs ++ AdvancedQueries.specs ++ SqlSurfaceQueries.specs ++
      SqlFunctionQueries.specs ++ StorageQueries.specs),
    "p_" -> (PipelineQueries.specs ++ CorpusQueries.specs),
    "g_" -> (GraphQueries.specs ++ GraphWalkQueries.specs),
    "g_wcc_" -> WccQueries.specs,
    "s_" -> StreamQueries.specs)

  lazy val all: Map[String, QuerySpec] = build(domains.flatMap(_._2))

  /** Index specs by name; a name registered twice fails the build. */
  def build(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val repeated = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(repeated.isEmpty,
      s"query registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    specs.map(s => s.name -> s).toMap
  }
}
