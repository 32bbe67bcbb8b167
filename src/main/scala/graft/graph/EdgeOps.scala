package graft.graph

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Edge-list sources and relational graph operators.
 *
 * Mirrors the reference's CSV/graph-construction surface
 * (`CSVGraph.scala:16-45` in the reference repo): space-delimited
 * `(src, dst)` rows, self-loops dropped, edges symmetrized (both
 * directions emitted) and deduplicated, vertex set induced from edge
 * endpoints.
 *
 * Scale notes:
 *  - The *storage* convention here differs deliberately from the
 *    reference: GraphX graphs keep each undirected edge ONCE in
 *    canonical orientation (src < dst) and every per-vertex
 *    aggregation sends to both endpoints (`aggregateMessages` with
 *    sendToSrc+sendToDst). That is semantically identical to the
 *    reference's doubled-edge convention (`CSVGraph.scala:32-40`)
 *    but halves shuffle volume and memory — the difference that
 *    matters at 100 TB. The relational `symmetrize` operator below
 *    still produces the doubled form because that IS the operator's
 *    observable output (SURVEY.md §2.1 S2/S3).
 *  - All DataFrame lineage stays declarative so Catalyst pushes
 *    filters/column pruning into the parquet scan.
 */
object EdgeOps {

  /** S1: CSV edge-list scan, space-delimited, CRLF tolerated
   * (reference fixture has \r\n endings — FIXTURES.md §1). */
  def loadCsvEdges(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("src LONG, dst LONG")
      .option("sep", " ")
      .option("ignoreTrailingWhiteSpace", "true")
      .csv(path)

  /** S1 variant: JSON-lines edge source (one {"src":..,"dst":..}
   * object per line — the interchange format pipelines that can't
   * emit parquet typically produce). The schema is DECLARED, never
   * inferred: schema inference reads the whole input once before
   * the real scan — a full extra pass at 100 TB — and can silently
   * widen types on dirty data. */
  def loadJsonlEdges(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("src LONG, dst LONG")
      .json(path)

  /** S2+S3: drop self-loops, emit both directions, dedup.
   * Output is the doubled directed edge set (reference
   * `CSVGraph.scala:32-40`). */
  def symmetrize(edges: DataFrame): DataFrame = {
    val e = edges.where(col("src") =!= col("dst"))
    e.select(col("src"), col("dst"))
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Canonical single-direction undirected edge set: src < dst, no
   * self-loops, distinct. Internal storage form for GraphX. */
  def canonicalize(edges: DataFrame): DataFrame =
    edges
      .where(col("src") =!= col("dst"))
      .select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()

  /**
   * The canonical derived graph over the harness tables: parts
   * co-occurring in the same order ("co-purchase"). Deterministic,
   * SQL-expressible (so the DuckDB oracle can build the identical
   * edge set), triangle-rich, and scales linearly with lineitem.
   *
   * Self-join on l_orderkey; average order has a handful of lines so
   * the join fan-out is bounded; at cluster scale this is a shuffle
   * join on l_orderkey followed by map-side pair expansion — no skew
   * because order size is bounded.
   */
  def coPurchaseEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val a = li.as("a")
    val b = li.as("b")
    a.join(b, col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
  }

  /** Weighted co-purchase edges: (src, dst, w) with w = number of
   * orders the two parts co-occur in. Same self-join shuffle shape
   * as [[coPurchaseEdges]]; the groupBy replaces the distinct (both
   * are one hash aggregation on (src, dst)). The `w >= minW` filter
   * yields the co-purchase "backbone" — repeated co-occurrence — a
   * sparser graph whose component structure is non-trivial. */
  def coPurchaseEdgesWeighted(spark: SparkSession, sfDir: String,
      minW: Int = 1): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    // Pair generation via ONE shuffle (group the order's parts, then
    // explode the per-order cross product a < b map-side) instead of
    // the orderkey self-join, which shuffles the lineitem table
    // twice and pays join machinery for the same k^2-per-order
    // output. Result identical: pair counts over lineitem pairs.
    li.groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_partkey")).as("parts"))
      .select(explode(col("parts")).as("a"), col("parts"))
      .select(col("a"), explode(col("parts")).as("b"))
      .where(col("a") < col("b"))
      .groupBy(col("a").as("src"), col("b").as("dst"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= minW)
  }

  /** Build a GraphX graph with Double edge attributes from a
   * (src, dst, len) DataFrame (canonical orientation; undirected
   * semantics come from both-direction messaging, as everywhere). */
  def toWeightedGraph(edgesDF: DataFrame, lenCol: String = "len",
      numPartitions: Int = 0): Graph[Int, Double] = {
    val edges: RDD[Edge[Double]] = edgesDF
      .select(col("src").cast("long"), col("dst").cast("long"),
        col(lenCol).cast("double"))
      .rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    val g = Graph.fromEdges(edges, defaultValue = 0)
    val p = if (numPartitions > 0) numPartitions else edges.getNumPartitions
    g.partitionBy(PartitionStrategy.EdgePartition2D, p)
  }

  /** G3: per-vertex degree of the undirected graph, from the doubled
   * edge set (degree = out-degree per source). */
  def degrees(symmetrized: DataFrame): DataFrame =
    symmetrized.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("degree"))

  /** A2/G2: adjacency list per vertex as a sorted comma-joined string
   * (string form keeps the DuckDB-oracle comparison total-ordered and
   * type-stable). */
  def adjacencyStr(symmetrized: DataFrame): DataFrame =
    symmetrized.groupBy(col("src").as("vid"))
      .agg(array_join(array_sort(collect_list(col("dst"))), ",").as("adj"))

  /** Build a GraphX graph from a canonical (src<dst, distinct) edge
   * DataFrame. Edge attr = 1 (placeholder like the reference's
   * NullValue). EdgePartition2D bounds per-partition vertex
   * replication at sqrt(P) — the partition strategy that survives a
   * 1000-executor scale-up. */
  def toGraph(canonicalEdges: DataFrame, numPartitions: Int = 0): Graph[Int, Int] = {
    val edges: RDD[Edge[Int]] = canonicalEdges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    // GraphX default storage level throughout the library: graph
    // operators re-persist the RDDs they are handed and refuse to
    // change an already-set level, so mixing levels breaks chains.
    val g = Graph.fromEdges(edges, defaultValue = 0)
    val p = if (numPartitions > 0) numPartitions else edges.getNumPartitions
    g.partitionBy(PartitionStrategy.EdgePartition2D, p)
  }
}
