package graft

import graft.graph.EdgeOps
import graft.ops.{Dedup, Joins, Similarity, TextOps}
import graft.wcc.{DistributedWCC, IncrementalWCC, VertexData}
import org.apache.spark.graphx.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Single entry point of the library — everything a user of the
 * reference engine (jiahezhu0312/community-detection-flink) runs
 * today, re-expressed Spark-first, plus the training-data-pipeline
 * surface. Each method delegates to the module that owns the
 * implementation; see those for semantics and scale notes.
 *
 * {{{
 * val edges  = Graft.loadCsvEdges(spark, "hdfs://.../edges.csv")
 * val out    = Graft.wcc(Graft.toGraph(edges))          // batch DWCC
 * val labels = out.graph.vertices                       // (vid, VertexData)
 *
 * val stream = Graft.incrementalWcc(spark, edges)       // IDWCC replay
 *
 * val docs   = spark.read.parquet(".../documents.parquet")
 * val dups   = Graft.duplicateClusters(docs)            // MinHash-LSH + CC
 * }}}
 */
object Graft {

  // ---- graph sources (SURVEY §2.1) ---------------------------------

  /** Space-delimited edge-list CSV -> (src, dst) rows (the
   * reference's wire format). */
  def loadCsvEdges(spark: SparkSession, path: String): DataFrame =
    EdgeOps.loadCsvEdges(spark, path)

  /** Dedup + self-loop-drop + canonical (src < dst) direction. */
  def canonicalize(edges: DataFrame): DataFrame = EdgeOps.canonicalize(edges)

  /** Canonical edges -> GraphX graph (EdgePartition2D). Pass
   * `numPartitions` for iterative workloads on small-to-mid graphs —
   * superstep cost is task dispatch until per-partition work
   * dominates, so ~max(8, E/250k) partitions beats inheriting a wide
   * shuffle layout (PERF.md round-19 A/B). */
  def toGraph(canonicalEdges: DataFrame, numPartitions: Int = 0): Graph[Int, Int] =
    EdgeOps.toGraph(canonicalEdges, numPartitions)

  // ---- community detection (SURVEY §3) -----------------------------

  /** Batch DWCC: triangle-stats preprocess -> clustering-coefficient
   * seeded Pregel -> WCC hill-climbing refinement. */
  def wcc(graph: Graph[Int, Int]): DistributedWCC.Output =
    DistributedWCC.run(graph)

  /** The reference's bulk/stream split-and-replay driver:
   * (vid, cid) partition after draining the stream. */
  def incrementalWcc(spark: SparkSession, canonicalEdges: DataFrame,
      bulkToStreamRatio: Double = 0.8, microBatchCount: Int = 1): DataFrame =
    IncrementalWCC.testStream(spark, canonicalEdges, bulkToStreamRatio, microBatchCount)

  /** (vid, cid) rows from a WCC output graph. */
  def partitionRows(spark: SparkSession, graph: Graph[VertexData, Int]): DataFrame = {
    val rows = graph.vertices.map { case (id, vd) => (id, vd.cId) }
    spark.createDataFrame(rows).toDF("vid", "cid")
  }

  // ---- graph analytics beyond the reference ------------------------

  /** BFS hop distances from `source` (bounded Pregel). */
  def bfsHops(graph: Graph[Int, Int], source: Long, maxHops: Int = 30): DataFrame =
    graft.graph.GraphAlgs.bfsHopsDF(graph, source, maxHops)

  /** K-core decomposition (distributed H-index propagation). */
  def kcore(graph: Graph[Int, Int], maxIter: Int = 50): DataFrame =
    graft.graph.GraphAlgs.corenessDF(graph, maxIter)

  /** Per-edge neighborhood Jaccard (link-prediction feature). */
  def neighborJaccard(canonicalEdges: DataFrame): DataFrame =
    graft.graph.GraphAlgs.neighborJaccard(canonicalEdges,
      EdgeOps.symmetrize(canonicalEdges))

  // ---- dedup (north-star extensions) -------------------------------

  def dedupExact(docs: DataFrame): DataFrame = Dedup.exact(docs)
  def minhashSignatures(docs: DataFrame): DataFrame = Dedup.minhashSignatures(docs)
  def lshCandidatePairs(docs: DataFrame): DataFrame = Dedup.lshCandidatePairs(docs)
  def simhash(docs: DataFrame): DataFrame = Dedup.simhash(docs)

  /** Sketch-quality diagnostic: minhash Jaccard estimate vs exact
   * n-gram Jaccard on candidate pairs. The exploded shingle set is
   * cached and fed to both the signature and the exact-Jaccard
   * paths, then released once the estimate is materialized — so the
   * corpus really is shingled once, not once per consumer (the
   * memoized harness path in PipelineQueries does the same). */
  def minhashEstimate(docs: DataFrame): DataFrame = {
    val shingles =
      TextOps.shingleRows(docs, org.apache.spark.sql.functions.col("text"), 3)
        .cache()
    val sigs = Dedup.minhashSignaturesFromShingles(shingles)
    val pairs = Dedup.lshCandidatePairsFromBands(Dedup.lshBandsFromSignatures(sigs))
    val est = Dedup.minhashEstimate(sigs,
      Dedup.ngramJaccardFromShingles(shingles, pairs)).cache()
    est.count()
    shingles.unpersist(blocking = false)
    est
  }

  /** Near-dup cluster labels via the STAR-reduced bucket edges —
   * identical components to the pair clique (spec-pinned), m-1 edges
   * per LSH bucket instead of m(m-1)/2, so a hot boilerplate bucket
   * cannot detonate the clustering entrypoint (this facade is the
   * path the star reduction exists for; the pair LIST product stays
   * on [[Dedup.lshCandidatePairs]]).
   *
   * CACHE OWNERSHIP: the returned label frame is CACHED and the
   * caller owns it — `unpersist()` it when done, or repeated calls
   * in a long-lived session pin one label frame each (see
   * [[Dedup.clusters]]; the session-memoized PipelineQueries path
   * releases exactly this way). */
  def duplicateClusters(docs: DataFrame): DataFrame =
    Dedup.clusters(Dedup.lshClusterEdges(Dedup.lshBands(docs)))

  // ---- similarity search -------------------------------------------

  /** Near-duplicate pairs above a cosine threshold. APPROXIMATE by
   * default: banded-LSH candidate generation (band-key width derived
   * from the corpus count) followed by an exact cosine re-rank —
   * pairs above the threshold that collide on no band are missed,
   * so recall < 1 near the threshold. Pass `exact = true` for the
   * exhaustive all-pairs scan (recall 1, quadratic — small corpora
   * only). */
  def nearDupPairs(embeddings: DataFrame, threshold: Double,
      exact: Boolean = false): DataFrame =
    Similarity.nearDupPairs(embeddings, threshold, exact = exact)

  /** Recall@k of the LSH / IVF paths against brute-force truth.
   * Unbounded by default; pass `maxQueryId` at scale to bound the
   * brute-force ground-truth leg. */
  def annRecall(embeddings: DataFrame, k: Int = 5,
      maxQueryId: Long = Long.MaxValue): DataFrame =
    Similarity.annRecall(embeddings, k, maxQueryId)

  // ---- text / multimodal -------------------------------------------

  def textStats(docs: DataFrame): DataFrame = TextOps.textStats(docs)
  def langId(docs: DataFrame): DataFrame = TextOps.langId(docs)
  def tokenCounts(docs: DataFrame): DataFrame = TextOps.tokenCounts(docs)
  def fingerprints(docs: DataFrame): DataFrame = TextOps.fingerprints(docs)
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame =
    TextOps.tfidfTopTerms(docs, k)
  def tokenFamiliarity(docs: DataFrame): DataFrame = TextOps.tokenFamiliarity(docs)
  def contextChunks(docs: DataFrame, win: Int = 128, step: Int = 64): DataFrame =
    TextOps.contextChunks(docs, win, step)
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame =
    TextOps.redactPii(df, textCol)
  def topNgrams(docs: DataFrame, n: Int = 2, k: Int = 10): DataFrame =
    TextOps.topNgrams(docs, n, k)
  def sequencePacking(docs: DataFrame, budget: Int = 2048,
      shard: String = "source"): DataFrame =
    TextOps.sequencePacking(docs, budget, shard)
  def vocabCoverage(docs: DataFrame, k: Int = 100): DataFrame =
    TextOps.vocabCoverage(docs, k)
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    Similarity.quantizeInt8(embeddings)

  // ---- graph analytics (round 6-7 additions) -----------------------

  /** K-truss: canonical edges surviving iterative support-< k-2
   * peeling, with per-edge support (GraphAlgs.ktrussPeel). The
   * result rides a cached RDD; close `KTruss.scope` when done. */
  def ktruss(canonicalEdges: DataFrame, k: Int = 4): graft.graph.GraphAlgs.KTruss =
    graft.graph.GraphAlgs.ktrussPeel(canonicalEdges, k)

  /** Eigenvector centrality (shifted power iteration, max 1). */
  def eigenCentrality(graph: Graph[Int, Int], iters: Int = 20): DataFrame =
    graft.graph.GraphAlgs.eigenCentralityDF(graph, iters)

  /** Batched multi-source BFS reachability summary. */
  def multiSourceBfs(graph: Graph[Int, Int], sources: Array[Long],
      maxHops: Int = 10): DataFrame =
    graft.graph.GraphAlgs.multiSourceBfsDF(graph, sources, maxHops)

  // ---- deterministic integer fixpoints -----------------------------
  // Bit-identical across engines, partitionings, and runs (order-free
  // integer arithmetic / total-order tie-breaks) — for pipelines that
  // must regenerate identical score artifacts. Each builds, uses, and
  // releases its adjacency; hold adjacencyArrays yourself to amortize.

  private def detDF(spark: SparkSession, canonicalEdges: DataFrame,
      out: String)(f: org.apache.spark.rdd.RDD[(Long, Array[Long])] =>
        (org.apache.spark.rdd.RDD[(Long, Long)], graft.graph.Fixpoint.CacheScope)): DataFrame = {
    val adj = graft.graph.GraphAlgs.adjacencyArrays(canonicalEdges).persist()
    adj.count()
    val (r, scope) = f(adj)
    val df = spark.createDataFrame(r).toDF("vid", out).cache()
    df.count()
    scope.close()
    adj.unpersist(blocking = false)
    df
  }

  /** Deterministic fixed-point PageRank (integer micro-units). */
  def pagerankDeterministic(spark: SparkSession, canonicalEdges: DataFrame,
      rounds: Int = 10): DataFrame =
    detDF(spark, canonicalEdges, "rank")(
      graft.graph.GraphAlgs.pagerankDetRDD(_, rounds))

  /** Deterministic integer eigenvector centrality (argmax = 10^6). */
  def eigenCentralityDeterministic(spark: SparkSession, canonicalEdges: DataFrame,
      rounds: Int = 12): DataFrame =
    detDF(spark, canonicalEdges, "score")(
      graft.graph.GraphAlgs.eigenCentralityDetRDD(_, rounds))

  /** Deterministic label propagation (smallest-label tie-break). */
  def labelPropagationDeterministic(spark: SparkSession, canonicalEdges: DataFrame,
      rounds: Int = 4): DataFrame =
    detDF(spark, canonicalEdges, "label")(
      graft.graph.GraphAlgs.labelPropagationDetRDD(_, rounds))

  // ---- data mixing / selection -------------------------------------

  /** DSIR-style importance-resampling weights toward a target
   * source's unigram distribution; `docs` needs
   * (doc_id, source, text). */
  def dsirWeights(docs: DataFrame, targetSource: String): DataFrame =
    graft.queries.CorpusQueries.dsirWeightsOf(docs, targetSource)

  // ---- temporal joins ----------------------------------------------

  def asofJoin(left: DataFrame, lKey: String, lTime: String,
      right: DataFrame, rKey: String, rTime: String, rTie: String,
      payload: Seq[String]): DataFrame =
    Joins.asof(left, lKey, lTime, right, rKey, rTime, rTie, payload)

  /** Interval-union sweep: merge each user's overlapping
   * `span`-microsecond point intervals into islands and total the
   * covered time. `points` = (event_id, user_id, us). */
  def intervalUnion(points: DataFrame, span: Long): DataFrame =
    graft.queries.SqlSurfaceQueries.intervalUnionOf(points, span)

  /** Register the library's native SQL functions (dot_product,
   * hamming, intersect_count) on an existing session. */
  def registerSql(spark: SparkSession): Unit =
    org.apache.spark.sql.graft.GraftExpressions.registerSql(spark)
}
