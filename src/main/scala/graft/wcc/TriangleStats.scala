package graft.wcc

import graft.graph.Fixpoint
import org.apache.spark.HashPartitioner
import org.apache.spark.graphx._
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/**
 * Triangle statistics + preprocessing prune (G1/G2/G3/P4 in
 * SURVEY.md §2).
 *
 * Computes, for every vertex of an undirected graph (stored with
 * canonical single-direction edges):
 *   - t  = number of triangles through the vertex,
 *   - vt = number of neighbors sharing >=1 triangle with it,
 * and prunes the graph to its triangle-closing core: vertices with
 * t > 0, edges closing >=1 triangle.
 *
 * Semantics contract: the reference's 4-superstep degree-ordered
 * Pregel (`CountTriangle.scala:17-117`) followed by the subgraph
 * prune and the vt := degree/2 assignment
 * (`DistributedWCC.scala:88-130`). Both compute per-vertex triangle
 * counts via adjacency-list intersection.
 *
 * Execution shape: one support kernel on [[RefineState]]'s columnar
 * vertex blocks, under the input's vertex `HashPartitioner`, with one
 * label on every vertex ([[RefineState.sameCommonCounts]]):
 *  - every edge goes as a slot to the partitions of both endpoints,
 *    which build the sorted adjacency;
 *  - each vertex's sorted adjacency goes once to every other partition
 *    holding it as a ghost;
 *  - one stage intersects the two ends' adjacency of every slot with
 *    [[graft.graph.SortedIntersect]], which gives the edge's support,
 *    and sums the supports into (t, vt).
 * Hub-safe without orienting the edges: the intersection gallops on
 * skewed pairs, so an edge costs O(min · log max) and the whole count
 * stays within the Σ min(d_u, d_v) bound up to the log factor, and a
 * hub's adjacency travels at most once per partition. [[run]] reads
 * both surfaces off the blocks and materializes them in the same job.
 */
object TriangleStats {

  final case class Result(
      /** pruned triangle-core graph; vertex attr has t, vt filled,
       * cId = own id; edge attr = common-neighbor count (>0) */
      pruned: Graph[VertexData, Int],
      /** (vId, t, vt) for EVERY vertex of the input graph, including
       * non-triangle ones (t=0) — the reference's
       * TriangleCountResult dump surface */
      fullStats: VertexRDD[(Int, Int)]) {
    /** the RDDs these surfaces hold cached */
    private[wcc] def cached: Seq[RDD[_]] = WccUtil.cached(pruned) :+ fullStats
  }

  /** One partition of the kernel's output: its vertices (ascending)
   * and, in CSR form (see [[Adjacency]]), each vertex's neighbors
   * (ascending) with the support of the edge to each; per vertex, t is
   * half its summed supports and vt its count of edges with support
   * > 0. */
  private final class Supports(val ids: Array[Long], val offs: Array[Int],
      val nbrs: Array[Long], val support: Array[Int]) extends Serializable {
    val t = new Array[Int](ids.length)
    val vt = new Array[Int](ids.length)
    locally {
      var i = 0
      while (i < ids.length) {
        var twoT = 0; var j = offs(i)
        while (j < offs(i + 1)) {
          twoT += support(j)
          if (support(j) > 0) vt(i) += 1
          j += 1
        }
        t(i) = twoT / 2
        i += 1
      }
    }

    /** `f` on every edge once, at its lower endpoint */
    def edges[T](f: (Long, Long, Int) => T): Iterator[T] =
      Iterator.range(0, ids.length).flatMap { i =>
        Iterator.range(offs(i), offs(i + 1)).filter(nbrs(_) > ids(i))
          .map(j => f(ids(i), nbrs(j), support(j)))
      }
  }

  /** The support kernel over `graph` (lazy): the blocks of the input's
   * vertices, each edge's support on both of its slots. */
  private def supports(graph: Graph[_, _]): RDD[(Int, Supports)] = {
    val part = new HashPartitioner(graph.vertices.getNumPartitions)
    val verts = graph.vertices.mapPartitions(_.map { case (id, _) =>
      (id, VertexData(id, 0, 0, 0L))
    }, preservesPartitioning = true)
    val blocks = RefineState.refineBlocks(verts,
      RefineState.pairSlots(graph.edges.map(e => (e.srcId, e.dstId)), part), part)
    RefineState.sameCommonCounts(blocks, part) { (b, support) =>
      new Supports(b.adj.ids, b.adj.offs, b.adj.nbrs, support)
    }
  }

  /** Per-edge triangle support, keyed by canonical (min, max)
   * endpoint ids: the full common-neighbor count of every edge,
   * zero-support edges included — a view of the support kernel. */
  private[wcc] def edgeSupport[V: scala.reflect.ClassTag](
      graph: Graph[V, _]): RDD[((Long, Long), Int)] =
    supports(graph).flatMap(_._2.edges((s, d, c) => ((s, d), c)))

  def run(graph: Graph[Int, Int]): Result =
    Fixpoint.returning(result(supports(graph), _))(_.cached)

  /** Triangle stats of the id-restricted subgraph (both endpoints <
   * `split`) DERIVED from a precomputed FULL symmetric adjacency
   * (vid, sorted nbrs) instead of a fresh adjacency exchange:
   * the subgraph's neighbor lists are order-preserving filters of
   * the full lists, so per-edge supports come straight from the
   * native merge-scan intersection over the filtered arrays —
   * value-identical to run() on the restricted graph (spec-pinned).
   * Lets the IDWCC replay harness reuse a session's memoized
   * adjacency for its bulk-prepare phase instead of re-exchanging
   * the bulk adjacency from scratch. */
  def restrictedResult(adj: org.apache.spark.sql.DataFrame,
      canonical: org.apache.spark.sql.DataFrame, splitId: Double): Result = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.GraftExpressions.intersectCount
    // a vertex of the restricted graph = a vertex below the split
    // with >= 1 neighbor below the split (Graph.fromEdges induces
    // the vertex set from the surviving edges' endpoints)
    val bulkAdj = adj
      .where(col("vid") < splitId)
      .select(col("vid"), filter(col("nbrs"), n => n < splitId).as("nbrs"))
      .where(size(col("nbrs")) > 0)
    val sup = canonical.where(col("src") < splitId && col("dst") < splitId)
      .join(bulkAdj.select(col("vid").as("src"), col("nbrs").as("na")), "src")
      .join(bulkAdj.select(col("vid").as("dst"), col("nbrs").as("nb")), "dst")
      .select(col("src").cast("long"), col("dst").cast("long"),
        intersectCount(col("na"), col("nb")).cast("int").as("cnt"))
    val verts = bulkAdj.select(col("vid").cast("long")).rdd.map(_.getLong(0))
    val part = new HashPartitioner(verts.getNumPartitions)
    val slots = sup.rdd.flatMap { r =>
      val (s, d, c) = (r.getLong(0), r.getLong(1), r.getInt(2))
      Iterator((s, (d, c)), (d, (s, c)))
    }.partitionBy(part)
    val blocks = verts.map((_, ())).partitionBy(part).zipPartitions(slots,
      preservesPartitioning = true) { (vIt, sIt) =>
      Iterator((org.apache.spark.TaskContext.getPartitionId(),
        supportsOf(vIt.map(_._1).toArray, sIt.toArray)))
    }
    Fixpoint.returning(result(blocks, _))(_.cached)
  }

  /** One partition's [[Supports]] from its vertex ids and its slots
   * (self, (neighbor, support)). */
  private def supportsOf(vs: Array[Long], slots: Array[(Long, (Long, Int))]): Supports = {
    java.util.Arrays.sort(vs)
    val sorted = slots.sortBy(s => (s._1, s._2._1))
    val offs = new Array[Int](vs.length + 1)
    sorted.foreach { s =>
      val i = java.util.Arrays.binarySearch(vs, s._1)
      require(i >= 0, s"edge endpoint ${s._1} is not a vertex of its partition")
      offs(i + 1) += 1
    }
    var i = 0
    while (i < vs.length) { offs(i + 1) += offs(i); i += 1 }
    new Supports(vs, offs, sorted.map(_._2._1), sorted.map(_._2._2))
  }

  /** The shared tail of [[run]] and [[restrictedResult]]: both surfaces
   * read off the support blocks and materialized — the pruned graph's
   * vertices and edges and the full stats — in ONE job, after which
   * the blocks are released; only the surfaces stay in `scope`. They
   * keep the blocks' vertex partitioner. An edge with support > 0
   * implies both endpoints have t > 0, so vt (counted over triangle
   * edges) equals the pruned-graph degree (reference
   * `DistributedWCC.scala:109-112`). */
  private def result(blocks: RDD[(Int, Supports)], scope: Fixpoint.CacheScope): Result = {
    scope.cache(blocks, StorageLevel.MEMORY_AND_DISK)
    val fullStats = VertexRDD(blocks.mapPartitions({ it =>
      val b = it.next()._2
      Iterator.range(0, b.ids.length).map(i => (b.ids(i), (b.t(i), b.vt(i))))
    }, preservesPartitioning = true))
    val core = blocks.mapPartitions({ it =>
      val b = it.next()._2
      Iterator.range(0, b.ids.length).filter(b.t(_) > 0)
        .map(i => (b.ids(i), VertexData(b.ids(i), b.t(i), b.vt(i), b.ids(i))))
    }, preservesPartitioning = true)
    val coreEdges = blocks.mapPartitions(_.next()._2.edges((s, d, c) => Edge(s, d, c))
      .filter(_.attr > 0))
    // default storage levels: GraphX refuses to change an existing
    // level — every graph in this library uses the GraphX default
    val pruned = scope.own(Graph(core, coreEdges))
    scope.cache(fullStats)
    fullStats.zipPartitions(pruned.vertices, pruned.edges)((_, _, _) => Iterator.empty[Int])
      .count()
    scope.release(blocks)
    Failpoint("after triangle stats")
    Result(pruned, fullStats)
  }
}
