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

  /** The support kernel over `vertices` and their edges `pairs` (lazy):
   * their blocks, each edge's support on both of its slots. */
  private def supports[V](vertices: RDD[(VertexId, V)],
      pairs: RDD[(Long, Long)]): RDD[(Int, Supports)] = {
    val part = new HashPartitioner(vertices.getNumPartitions)
    val verts = vertices.mapPartitions(_.map { case (id, _) =>
      (id, VertexData(id, 0, 0, 0L))
    }, preservesPartitioning = true)
    val blocks = RefineState.refineBlocks(verts, pairs, part, RefineState.Ship.Ids)
    RefineState.sameCommonCounts(blocks, part) { (b, support) =>
      new Supports(b.adj.ids, b.adj.offs, b.adj.nbrs, support)
    }
  }

  /** Per-edge triangle support, keyed by canonical (min, max)
   * endpoint ids: the full common-neighbor count of every pair,
   * zero-support edges included — a view of the support kernel. */
  private[wcc] def edgeSupport[V](vertices: RDD[(VertexId, V)],
      pairs: RDD[(Long, Long)]): RDD[((Long, Long), Int)] =
    supports(vertices, pairs).flatMap(_._2.edges((s, d, c) => ((s, d), c)))

  /** Both surfaces read off the support blocks and materialized — the
   * pruned graph's vertices and edges and the full stats — in ONE job,
   * after which the blocks are released; only the surfaces stay
   * cached, as lineage cuts. They keep the blocks' vertex partitioner. An edge with
   * support > 0 implies both endpoints have t > 0, so vt (counted over
   * triangle edges) equals the pruned-graph degree (reference
   * `DistributedWCC.scala:109-112`). */
  def run(graph: Graph[Int, Int]): Result = Fixpoint.returning { scope =>
    val blocks = scope.cache(supports(graph.vertices, RefineState.pairsOf(graph.edges)),
      StorageLevel.MEMORY_AND_DISK)
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
    // both surfaces are lineage cuts, so nothing after this call
    // schedules the kernel's stages again; the one job below reaches
    // all three cut RDDs directly
    val pruned = scope.cut(Graph(core, coreEdges))
    scope.cut(fullStats)
    fullStats.zipPartitions(pruned.vertices, pruned.edges)((_, _, _) => Iterator.empty[Int])
      .count()
    scope.release(blocks)
    Failpoint("after triangle stats")
    Result(pruned, fullStats)
  }(_.cached)
}
