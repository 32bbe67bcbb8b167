package graft.wcc

import graft.graph.SortedIntersect
import org.apache.spark.graphx._

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
 * Scale: the adjacency exchange is ADAPTIVE (see
 * [[HubDegreeThreshold]]). Hub-free graphs — the dense, cliquey
 * co-purchase graphs of this suite — take the direct per-edge
 * full-adjacency merge intersection (cheapest exact plan: one
 * triplet scan, arrays replicated once per incident edge
 * partition). A graph with a power-law hub above the threshold
 * switches to the DEGREE-ORIENTED path: each edge assigns its
 * higher-(degree, id)-ranked endpoint to the lower one's out-list
 * (O(sqrt(2E)) amortized per shipped array), each triangle {x,y,z}
 * (rank x<y<z) is enumerated exactly once at the merge scan of edge
 * (x,y) and credits all THREE of its edges. Without that switch a
 * 10^5-degree hub concentrates 10^10 merge-scan steps in the few
 * tasks holding its edges — the straggler/OOM scale cliff. Both
 * paths produce identical exact per-edge supports — the prune
 * predicate the rest of the pipeline consumes
 * (`DistributedWCC.scala:111`).
 */
object TriangleStats {

  final case class Result(
      /** pruned triangle-core graph; vertex attr has t, vt filled,
       * cId = own id; edge attr = common-neighbor count (>0) */
      pruned: Graph[VertexData, Int],
      /** (vId, t, vt) for EVERY vertex of the input graph, including
       * non-triangle ones (t=0) — the reference's
       * TriangleCountResult dump surface */
      fullStats: VertexRDD[(Int, Int)])

  /** Degree ceiling for the direct full-adjacency intersection path.
   * Below it, per-edge merge scans cost Sum_e(d_u + d_v) <=
   * 2*E*maxDeg steps with each vertex array shipped once per
   * incident edge PARTITION (GraphX replication, <= 2*sqrt(P)) —
   * the cheapest exact plan for dense hub-free graphs (the
   * co-purchase graphs here: maxDeg ~200). Above it, a hub's edges
   * concentrate O(maxDeg^2) merge-scan work in a few tasks — the
   * straggler/OOM cliff — and the ORIENTED path takes over. */
  private[wcc] val HubDegreeThreshold = 10000

  private def maxDegree(graph: Graph[_, _]): Int =
    graph.degrees.map(_._2).fold(0)(math.max)

  /** Sorted oriented out-adjacency: each edge assigns its
   * higher-(degree, id)-ranked endpoint to the lower one's list,
   * bounding every shipped array by out-degree (O(sqrt(2E))
   * amortized). Each triangle {x,y,z} with rank x<y<z then appears
   * in exactly one merge scan — edge (x,y) (z is in BOTH out-lists
   * only there). */
  private def orientedAdj[V: scala.reflect.ClassTag](
      graph: Graph[V, _]): Graph[Array[Long], _] = {
    val gDeg: Graph[Int, _] =
      graph.outerJoinVertices(graph.degrees)((_, _, d) => d.getOrElse(0))
    val outAdj: VertexRDD[Array[Long]] = gDeg.aggregateMessages[Array[Long]](
      ctx => {
        val srcLower = ctx.srcAttr < ctx.dstAttr ||
          (ctx.srcAttr == ctx.dstAttr && ctx.srcId < ctx.dstId)
        if (srcLower) ctx.sendToSrc(Array(ctx.dstId))
        else ctx.sendToDst(Array(ctx.srcId))
      }, _ ++ _)
    graph.outerJoinVertices(outAdj)((_, _, a) =>
      a.map(_.sorted).getOrElse(Array.empty[Long]))
  }

  private def fullAdj[V: scala.reflect.ClassTag](
      graph: Graph[V, _]): Graph[Array[Long], _] =
    graph.outerJoinVertices(
      graph.collectNeighborIds(EdgeDirection.Either))((_, _, a) =>
      a.map(_.sorted).getOrElse(Array.empty[Long]))

  /** Per-edge triangle support, keyed by canonical (min, max)
   * endpoint ids: the FULL common-neighbor count of each edge.
   * Adaptive: hub-free graphs use the direct per-edge intersection
   * of full adjacency (one triplet scan, no extra shuffle — every
   * edge present, including zero-support ones); graphs with a
   * >HubDegreeThreshold vertex use the oriented enumeration, where
   * each triangle is found once and credits its three edges
   * (3*T records through one reduceByKey — output-bound, hub-safe;
   * zero-support edges absent). Values are identical. */
  private[wcc] def edgeSupport[V: scala.reflect.ClassTag](
      graph: Graph[V, _]): org.apache.spark.rdd.RDD[((Long, Long), Int)] = {
    if (maxDegree(graph) <= HubDegreeThreshold)
      fullAdj(graph).triplets.map { t =>
        ((math.min(t.srcId, t.dstId), math.max(t.srcId, t.dstId)),
          SortedIntersect.count(t.srcAttr, t.dstAttr))
      }
    else orientedAdj(graph).triplets.flatMap { t =>
      val s = t.srcId; val d = t.dstId
      val out = scala.collection.mutable.ArrayBuffer.empty[((Long, Long), Int)]
      SortedIntersect.visitCommons(t.srcAttr, t.dstAttr) { x =>
        out += (((math.min(s, d), math.max(s, d)), 1))
        out += (((math.min(s, x), math.max(s, x)), 1))
        out += (((math.min(d, x), math.max(d, x)), 1))
      }
      out
    }.reduceByKey(_ + _)
  }

  def run(graph: Graph[Int, Int]): Result = {
    val support = edgeSupport(graph)

    // graft supports back onto the canonical edge set (0 for
    // triangle-free edges)
    val countedEdges = graph.edges
      .map(e => ((math.min(e.srcId, e.dstId), math.max(e.srcId, e.dstId)), ()))
      .leftOuterJoin(support)
      .map { case ((s, d), (_, c)) => Edge(s, d, c.getOrElse(0)) }

    // default storage levels: Graph.apply re-persists the vertex RDD
    // it is handed, and GraphX refuses to change an existing level —
    // every graph in this library therefore uses the GraphX default.
    val counted: Graph[Int, Int] = Graph(graph.vertices, countedEdges, 0)
    fromCounted(counted)
  }

  /** Triangle stats of the id-restricted subgraph (both endpoints <
   * `split`) DERIVED from a precomputed FULL symmetric adjacency
   * (vid, sorted nbrs) instead of a fresh GraphX adjacency exchange:
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
    val countedEdges = sup.rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getInt(2)))
    val verts = bulkAdj.select(col("vid").cast("long")).rdd.map(r => (r.getLong(0), 0))
    fromCounted(Graph(verts, countedEdges, 0))
  }

  /** Shared tail of [[run]] / [[restrictedResult]]: per-vertex
   * (t, vt) and the triangle-core prune from a graph whose edge attr
   * is the edge's full common-neighbor count (0 for triangle-free
   * edges, every canonical edge present). */
  private def fromCounted(counted: Graph[Int, Int]): Result = {
    counted.cache()

    // G1+G3: per-vertex (2t, vt) in one pass — map-side combine free.
    val stats: VertexRDD[(Int, Int)] = counted.aggregateMessages[(Int, Int)](
      ctx => {
        val inc = (ctx.attr, if (ctx.attr > 0) 1 else 0)
        ctx.sendToSrc(inc); ctx.sendToDst(inc)
      },
      (x, y) => (x._1 + y._1, x._2 + y._2))

    val fullStats: VertexRDD[(Int, Int)] =
      counted.vertices.leftJoin(stats) { (_, _, s) =>
        val (twoT, vt) = s.getOrElse((0, 0)); (twoT / 2, vt)
      }

    val dataGraph: Graph[VertexData, Int] =
      counted.outerJoinVertices(fullStats) { (id, _, s) =>
        val (t, vt) = s.getOrElse((0, 0))
        VertexData(id, t, vt, id)
      }

    // P4: prune to the triangle core (reference
    // `DistributedWCC.scala:109-112`). An edge with common count > 0
    // implies both endpoints have t > 0, so vt (counted above over
    // triangle edges) equals the pruned-graph degree.
    val pruned = dataGraph.subgraph(
      epred = e => e.attr > 0,
      vpred = (_, vd) => vd.t > 0)

    // Materialize the two output surfaces, then drop the scratch
    // graphs — cached intermediates otherwise accumulate across the
    // bulk + incremental pipelines that each call run().
    pruned.cache()
    fullStats.cache()
    pruned.numVertices
    fullStats.count()
    counted.unpersistVertices(blocking = false)
    counted.edges.unpersist(blocking = false)
    Result(pruned, fullStats)
  }
}
