package graft.wcc

import graft.graph.SortedIntersect
import org.apache.spark.graphx._

/**
 * Community-level aggregations over a partitioned graph (A1/A3/A8,
 * G7 in SURVEY.md §2).
 *
 * Graphs are stored with canonical single-direction undirected edges;
 * every aggregation sends to both endpoints, which reproduces the
 * reference's doubled-edge per-source aggregations
 * (`DistributedWCC.scala:331-573`) without the /2 halving corrections
 * it needs (`:564`, `:505`).
 */
object CommunityOps {

  /** Community stats (cId -> (r, a, b)) collected to the driver.
   * #communities << |V|, so a driver-side map + broadcast is the
   * right distribution strategy at any scale (reference
   * `DistributedWCC.scala:535-573`: two group-reduces + collect).
   *
   * One pass for sizes, one for edges; both partial-aggregate
   * map-side before the shuffle. */
  def computeCommunityStats(graph: Graph[VertexData, Int]): Map[Long, CommunityData] = {
    // One job for both granularities: vertex rows tagged 0 (sizes),
    // edge rows tagged 1/2 (INT/EXT). INT edges count once toward
    // their community; EXT edges count once toward EACH endpoint
    // community (reference `DistributedWCC.scala:553-564` after
    // un-doubling).
    val vertexPairs = graph.vertices
      .map { case (_, vd) => ((0, vd.cId), 1) }
    val edgePairs = graph.triplets
      .flatMap { t =>
        val cs = t.srcAttr.cId; val cd = t.dstAttr.cId
        if (cs == cd) Iterator(((1, cs), 1))
        else Iterator(((2, cs), 1), ((2, cd), 1))
      }
    val counts: Map[(Int, Long), Int] = vertexPairs.union(edgePairs)
      .reduceByKey(_ + _)
      .collectAsMap().toMap

    counts.collect { case ((0, c), r) => (c, r) }.map { case (c, r) =>
      val a = counts.getOrElse((1, c), 0)
      val b = counts.getOrElse((2, c), 0)
      (c, CommunityData(r, a.toDouble, b))
    }.toMap
  }

  /** Per-vertex map of neighbor-community -> edge count (A3,
   * reference `DistributedWCC.scala:348-356`), the Map-form reference
   * of the degrees the movement step derives from its vertex blocks
   * (the A3 query row and the specs use it); map-side combine keeps
   * message volume at
   * O(E * avg distinct communities per neighborhood). */
  def vertexCommunityDegrees(graph: Graph[VertexData, Int]): VertexRDD[Map[Long, Int]] =
    graph.aggregateMessages[Map[Long, Int]](
      ctx => {
        ctx.sendToSrc(Map(ctx.dstAttr.cId -> 1))
        ctx.sendToDst(Map(ctx.srcAttr.cId -> 1))
      },
      mergeCountMaps)

  private[wcc] def mergeCountMaps(a: Map[Long, Int], b: Map[Long, Int]): Map[Long, Int] =
    if (a.size >= b.size) b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0) + v) }
    else a.foldLeft(b) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0) + v) }

  /**
   * G7: global WCC = (sum over vertices of WCC_V) / vertexCount.
   *
   * The reference's own plan (`DistributedWCC.scala:422-533`): one
   * aggregateMessages pass for the same-community adjacency arrays,
   * one for the per-edge intersections, then the WCC_V sum under the
   * broadcast community stats. The refinement loops evaluate on
   * [[RefineState]] blocks instead; this form shares none of their
   * array building and is the reference PropertySpec pins them
   * against.
   *
   * @param vertexCount divisor — the ORIGINAL (unpruned) vertex count
   *                    (reference passes `this.vertexCount`, `:41`)
   */
  def computeGlobalWCC(graph: Graph[VertexData, Int],
      stats: Map[Long, CommunityData], vertexCount: Long): Double = {
    val sc = graph.vertices.sparkContext
    val bStats = sc.broadcast(stats)
    // same-community neighbor ids per vertex (`:509-533`)
    val commNbors: VertexRDD[Array[Long]] = graph.aggregateMessages[Array[Long]](
      ctx => if (ctx.srcAttr.cId == ctx.dstAttr.cId) {
        ctx.sendToSrc(Array(ctx.dstId)); ctx.sendToDst(Array(ctx.srcId))
      }, _ ++ _)
    val gA: Graph[(VertexData, Array[Long]), Int] =
      graph.outerJoinVertices(commNbors)((_, vd, a) =>
        (vd, a.map(_.sorted).getOrElse(Array.empty[Long])))
    // intra-community triangles per vertex (`:462-507`): per
    // same-community edge, intersect the two same-community
    // neighborhoods; each triangle is seen once per incident edge,
    // hence /2. Endpoints cannot appear in an intersection (no
    // self-loops).
    val commTri: VertexRDD[Int] = gA.aggregateMessages[Int](
      ctx => if (ctx.srcAttr._1.cId == ctx.dstAttr._1.cId) {
        val c = SortedIntersect.count(ctx.srcAttr._2, ctx.dstAttr._2)
        ctx.sendToSrc(c); ctx.sendToDst(c)
      }, _ + _)
    val sumWcc = gA.outerJoinVertices(commTri)((_, va, tcOpt) =>
        (va._1, va._2.length, tcOpt.getOrElse(0) / 2))
      .vertices
      .map { case (_, (vd, vtC, tC)) =>
        WCCMetric.computeWccV(vd, bStats.value(vd.cId), vtC, tC)
      }
      .sum()
    bStats.destroy()
    sumWcc / vertexCount
  }
}
