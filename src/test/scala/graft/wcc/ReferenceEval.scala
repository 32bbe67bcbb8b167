package graft.wcc

import graft.graph.SortedIntersect
import org.apache.spark.graphx._

/** The Map- and GraphX-form references of the WCC movement decision
 * and the global WCC. The library evaluates both on its vertex blocks
 * ([[RefineState]]); these forms share none of that array building, so
 * the specs, the reference simulator and the IDWCC dump tool pin the
 * blocks against them. */
object ReferenceEval {

  /** F7 (reference `DistributedWCC.scala:368-405`) on a Map of
   * neighbor-community degrees: the adapter over
   * [[DistributedWCC.bestMovementCompact]], so the reference simulator
   * exercises the same decision code. */
  def bestMovement(vertex: VertexData, vcDegrees: Map[Long, Int],
      communityStats: Map[Long, CommunityData], globalCC: Double,
      vertexCount: Long): VertexData = {
    val sorted = vcDegrees.toArray.sortBy(_._1)
    DistributedWCC.bestMovementCompact(vertex, sorted.map(_._1), sorted.map(_._2),
      communityStats, globalCC, vertexCount)
  }

  /**
   * G7: global WCC = (sum over vertices of WCC_V) / vertexCount.
   *
   * The reference's own plan (`DistributedWCC.scala:422-533`): one
   * aggregateMessages pass for the same-community adjacency arrays,
   * one for the per-edge intersections, then the WCC_V sum under the
   * broadcast community stats.
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
