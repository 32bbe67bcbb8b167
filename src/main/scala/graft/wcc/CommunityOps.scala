package graft.wcc

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
}
