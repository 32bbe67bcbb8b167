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
   * reference `DistributedWCC.scala:348-356`). Used by the movement
   * step; map-side combine keeps message volume at
   * O(E * avg distinct communities per neighborhood). */
  def vertexCommunityDegrees(graph: Graph[VertexData, Int]): VertexRDD[Map[Long, Int]] =
    graph.aggregateMessages[Map[Long, Int]](
      ctx => {
        ctx.sendToSrc(Map(ctx.dstAttr.cId -> 1))
        ctx.sendToDst(Map(ctx.srcAttr.cId -> 1))
      },
      mergeCountMaps)

  /** Community-stats fold from per-vertex (cId, own, ext) triples.
   * Two value-identical forms, picked by partition count:
   *
   *  - <= 64 partitions (bench SFs, small clusters): a single-stage
   *    `aggregate` of per-partition hash maps merged on the driver.
   *    Replaces the per-iteration reduceByKey + collectAsMap, whose
   *    shuffle stage bought nothing at this width — the map-side
   *    combine already compacted to one row per (partition,
   *    community), and the dispatch of the extra stage dominated the
   *    dispatch-bound refinement iterations (PERF.md r20).
   *  - wider: the reduceByKey + collectAsMap shape — at 10^4-10^5
   *    partitions a direct aggregate would ship one
   *    #communities-sized map PER PARTITION to the driver, while the
   *    shuffle first combines to #communities total rows. The 100 TB
   *    path keeps the scale-correct form.
   *
   * Integer sums are order-free, so both forms (and the driver's
   * completion-order merge) produce identical values. */
  private def statsFromTriples(
      perVertex: org.apache.spark.rdd.RDD[(VertexId, (Long, Int, Int))])
      : Map[Long, CommunityData] =
    if (perVertex.getNumPartitions <= 64) statsFromTriplesNarrow(perVertex)
    else {
      val counts = perVertex
        .map { case (_, (c, own, ext)) => (c, (1L, own.toLong, ext.toLong)) }
        .reduceByKey((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))
        .collectAsMap()
      counts.map { case (c, (r, sameDeg, ext)) =>
        (c, CommunityData(r.toInt, (sameDeg / 2).toDouble, ext.toInt))
      }.toMap
    }

  private def statsFromTriplesNarrow(
      perVertex: org.apache.spark.rdd.RDD[(VertexId, (Long, Int, Int))])
      : Map[Long, CommunityData] = {
    val merged = perVertex.aggregate(new java.util.HashMap[Long, Array[Long]]())(
      (m, kv) => {
        val (c, own, ext) = kv._2
        val a = m.get(c)
        if (a == null) m.put(c, Array(1L, own.toLong, ext.toLong))
        else { a(0) += 1L; a(1) += own; a(2) += ext }
        m
      },
      (m1, m2) => {
        val it = m2.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val a = m1.get(e.getKey)
          if (a == null) m1.put(e.getKey, e.getValue)
          else { a(0) += e.getValue()(0); a(1) += e.getValue()(1); a(2) += e.getValue()(2) }
        }
        m1
      })
    val out = Map.newBuilder[Long, CommunityData]
    val it = merged.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); val a = e.getValue
      out += ((e.getKey.longValue(),
        CommunityData(a(0).toInt, (a(1) / 2).toDouble, a(2).toInt)))
    }
    out.result()
  }

  private[wcc] def mergeCountMaps(a: Map[Long, Int], b: Map[Long, Int]): Map[Long, Int] =
    if (a.size >= b.size) b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0) + v) }
    else a.foldLeft(b) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0) + v) }

  /** Finalized per-vertex neighborhood surface for one refinement
   * iteration: neighbor-community ids (sorted, unique) with their
   * edge counts, plus the same-community neighbor ids (sorted) —
   * everything the movement decision, the derived community stats,
   * AND the WCC evaluation need, from ONE edge exchange instead of
   * the two separate Map- and array-building passes. */
  final case class NbrSurface(cIds: Array[Long], counts: Array[Int],
      sameNbrs: Array[Long]) {
    def totalDeg: Int = { var s = 0; var i = 0; while (i < counts.length) { s += counts(i); i += 1 }; s }
    def degreeIn(cId: Long): Int = {
      val i = java.util.Arrays.binarySearch(cIds, cId)
      if (i >= 0) counts(i) else 0
    }
  }

  /** Growable accumulator for the fused exchange: raw neighbor
   * community ids + same-community neighbor ids, appended in place
   * (O(deg) total per combine tree, the CoreDelta discipline). */
  final class NbrAgg(cId0: Long, same0: Long) extends Serializable {
    var cids: Array[Long] = { val a = new Array[Long](4); a(0) = cId0; a }
    var csize: Int = 1
    var same: Array[Long] =
      if (same0 == -1L) Array.emptyLongArray
      else { val a = new Array[Long](4); a(0) = same0; a }
    var ssize: Int = if (same0 == -1L) 0 else 1

    private[wcc] def addAll(o: NbrAgg): NbrAgg = {
      if (csize + o.csize > cids.length)
        cids = java.util.Arrays.copyOf(cids,
          math.max(csize + o.csize, cids.length * 2))
      System.arraycopy(o.cids, 0, cids, csize, o.csize)
      csize += o.csize
      if (o.ssize > 0) {
        if (ssize + o.ssize > same.length)
          same = java.util.Arrays.copyOf(same,
            math.max(ssize + o.ssize, math.max(4, same.length * 2)))
        System.arraycopy(o.same, 0, same, ssize, o.ssize)
        ssize += o.ssize
      }
      this
    }
  }

  object NbrAgg {
    def merge(a: NbrAgg, b: NbrAgg): NbrAgg =
      if (a.csize >= b.csize) a.addAll(b) else b.addAll(a)
  }

  /** The fused exchange: one aggregateMessages pass producing each
   * vertex's [[NbrSurface]]. Value-identical to
   * `vertexCommunityDegrees` + the evaluation's same-community
   * array build. Hub-safe: the combiner appends in place, so a
   * degree-D vertex costs O(D) state and allocation. */
  def nbrSurfaces(graph: Graph[VertexData, Int]): VertexRDD[NbrSurface] =
    graph.aggregateMessages[NbrAgg](
      ctx => {
        val cs = ctx.srcAttr.cId; val cd = ctx.dstAttr.cId
        val same = cs == cd
        ctx.sendToSrc(new NbrAgg(cd, if (same) ctx.dstId else -1L))
        ctx.sendToDst(new NbrAgg(cs, if (same) ctx.srcId else -1L))
      },
      NbrAgg.merge)
      .mapValues { agg =>
        val raw = java.util.Arrays.copyOf(agg.cids, agg.csize)
        java.util.Arrays.sort(raw)
        // run-length encode the sorted community ids
        var uniq = 0
        var i = 0
        while (i < raw.length) {
          var j = i + 1
          while (j < raw.length && raw(j) == raw(i)) j += 1
          uniq += 1; i = j
        }
        val cIds = new Array[Long](uniq)
        val counts = new Array[Int](uniq)
        var k = 0; i = 0
        while (i < raw.length) {
          var j = i + 1
          while (j < raw.length && raw(j) == raw(i)) j += 1
          cIds(k) = raw(i); counts(k) = j - i; k += 1; i = j
        }
        val sameNbrs = java.util.Arrays.copyOf(agg.same, agg.ssize)
        java.util.Arrays.sort(sameNbrs)
        NbrSurface(cIds, counts, sameNbrs)
      }

  /** Community stats derived from the surfaces the movement step
   * consumes anyway — NO extra pass over the edges: r(c) counts
   * members; a(c) = half the sum of members' same-community degrees
   * (each internal edge seen from both ends); b(c) = sum of members'
   * external degrees (each external edge seen once per endpoint
   * community). Pure integer arithmetic, so the result is
   * VALUE-IDENTICAL to `computeCommunityStats`. */
  def statsFromSurfaces(graph: Graph[VertexData, Int],
      surf: VertexRDD[NbrSurface]): Map[Long, CommunityData] = {
    val perVertex = graph.vertices.leftJoin(surf) { (_, vd, sOpt) =>
      sOpt match {
        case Some(s) =>
          val own = s.degreeIn(vd.cId)
          (vd.cId, own, s.totalDeg - own)
        case None => (vd.cId, 0, 0)
      }
    }
    statsFromTriples(perVertex)
  }

  /** The label-dependent half of the WCC evaluation — the
   * per-vertex (vd, same-community degree, intra-community triangle
   * count) scaffold, MATERIALIZED (cached + counted) but with no
   * community stats consumed. Per same-community edge it intersects
   * the two endpoints' same-community neighbor arrays with the
   * skew-adaptive [[SortedIntersect]] kernel (each triangle seen once
   * per incident edge, hence /2; endpoints cannot appear in an
   * intersection — no self-loops), so a hub costs O(deg(leaf) * log
   * D) per edge instead of the merge scan's O(D). It is independent
   * of the per-iteration stats collect, so the refinement loop runs
   * the two as CONCURRENT Spark jobs (PERF.md r20). The caller owns
   * the returned cache. */
  def wccEvalScaffold(graph: Graph[VertexData, Int],
      surf: VertexRDD[NbrSurface]): VertexRDD[(VertexData, Int, Int)] = {
    val gA: Graph[(VertexData, Array[Long]), Int] =
      graph.outerJoinVertices(surf)((_, vd, sOpt) =>
        (vd, sOpt.map(_.sameNbrs).getOrElse(Array.emptyLongArray)))
    val commTri: VertexRDD[Int] = gA.aggregateMessages[Int](
      ctx => if (ctx.srcAttr._1.cId == ctx.dstAttr._1.cId) {
        val c = SortedIntersect.count(ctx.srcAttr._2, ctx.dstAttr._2)
        ctx.sendToSrc(c); ctx.sendToDst(c)
      }, _ + _)
    val scaffold = gA.outerJoinVertices(commTri)((_, va, tcOpt) =>
      (va._1, va._2.length, tcOpt.getOrElse(0) / 2))
      .vertices
    scaffold.cache()
    scaffold.count()
    scaffold
  }

  /** The WCC_V fold over a materialized scaffold — the cheap,
   * stats-dependent tail of the evaluation (one map + sum over a
   * cached vertex-sized RDD). Bit-identical to folding the uncached
   * lineage: caching changes neither partition contents nor the
   * per-partition left-fold order `sum()` uses. */
  def wccFromScaffold(scaffold: VertexRDD[(VertexData, Int, Int)],
      stats: Map[Long, CommunityData], vertexCount: Long): Double = {
    val sc = scaffold.sparkContext
    val bStats = sc.broadcast(stats)
    val sumWcc = scaffold
      .map { case (_, (vd, vtC, tC)) =>
        WCCMetric.computeWccV(vd, bStats.value(vd.cId), vtC, tC)
      }
      .sum()
    bStats.destroy()
    sumWcc / vertexCount
  }

  /** One full partition evaluation — (community stats, global WCC) —
   * with the two heavy jobs run CONCURRENTLY: the stats collect and
   * the triangle-exchange scaffold are data-independent (only the
   * final cheap WCC_V fold consumes the stats), so both jobs'
   * stages schedule side by side on the mostly-idle slots and the
   * shared cached inputs are computed once under the BlockManager's
   * per-block locks. Value-identical to the sequential composition:
   * each job computes the same deterministic RDDs it did before. */
  def evalSurfacesConcurrent(graph: Graph[VertexData, Int],
      surf: VertexRDD[NbrSurface], vertexCount: Long)
      : (Map[Long, CommunityData], Double) = {
    val scaffoldF = java.util.concurrent.CompletableFuture.supplyAsync(() =>
      wccEvalScaffold(graph, surf))
    var scaffold: VertexRDD[(VertexData, Int, Int)] = null
    try {
      val cs = statsFromSurfaces(graph, surf)
      scaffold = WccUtil.joinUnwrapped(scaffoldF)
      val w = wccFromScaffold(scaffold, cs, vertexCount)
      (cs, w)
    } finally {
      // release the scaffold on EVERY exit: if the stats collect
      // threw before the join, await the future (its job is running
      // regardless) so the cached block it materialized cannot stay
      // pinned for the rest of a long-lived session
      val s = if (scaffold != null) scaffold
        else try WccUtil.joinUnwrapped(scaffoldF)
          catch { case _: Throwable => null }
      if (s != null) s.unpersist(blocking = false)
    }
  }

  /** G7 on the surface: the same-community neighbor arrays were
   * already built by the fused exchange, so the evaluation is just
   * the scaffold's per-edge intersection pass + the WCC_V sum.
   * Composed from the split scaffold/fold halves the refinement loop
   * overlaps. */
  def computeGlobalWccFromSurfaces(graph: Graph[VertexData, Int],
      surf: VertexRDD[NbrSurface], stats: Map[Long, CommunityData],
      vertexCount: Long): Double = {
    val scaffold = wccEvalScaffold(graph, surf)
    val out = wccFromScaffold(scaffold, stats, vertexCount)
    scaffold.unpersist(blocking = false)
    out
  }

  /**
   * G7: global WCC = (sum over vertices of WCC_V) / vertexCount.
   *
   * The reference's own plan (`DistributedWCC.scala:422-533`): one
   * aggregateMessages pass for the same-community adjacency arrays,
   * one for the per-edge intersections, then the WCC_V sum under the
   * broadcast community stats. The pipeline evaluates through
   * [[wccEvalScaffold]] instead; this form shares none of its array
   * building and is the reference PropertySpec pins it against.
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
