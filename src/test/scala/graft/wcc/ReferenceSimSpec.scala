package graft.wcc

import graft.SparkSpec
import graft.graph.EdgeOps
import scala.collection.mutable

/**
 * Parity evidence for the initial-partition translation: a
 * sequential, DIRECT simulation of the reference's Gelly
 * vertex-centric iteration (`DistributedWCC.scala:159-255`) —
 * INCLUDING the two mechanics the distributed port drops as no-ops
 * (self-messages, and the empty-mailbox keep-alive re-broadcasts
 * that arise because Flink's coGroup invokes compute for every
 * vertex each superstep). If the port's fixpoint equals the
 * simulator's on a real graph, the no-op argument holds empirically.
 */
object ReferenceSim {

  final case class Msg(vId: Long, vt: Int, cc: Double, cId: Long) {
    def isCenter: Boolean = vId == cId
  }
  private val ord: Ordering[Msg] = Ordering.by(m => (m.cc, m.vt, m.vId))

  /** a ∩ b, filtering the smaller set: linear per pair even when one
   * side is a hub's neighborhood. */
  private def common(a: Set[Long], b: Set[Long]): Set[Long] =
    if (a.size <= b.size) a.filter(b) else b.filter(a)

  final class V(val vId: Long, val t: Int, val vt: Int) {
    var cId: Long = vId
    var changed: Boolean = false
    var neighbors: mutable.LinkedHashMap[Long, Msg] = mutable.LinkedHashMap.empty
    def cc: Double = if (vt < 2) 0.0 else 2.0 * t / (vt.toLong * (vt - 1))
    def snapshot: Msg = Msg(vId, vt, cc, cId)
    def isCenter: Boolean = vId == cId
  }

  /** Run the reference's semantics for maxIterations supersteps.
   * adj: pruned-graph adjacency; stats: vId -> (t, vt); seed:
   * starting community per vertex (the incremental path re-seeds with
   * the previous partition; batch starts from self). */
  def initialPartition(adj: Map[Long, Seq[Long]], stats: Map[Long, (Int, Int)],
      maxIterations: Int = 50,
      seed: Map[Long, Long] = Map.empty): Map[Long, Long] = {
    val verts = stats.map { case (id, (t, vt)) =>
      val v = new V(id, t, vt)
      seed.get(id).foreach(c => v.cId = c)
      id -> v
    }
    // mailbox(target) = combined map keyed by sender (`:243-255`)
    var mailbox = Map.empty[Long, Map[Long, Msg]]

    for (superstep <- 1 to maxIterations) {
      val outbox = mutable.Map.empty[Long, mutable.Map[Long, Msg]]
      def send(target: Long, m: Msg): Unit =
        outbox.getOrElseUpdate(target, mutable.Map.empty).update(m.vId, m)

      verts.values.foreach { v =>
        if (superstep == 1) {
          // (`:161-166`)
          v.changed = true
          adj(v.vId).foreach(n => send(n, v.snapshot))
        } else {
          val messages = mailbox.getOrElse(v.vId, Map.empty)
          if (messages.nonEmpty) {
            v.changed = false
            if (messages.size == 1 && messages.head._2.vId == v.vId) {
              // only the self-message: do nothing (`:178-179`)
            } else {
              if (v.neighbors.isEmpty) {
                // (`:181-183`)
                (messages - v.vId).foreach { case (id, m) => v.neighbors.update(id, m) }
              } else {
                // refresh cached communities (`:230-235`)
                v.neighbors.mapValuesInPlace { (id, cached) =>
                  messages.get(id).map(m => cached.copy(cId = m.cId)).getOrElse(cached)
                }
              }
              val highest = v.neighbors.values.filter(_.isCenter)
                .reduceOption((a, b) => ord.max(a, b))
              if (highest.isDefined && ord.gt(highest.get, v.snapshot)) {
                v.changed = v.isCenter // evaluated on the OLD cId (`:192`)
                v.cId = highest.get.vId
              } else {
                v.changed = !v.isCenter
                v.cId = v.vId
              }
            }
          } else {
            // Flink coGroup invokes compute with an empty iterator:
            // the keep-alive branch (`:203-205`)
            v.changed = true
          }
          // send phase incl. self-messages (`:210-218`)
          val cur = v.snapshot
          if (v.changed) {
            v.neighbors.values.foreach { nb =>
              if (ord.gt(cur, nb)) {
                send(nb.vId, cur)
                send(v.vId, cur)
              }
            }
          }
        }
      }
      mailbox = outbox.map { case (k, m) => k -> m.toMap }.toMap
      if (mailbox.isEmpty && superstep > 1) return verts.map { case (id, v) => id -> v.cId }
    }
    verts.map { case (id, v) => id -> v.cId }
  }

  /** Sequential refinement loop mirroring the reference's
   * acceptance/retry sequencing (`DistributedWCC.scala:260-329`).
   * Shares WCCMetric and bestMovement with the distributed code, so
   * the parity check exercises the loop orchestration and the
   * stats/degree/triangle computations. */
  def refine(adj: Map[Long, Seq[Long]], stats: Map[Long, (Int, Int)],
      partition0: Map[Long, Long], vertexCount: Long,
      maxRetries: Int = 5): Map[Long, Long] = {
    val ids = stats.keys.toSeq.sorted
    val und = adj.toSeq.flatMap { case (u, ns) => ns.map(v => (u, v)) }
      .filter { case (u, v) => u < v }
    def vd(id: Long, part: Map[Long, Long]): VertexData = {
      val (t, vt) = stats(id); VertexData(id, t, vt, part(id))
    }
    val globalCC = ids.map(id => vd(id, partition0).cc).sum / vertexCount

    def communityStats(part: Map[Long, Long]): Map[Long, CommunityData] = {
      val sizes = ids.groupBy(part).map { case (c, xs) => c -> xs.size }
      val intC = mutable.Map.empty[Long, Int].withDefaultValue(0)
      val extC = mutable.Map.empty[Long, Int].withDefaultValue(0)
      und.foreach { case (u, v) =>
        if (part(u) == part(v)) intC(part(u)) += 1
        else { extC(part(u)) += 1; extC(part(v)) += 1 }
      }
      sizes.map { case (c, r) => c -> CommunityData(r, intC(c).toDouble, extC(c)) }
    }

    def globalWcc(part: Map[Long, Long], cs: Map[Long, CommunityData]): Double = {
      val commNbors: Map[Long, Set[Long]] = ids.map { u =>
        u -> adj(u).filter(v => part(v) == part(u)).toSet
      }.toMap
      val tC = mutable.Map.empty[Long, Int].withDefaultValue(0)
      und.foreach { case (u, v) =>
        if (part(u) == part(v)) {
          val c = common(commNbors(u), commNbors(v)).count(w => w != u && w != v)
          tC(u) += c; tC(v) += c
        }
      }
      ids.map { u =>
        WCCMetric.computeWccV(vd(u, part), cs(part(u)), commNbors(u).size, tC(u) / 2)
      }.sum / vertexCount
    }

    var best = partition0
    var bestCs = communityStats(best)
    var bestWcc = globalWcc(best, bestCs)
    var retriesLeft = maxRetries
    var found = true
    do {
      val moved = movements(adj, stats, best, bestCs, globalCC, vertexCount)
      val newCs = communityStats(moved)
      val newWcc = globalWcc(moved, newCs)
      retriesLeft -= 1
      if (newWcc > bestWcc) {
        if (newWcc / bestWcc - 1 > DistributedWCC.Threshold) retriesLeft = maxRetries
        best = moved; bestWcc = newWcc; bestCs = newCs
      } else found = false
    } while (found && retriesLeft > 0)
    best
  }

  private def movements(adj: Map[Long, Seq[Long]], stats: Map[Long, (Int, Int)],
      part: Map[Long, Long], cs: Map[Long, CommunityData],
      globalCC: Double, vertexCount: Long): Map[Long, Long] =
    stats.keys.map { u =>
      val vcDeg = adj.getOrElse(u, Seq.empty).groupBy(part).map { case (c, xs) => c -> xs.size }
      if (vcDeg.isEmpty) u -> part(u) // no degrees -> joinWithVertices miss
      else {
        val (t, vt) = stats(u)
        u -> ReferenceEval.bestMovement(VertexData(u, t, vt, part(u)),
          vcDeg, cs, globalCC, vertexCount).cId
      }
    }.toMap

  private def communityStatsOf(adj: Map[Long, Seq[Long]], ids: Iterable[Long],
      part: Map[Long, Long]): Map[Long, CommunityData] = {
    val sizes = ids.groupBy(part).map { case (c, xs) => c -> xs.size }
    val intC = mutable.Map.empty[Long, Int].withDefaultValue(0)
    val extC = mutable.Map.empty[Long, Int].withDefaultValue(0)
    adj.toSeq.flatMap { case (u, ns) => ns.map(v => (u, v)) }
      .filter { case (u, v) => u < v }
      .foreach { case (u, v) =>
        if (part(u) == part(v)) intC(part(u)) += 1
        else { extC(part(u)) += 1; extC(part(v)) += 1 }
      }
    sizes.map { case (c, r) => c -> CommunityData(r, intC(c).toDouble, extC(c)) }
  }

  /** Incremental refinement: fixed 5 movement iterations, no
   * acceptance test (reference `IncrementalWCC.scala:332-393`). */
  def refineFixed(adj: Map[Long, Seq[Long]], stats: Map[Long, (Int, Int)],
      partition0: Map[Long, Long], globalCC: Double, vertexCount: Long): Map[Long, Long] = {
    var part = partition0
    var cs = communityStatsOf(adj, stats.keys, part)
    (1 to 5).foreach { _ =>
      part = movements(adj, stats, part, cs, globalCC, vertexCount)
      cs = communityStatsOf(adj, stats.keys, part)
    }
    part
  }

  /** The whole IDWCC testStream replay (reference `CSVGraph.scala:47-103`
   * + `IncrementalWCC.scala:27-181`), sequential, for any
   * microBatchCount. Reference quirks threaded across batches:
   *  - the state graph keeps the BULK vertex/edge universe forever
   *    (each run grafts onto the previous graph, so batch edges are
   *    dropped after their own batch — batch k merges bulk + batch_k
   *    only);
   *  - the graft-back resets a result vertex to (t=0, vt=0, cId=id)
   *    unless its result community differs from its own id
   *    (`IncrementalWCC.scala:58-67` — `if (v.cId != vd.cId) vd else
   *    v` over the zero-reset dataGraph), and the bulk prepare's
   *    DistributedWCC graft does the same (`DistributedWCC.scala:
   *    68-77`); the zeroed (t, vt) are the delta-update baselines the
   *    NEXT batch reads. */
  def incrementalPipeline(canonEdges: Seq[(Long, Long)],
      ratio: Double = 0.8, microBatchCount: Int = 1): Map[Long, Long] = {
    def adjacency(edges: Seq[(Long, Long)]): Map[Long, Seq[Long]] =
      edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    def triangleStats(edges: Seq[(Long, Long)]): (Map[Long, (Int, Int)], Map[Long, Seq[Long]]) = {
      val adj = adjacency(edges).map { case (k, v) => k -> v.toSet }
      val stats = adj.map { case (u, ns) =>
        val t = ns.toSeq.map(v => common(adj(v), ns).size).sum / 2
        val vt = ns.count(v => common(adj(v), ns).nonEmpty)
        u -> (t, vt)
      }
      val prunedEdges = edges.filter { case (u, v) =>
        common(adj(u), adj(v)).nonEmpty && stats(u)._1 > 0 && stats(v)._1 > 0
      }
      // keep t>0 vertices even if edge-isolated after the prune
      val prunedAdj0 = adjacency(prunedEdges)
      val prunedStats = stats.filter(_._2._1 > 0)
      val prunedAdj = prunedStats.keys.map(k => k -> prunedAdj0.getOrElse(k, Seq.empty)).toMap
      (prunedStats, prunedAdj)
    }
    // graft-back with the reference's conditional zero-reset
    def graftQuirk(universe: Iterable[Long], mergedTV: Long => (Int, Int),
        labels: Map[Long, Long]): Map[Long, (Int, Int, Long)] =
      universe.map { id =>
        labels.get(id) match {
          case Some(c) if c != id =>
            val (t, vt) = mergedTV(id); id -> (t, vt, c)
          case _ => id -> (0, 0, id)
        }
      }.toMap

    val maxV = canonEdges.flatMap { case (u, v) => Seq(u, v) }.max
    val split = math.floor(maxV * ratio)
    val bulk = canonEdges.filter { case (u, v) => u < split && v < split }
    val stream = canonEdges.filterNot { case (u, v) => u < split && v < split }

    // prepare: batch DWCC on the bulk graph, grafted with the quirk
    val bulkVerts = bulk.flatMap { case (u, v) => Seq(u, v) }.distinct
    val (bStats, bAdj) = triangleStats(bulk)
    val init = initialPartition(bAdj, bStats)
    val refined = refine(bAdj, bStats, init, bulkVerts.size.toLong)
    var state: Map[Long, (Int, Int, Long)] =
      graftQuirk(bulkVerts, id => bStats(id), refined)

    def ccOf(t: Int, vt: Int): Double =
      if (vt < 2) 0.0 else 2.0 * t / (vt.toLong * (vt - 1))

    val batchSize = math.floor((maxV - split) / microBatchCount)
    (1 to microBatchCount).foreach { b =>
      val lower = split + (b - 1) * batchSize
      val higher = if (b == microBatchCount) maxV + 1.0
        else split + b * batchSize
      val batch = stream.filter { case (u, v) =>
        (u >= lower || v >= lower) && u < higher && v < higher }

      val batchIds = batch.flatMap { case (u, v) => Seq(u, v) }.toSet
      val border = state.keySet & batchIds
      val nw = batchIds -- border
      // merged graph = state edges (always the BULK set) + this batch
      val merged = bulk ++ batch
      val mAdj = adjacency(merged).map { case (k, v) => k -> v.toSet }
      val touched = border ++ nw
      val nbrs: Map[Long, Set[Long]] =
        mAdj.map { case (k, v) => k -> (if (touched(k)) v else Set.empty[Long]) }
      val delta = mutable.Map.empty[Long, (Int, Int)].withDefaultValue((0, 0))
      merged.foreach { case (u, v) =>
        val borderEdge = border(u) && border(v)
        val newEdge = nw(u) || nw(v)
        if (newEdge || borderEdge) {
          var c = 0; var newVt = true
          common(nbrs(u), nbrs(v)).foreach { w =>
            if (w != u && w != v) {
              if (newEdge || nw(w)) c += 1 else newVt = false
            }
          }
          val i = if (c > 0 && newVt) 1 else 0
          val (cu, iu) = delta(u); delta(u) = (cu + c, iu + i)
          val (cv, iv) = delta(v); delta(v) = (cv + c, iv + i)
        }
      }
      val mergedState: Map[Long, (Int, Int, Long)] = mAdj.keys.map { id =>
        val old = state.getOrElse(id, (0, 0, id))
        val (c, i) = delta(id)
        if (c != 0 || i != 0) {
          if (border(id)) id -> (old._1 + c / 2, old._2 + i, id)
          else id -> (c / 2, i, id)
        } else id -> old
      }.toMap
      val vertexCount = mergedState.size.toLong
      val globalCC = mergedState.keys.toSeq.sorted
        .map(id => ccOf(mergedState(id)._1, mergedState(id)._2)).sum / vertexCount

      // seeded re-partition on the merged pruned graph
      val mPrunedV = mergedState.filter(_._2._1 > 0)
      val mPrunedEdges = merged.filter { case (u, v) =>
        common(mAdj(u), mAdj(v)).nonEmpty && mPrunedV.contains(u) && mPrunedV.contains(v)
      }
      val mPrunedAdj0 = adjacency(mPrunedEdges)
      val mPrunedAdj = mPrunedV.keys.map(k => k -> mPrunedAdj0.getOrElse(k, Seq.empty)).toMap
      val mStats = mPrunedV.map { case (id, (t, vt, _)) => id -> (t, vt) }
      val seed = mPrunedV.map { case (id, (_, _, c)) => id -> c }
      val init2 = initialPartition(mPrunedAdj, mStats, seed = seed)
      val final2 = refineFixed(mPrunedAdj, mStats, init2, globalCC, vertexCount)

      // graft onto the PREVIOUS (bulk) universe with the zero-reset
      // quirk; merged (t, vt) survive only on non-self-labeled rows
      state = graftQuirk(state.keys,
        id => { val (t, vt, _) = mergedState(id); (t, vt) }, final2)
    }
    state.map { case (id, (_, _, c)) => id -> c }
  }
}

class ReferenceSimSpec extends SparkSpec {
  import GraphFixtures._

  /** Pruned-core adjacency + (t, vt) of `g`, the simulator's input. */
  private def simInput(g: org.apache.spark.graphx.Graph[Int, Int])
      : (TriangleStats.Result, Map[Long, Seq[Long]], Map[Long, (Int, Int)]) = {
    val tri = TriangleStats.run(g)
    val adj = tri.pruned.edges.collect()
      .flatMap(e => Seq((e.srcId, e.dstId), (e.dstId, e.srcId)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSeq }
    val stats = tri.pruned.vertices.collect()
      .map { case (id, vd) => id -> (vd.t, vd.vt) }.toMap
    (tri, adj, stats)
  }

  private def initialPartitionParity(raw: org.apache.spark.sql.DataFrame): Unit = {
    val g = EdgeOps.toGraph(EdgeOps.canonicalize(raw))
    val (tri, adj, stats) = simInput(g)

    val simulated = ReferenceSim.initialPartition(adj, stats)
    val distributed = InitialPartition.run(tri.pruned)
      .vertices.collect().map { case (id, vd) => id -> vd.cId }.toMap

    assert(distributed.size === simulated.size)
    val diffs = distributed.keys.filter(k => distributed(k) != simulated(k)).toSeq.sorted
    assert(diffs.isEmpty,
      s"${diffs.size} vertices diverge from the reference simulation, first 10: ${diffs.take(10)}")
  }

  private def dwccParity(g: org.apache.spark.graphx.Graph[Int, Int]): Unit = {
    val (_, adj, stats) = simInput(g)

    val simInit = ReferenceSim.initialPartition(adj, stats)
    val simFinal = ReferenceSim.refine(adj, stats, simInit, g.numVertices)

    val distributed = DistributedWCC.run(g).graph.vertices.collect()
      .map { case (id, vd) => id -> vd.cId }.toMap
    // compare on the pruned universe (grafted singletons equal by construction)
    val diffs = simFinal.keys.filter(k => distributed(k) != simFinal(k)).toSeq.sorted
    assert(diffs.isEmpty,
      s"${diffs.size} of ${simFinal.size} vertices diverge after refinement, first 10: ${diffs.take(10)}")
    // and every non-pruned vertex is its own singleton
    (distributed.keySet -- simFinal.keySet).foreach { id =>
      assert(distributed(id) === id)
    }
  }

  private def idwccParity(canon: org.apache.spark.sql.DataFrame,
      microBatchCount: Int): Unit = {
    val edges = canon.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val simulated = ReferenceSim.incrementalPipeline(edges, 0.8, microBatchCount)
    val distributed = IncrementalWCC.testStream(spark, canon, 0.8, microBatchCount)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    assert(distributed.keySet === simulated.keySet)
    val diffs = distributed.keys.filter(k => distributed(k) != simulated(k)).toSeq.sorted
    assert(diffs.isEmpty,
      s"${diffs.size} of ${simulated.size} vertices diverge, first 10: ${diffs.take(10)}")
    if (microBatchCount > 1) {
      // the multi-batch path is NOT vacuously the single-batch one
      val single = ReferenceSim.incrementalPipeline(edges, 0.8, microBatchCount = 1)
      assert(simulated != single,
        "fixture too small: multi-batch and 1-batch runs coincide, the test exercises nothing")
    }
  }

  test("distributed initial partition matches the faithful reference simulation (email-Eu-core)") {
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    initialPartitionParity(raw)
  }

  test("full DWCC partition matches the sequential pipeline simulation (email-Eu-core)") {
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    dwccParity(EdgeOps.toGraph(EdgeOps.canonicalize(raw)))
  }

  test("incremental IDWCC matches the sequential pipeline simulation (email-Eu-core)") {
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    idwccParity(EdgeOps.canonicalize(raw), 1)
  }

  test("3-micro-batch incremental IDWCC matches the sequential simulation (email-Eu-core)") {
    // exercises what a single batch cannot: the cross-batch state
    // threading — zero-reset graft-back baselines read by batch 2/3's
    // delta updates and global-cc fold, border/new classification
    // against the bulk universe, and the batch-edge-dropping quirk
    // (each batch merges onto the BULK edge set, never batch 1's)
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    idwccParity(EdgeOps.canonicalize(raw), 3)
  }

  test(s"distributed initial partition matches the faithful reference simulation (${ParityGraph.Name})") {
    initialPartitionParity(ParityGraph.load(spark))
  }

  test(s"full DWCC partition matches the sequential pipeline simulation (${ParityGraph.Name})") {
    dwccParity(EdgeOps.toGraph(EdgeOps.canonicalize(ParityGraph.load(spark))))
  }

  test(s"incremental IDWCC matches the sequential pipeline simulation (${ParityGraph.Name})") {
    idwccParity(EdgeOps.canonicalize(ParityGraph.load(spark)), 1)
  }

  test(s"3-micro-batch incremental IDWCC matches the sequential simulation (${ParityGraph.Name})") {
    idwccParity(EdgeOps.canonicalize(ParityGraph.load(spark)), 3)
  }

  // a hub of degree above 10,000 (the degree at which the triangle
  // stats once switched exchanges): the refinement and the WCC
  // evaluation run with hub-sized same-community arrays
  test("full DWCC partition matches the sequential pipeline simulation (hub above the degree threshold)") {
    assert(hubPath.count(_._1 == 0L) > 10000)
    dwccParity(graphOf(spark, hubPath))
  }

  test("incremental IDWCC matches the sequential pipeline simulation (hub above the degree threshold)") {
    import spark.implicits._
    // the 0.8 split leaves the bulk hub below the threshold; the
    // merged graph's fixed-5 refinement sees it above
    idwccParity(hubPath.toDF("src", "dst"), 1)
  }

  test("simulation parity on micro-graphs too") {
    import GraphFixtures._
    val cases = Seq(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)),
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)),
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
        (5L, 6L), (6L, 7L), (5L, 7L), (2L, 6L)))
    cases.foreach { edges =>
      val tri = TriangleStats.run(graphOf(spark, edges))
      val adj = tri.pruned.edges.collect()
        .flatMap(e => Seq((e.srcId, e.dstId), (e.dstId, e.srcId)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSeq }
      val stats = tri.pruned.vertices.collect()
        .map { case (id, vd) => id -> (vd.t, vd.vt) }.toMap
      val simulated = ReferenceSim.initialPartition(adj, stats)
      val distributed = InitialPartition.run(tri.pruned)
        .vertices.collect().map { case (id, vd) => id -> vd.cId }.toMap
      assert(distributed === simulated, s"divergence on $edges")
    }
  }
}
