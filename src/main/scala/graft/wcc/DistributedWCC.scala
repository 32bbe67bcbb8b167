package graft.wcc

import graft.graph.Fixpoint
import org.apache.spark.graphx._

/**
 * Batch DWCC community detection (SURVEY.md §3.1): preprocess
 * (triangle stats + prune) -> clustering-coefficient-seeded initial
 * partition (a superstep loop) -> WCC hill-climbing refinement
 * (REMOVE/TRANSFER/STAY movements, accepted while the global WCC
 * improves).
 *
 * Behavioral contract: reference `DistributedWCC.scala:21-577`
 * (Prat-Perez et al., arXiv:1411.0557). Deliberate deviations, per
 * SURVEY.md §4/§7: phase outputs are cached (the reference recomputes
 * the whole DAG on every action), intermediate debug CSV sinks become
 * caller-visible DataFrames/RDDs instead of hard-coded paths, and
 * every phase output and refine generation is a lineage cut
 * (`Fixpoint.CacheScope.cut`), so a phase schedules only its own
 * stages.
 */
object DistributedWCC {

  /** Reference `DistributedWCC.scala:27-29`. */
  val Threshold = 0.01f
  val DefaultMaxRetries = 5

  final case class Output(
      /** final partition on the ORIGINAL vertex set: pruned vertices
       * come back as their own singleton communities (graft-back,
       * reference `DistributedWCC.scala:64-77`) */
      graph: Graph[VertexData, Int],
      communityStats: Map[Long, CommunityData],
      bestWcc: Double,
      globalCC: Double,
      /** (vId, (t, vt)) over the full input graph — the reference's
       * TriangleCountResult dump surface */
      triangleStats: VertexRDD[(Int, Int)],
      /** partition after the seeding phase — the reference's
       * InitialPartitionResult dump surface */
      initialPartition: Graph[VertexData, Int],
      /** pruned triangle-core input of the partitioning phases */
      prunedCore: Graph[VertexData, Int],
      /** refined partition on the pruned core (before the graft-back
       * onto the original vertex set) — callers that only need
       * `graph` can release these cached phase surfaces once `graph`
       * is materialized: until then its vertices read this one */
      refinedCore: Graph[VertexData, Int]) {
    /** the RDDs these surfaces hold cached */
    private[wcc] def cached: Seq[org.apache.spark.rdd.RDD[_]] =
      Seq(graph, initialPartition, prunedCore, refinedCore).flatMap(WccUtil.cached) :+
        triangleStats
  }

  /** Phase wall-clock logging, mirroring the reference's
   * instrumentation points (`DistributedWCC.scala:43,59,281,295-302`,
   * see BASELINE.md). */
  private def timed[T](phase: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    val r = f
    System.err.println(s"[graft-wcc] $phase: ${System.currentTimeMillis() - t0} ms")
    r
  }

  /** The partition of `graph`. Only the [[Output]] surfaces stay
   * cached, and a precomputed input is the caller's, except the seed
   * state, which the refinement releases. */
  def run(graph: Graph[Int, Int], maxRetries: Int = DefaultMaxRetries,
      maxPregelIterations: Int = 50,
      precomputedStats: Option[TriangleStats.Result] = None,
      precomputedInit: Option[Graph[VertexData, Int]] = None,
      precomputedSeedEval: Option[(RefineState, Map[Long, CommunityData],
        Double)] = None): Output = Fixpoint.returning { scope =>
    // released here if a phase before the refinement fails
    precomputedSeedEval.foreach(s => scope.adopt(s._1.blocks))
    val vertexCount = graph.numVertices

    // Phase: preprocessing (`DistributedWCC.scala:88-130`)
    // TriangleStats.run caches and materializes the pruned core
    val tri = precomputedStats.getOrElse {
      val t = timed("preprocess")(TriangleStats.run(graph))
      scope.adopt(t.cached: _*)
      t
    }
    Failpoint("after preprocess")
    val pruned = tri.pruned

    // Phase: community initialization (`:138-152`)
    val initGraph = precomputedInit.getOrElse {
      val i = timed("initial-partition")(InitialPartition.run(pruned, maxPregelIterations))
      scope.adopt(WccUtil.cached(i): _*)
      i
    }
    Failpoint("after initial-partition")

    // Phase: WCC iteration (`:260-329`)
    precomputedSeedEval.foreach(s => scope.disown(s._1.blocks))
    val (best, bestCs, bestWcc, globalCC) = timed("refinement") {
      refinePartition(initGraph, vertexCount, maxRetries, precomputedSeedEval)
    }
    if (best ne initGraph) scope.adopt(WccUtil.cached(best): _*)

    // Graft results onto the original graph: every input vertex is in
    // the output; pruned ones as singletons (`:64-77`). The core's
    // vertices join as a plain pair RDD under the same partitioner:
    // handed its VertexRDD, whose index (the core's vertex set) differs
    // from the input's, GraphX warns once per partition that it must
    // re-index them — the same per-partition rebuild this join does.
    val coreVertices = best.vertices.mapPartitions(identity, preservesPartitioning = true)
    val resultGraph = scope.cut(graph.outerJoinVertices(coreVertices) { (id, _, vdOpt) =>
      vdOpt.getOrElse(VertexData(id, 0, 0, id))
    })

    Output(resultGraph, bestCs, bestWcc, globalCC, tri.fullStats, initGraph,
      pruned, best)
  }(_.cached)

  /** Iteration-0 evaluation of a seed partition — THE evaluation the
   * refinement loop starts from: the seed [[RefineState]] (cached
   * vertex blocks with triangle counts, which the caller owns — or the
   * refinement it is handed to), its community stats and its global
   * WCC. Two Spark jobs: the block build, whose result is the stats,
   * and the WCC_V fold under them. Exposed so a caller verifying the
   * seed partition (the seeding value check) can share it with [[run]]
   * via `precomputedSeedEval` instead of evaluating twice. */
  private[graft] def seedEvaluation(initGraph: Graph[VertexData, Int],
      vertexCount: Long): (RefineState, Map[Long, CommunityData], Double) =
    Fixpoint.returning(seedEvaluation(initGraph, vertexCount, _))(s => Seq(s._1.blocks))

  private def seedEvaluation(initGraph: Graph[VertexData, Int], vertexCount: Long,
      scope: Fixpoint.CacheScope): (RefineState, Map[Long, CommunityData], Double) = {
    val s = RefineState.seed(initGraph, countTriangles = true, RefineState.in(scope))
    (s, s.stats, s.wcc(vertexCount))
  }

  /** Refinement loop (G5, reference `DistributedWCC.scala:260-329`):
   * movements are accepted while global WCC improves; an improvement
   * above Threshold resets the retry budget.
   *
   * Runs on [[RefineState]] blocks, one Spark job per generation: the
   * job that scores generation k also moves it into generation k+1
   * (and counts k+1's triangles and stats), so the next generation is
   * ready whenever k is accepted. A rejection, or an accept with no
   * retries left, wastes that one built generation. The trajectory is
   * the sequential one: k+1 is moved from k under k's stats, exactly
   * as after accepting k. The WCC of a generation is its per-partition
   * WCC_V sums folded in partition order, so repeated runs agree to
   * the bit. Every generation is a lineage cut, so its job schedules
   * no stage of the ones before it. Only the
   * best labels go back to a `Graph`, the one cached surface the call
   * returns; `globalCC` is [[IncrementalWCC.detGlobalCC]], shared with
   * the incremental mode. The seed state, `seedEval` included, is
   * released. */
  private[wcc] def refinePartition(initGraph: Graph[VertexData, Int], vertexCount: Long,
      maxRetries: Int,
      seedEval: Option[(RefineState, Map[Long, CommunityData], Double)] = None)
      : (Graph[VertexData, Int], Map[Long, CommunityData], Double, Double) =
    Fixpoint.returning { scope =>
      seedEval.foreach(s => scope.adopt(s._1.blocks))
      // globalCC = (sum of cc over PRUNED vertices) / ORIGINAL count
      // (reference `:261-262` — the sum runs on the optimized graph)
      val globalCC = IncrementalWCC.detGlobalCC(initGraph.vertices, vertexCount)
      // The seed evaluation may arrive precomputed (GraphQueries
      // memoizes it so the seeding value check shares it). It MUST be
      // [[seedEvaluation]] of the same seed graph, so the trajectory is
      // unchanged.
      val (seed, seedCs, seedWcc) =
        seedEval.getOrElse(seedEvaluation(initGraph, vertexCount, scope))
      Failpoint("after seed evaluation")
      var bestCs = seedCs
      var bestWcc = seedWcc
      var retriesLeft = maxRetries
      // `cur` is generation `no`, the one the next job scores
      var no = 1
      var cur = seed.step(globalCC, vertexCount, score = false, countTriangles = true,
        RefineState.in(scope))
      scope.release(seed.blocks)
      System.err.println(s"[graft-wcc] gen 1 moves=${cur.moved}")
      // labels of the best generation; null while it is the seed
      var bestLabels: org.apache.spark.rdd.RDD[(VertexId, Long)] = null
      var done = false
      while (!done) {
        Failpoint(s"at iter $no")
        val t0 = System.currentTimeMillis()
        val next = cur.step(globalCC, vertexCount, score = true, countTriangles = true,
          RefineState.in(scope))
        val newWcc = next.wccPrev / vertexCount
        retriesLeft -= 1
        System.err.println(s"[graft-wcc] refine iter $no: " +
          s"${System.currentTimeMillis() - t0} ms, wcc=$newWcc (best=$bestWcc), " +
          s"gen ${no + 1} moves=${next.moved}")
        if (newWcc > bestWcc) {
          if (newWcc / bestWcc - 1 > Threshold) retriesLeft = maxRetries
          bestWcc = newWcc
          bestCs = cur.stats
          // `next` keeps the accepted labels as its previous labels
          scope.release(cur.blocks)
          cur = next
          no += 1
          bestLabels = cur.prevLabels
          done = retriesLeft == 0
        } else done = true
      }
      val best = if (bestLabels == null) initGraph
        else RefineState.toGraph(initGraph, bestLabels, scope)
      (best, bestCs, bestWcc, globalCC)
    } { case (best, _, _, _) => WccUtil.cached(best) }

  /** F7 (reference `DistributedWCC.scala:368-405`): REMOVE iff
   * wccR - wccT > 1e-5 and wccR > 0; else TRANSFER to the best
   * candidate iff wccT > 0; else STAY. Candidates are the neighbor
   * communities with r > 1 other than the current one, given as the
   * compact (sorted cId, count) arrays. Candidate iteration in ascending
   * cId order: the reference iterates an unspecified Map order, so ties
   * on candidateWccT are implementation-defined there; sorting makes
   * ours deterministic. */
  private[wcc] def bestMovementCompact(vertex: VertexData, cIds: Array[Long],
      counts: Array[Int], communityStats: Map[Long, CommunityData],
      globalCC: Double, vertexCount: Long): VertexData = {
    var total = 0
    var i = 0
    while (i < counts.length) { total += counts(i); i += 1 }
    val ownIdx = java.util.Arrays.binarySearch(cIds, vertex.cId)
    val dInOwn = if (ownIdx >= 0) counts(ownIdx) else 0
    val wccR = WCCMetric.computeWccRFromDegrees(vertex, dInOwn, total - dInOwn,
      communityStats(vertex.cId), globalCC, vertexCount)
    var wccT = 0.0
    var bestC = vertex.cId
    i = 0
    while (i < cIds.length) {
      val cId = cIds(i)
      if (vertex.cId != cId) {
        val cData = communityStats(cId)
        if (cData.r > 1) {
          val dIn = counts(i)
          val dOut = total - dIn
          val candidateWccT = wccR +
            WCCMetric.computeWccI(cData, dIn, dOut, globalCC, vertexCount)
          if (candidateWccT > wccT) {
            wccT = candidateWccT
            bestC = cId
          }
        }
      }
      i += 1
    }
    if (wccR - wccT > 0.00001 && wccR > 0.0) vertex.copy(cId = vertex.vId)
    else if (wccT > 0.0) vertex.copy(cId = bestC)
    else vertex
  }
}
