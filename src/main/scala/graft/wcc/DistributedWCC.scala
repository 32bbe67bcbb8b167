package graft.wcc

import org.apache.spark.graphx._

/**
 * Batch DWCC community detection (SURVEY.md §3.1): preprocess
 * (triangle stats + prune) -> clustering-coefficient-seeded initial
 * partition (Pregel) -> WCC hill-climbing refinement
 * (REMOVE/TRANSFER/STAY movements, accepted while the global WCC
 * improves).
 *
 * Behavioral contract: reference `DistributedWCC.scala:21-577`
 * (Prat-Perez et al., arXiv:1411.0557). Deliberate deviations, per
 * SURVEY.md §4/§7: phase outputs are cached (the reference recomputes
 * the whole DAG on every action), intermediate debug CSV sinks become
 * caller-visible DataFrames/RDDs instead of hard-coded paths, and
 * lineage is truncated with localCheckpoint inside the loop.
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
      /** partition after the Pregel seeding phase — the reference's
       * InitialPartitionResult dump surface */
      initialPartition: Graph[VertexData, Int],
      /** pruned triangle-core input of the partitioning phases */
      prunedCore: Graph[VertexData, Int],
      /** refined partition on the pruned core (before the graft-back
       * onto the original vertex set) — callers that only need
       * `graph` can release these cached phase surfaces */
      refinedCore: Graph[VertexData, Int])

  /** Phase wall-clock logging, mirroring the reference's
   * instrumentation points (`DistributedWCC.scala:43,59,281,295-302`,
   * see BASELINE.md). */
  /** Cumulative stop-the-world GC milliseconds of this JVM — the
   * refine-iteration log carries the per-iteration delta so a wall
   * spike can be attributed (or not) to collector pauses without
   * re-running under external GC logging (PERF r18: the residency
   * spike investigation). local-mode only telemetry: driver and
   * executors share the JVM, so this sees executor-side GC too. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def timed[T](phase: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    val r = f
    System.err.println(s"[graft-wcc] $phase: ${System.currentTimeMillis() - t0} ms")
    r
  }

  def run(graph: Graph[Int, Int], maxRetries: Int = DefaultMaxRetries,
      maxPregelIterations: Int = 50,
      precomputedStats: Option[TriangleStats.Result] = None,
      precomputedInit: Option[Graph[VertexData, Int]] = None,
      precomputedSeedEval: Option[(VertexRDD[CommunityOps.NbrSurface],
        Map[Long, CommunityData], Double)] = None): Output = {
    val vertexCount = graph.numVertices
    // failure-path sweep (review r17): precomputed inputs predate the
    // snapshot and survive; a failure in any phase below drops every
    // cache this call registered (incl. GraphX self-persists)
    val sweepBase = WccUtil.cacheSnapshot(graph.vertices.sparkContext)
    try {

    // Phase: preprocessing (`DistributedWCC.scala:88-130`)
    val tri = timed("preprocess") {
      val t = precomputedStats.getOrElse(TriangleStats.run(graph))
      t.pruned.cache()
      t.pruned.numVertices
      t
    }
    val pruned = tri.pruned

    // Phase: community initialization (`:138-152`)
    val initGraph = precomputedInit.getOrElse(timed("initial-partition") {
      InitialPartition.run(pruned, maxPregelIterations)
    })

    // Phase: WCC iteration (`:260-329`)
    val (best, bestCs, bestWcc, globalCC) = timed("refinement") {
      refinePartition(initGraph, vertexCount, maxRetries, precomputedSeedEval)
    }

    // Graft results onto the original graph: every input vertex is in
    // the output; pruned ones as singletons (`:64-77`).
    val resultGraph = graph.outerJoinVertices(best.vertices) { (id, _, vdOpt) =>
      vdOpt.getOrElse(VertexData(id, 0, 0, id))
    }

    Output(resultGraph, bestCs, bestWcc, globalCC, tri.fullStats, initGraph,
      pruned, best)
    } catch {
      case t: Throwable =>
        // a PRECOMPUTED seed surface predates the snapshot, so the
        // sweep cannot reach it — but the documented contract says
        // refinement owns its release and callers keep only the
        // scalar score, so a failure BEFORE refinement consumed it
        // must release it here (review r17)
        WccUtil.quietly(precomputedSeedEval.foreach(
          _._1.unpersist(blocking = false)))
        WccUtil.quietly(
          WccUtil.sweepNewCaches(graph.vertices.sparkContext, sweepBase))
        throw t
    }
  }

  /** TEST-ONLY failure seam: when >= 0, the refinement loop throws
   * at the matching point — 0 = right after the iteration-0 seed
   * evaluation, k >= 1 = the top of generation k — letting the leak
   * specs prove the thrown-through release coverage on every stage.
   * Never set outside specs. */
  @volatile private[wcc] var testFailAtIter: Int = -1

  /** Test seams for RefineLoopGuardSpec (VERDICT r18 item 4): an
   * injected delay inside the async scaffold supplier, and a flag
   * recording whether some iteration OBSERVED the scaffold evaluation
   * still in flight after the speculative next generation was built —
   * i.e. the two genuinely ran concurrently. A regression that
   * serializes the scaffold (inline call, or joining the future
   * before speculating) can never set the flag. Production cost: one
   * volatile read/write per iteration. Never set the delay outside
   * specs. */
  @volatile private[wcc] var testScaffoldDelayMs: Long = 0L
  @volatile private[wcc] var lastScaffoldOverlapped: Boolean = false

  /** Iteration-0 evaluation of a seed partition — THE evaluation the
   * refinement loop starts from: the fused [[CommunityOps.nbrSurfaces]]
   * exchange (cached; the caller, or the refinement it is handed to,
   * owns the release) plus the concurrent stats/WCC evaluation over
   * it. Exposed so a caller verifying the seed partition (the seeding
   * value check) can share it with [[run]] via `precomputedSeedEval`
   * instead of evaluating twice. */
  private[graft] def seedEvaluation(initGraph: Graph[VertexData, Int],
      vertexCount: Long): (VertexRDD[CommunityOps.NbrSurface],
        Map[Long, CommunityData], Double) = {
    val surf = CommunityOps.nbrSurfaces(initGraph)
    surf.cache()
    val (cs, w) = CommunityOps.evalSurfacesConcurrent(initGraph, surf,
      vertexCount)
    (surf, cs, w)
  }

  /** One movement step (reference `DistributedWCC.scala:331-365`),
   * shared by the batch and the incremental refinement: the stats
   * are broadcast, every vertex with a surface takes its
   * [[bestMovementCompact]] decision, and the moved graph is cached
   * (not materialized — the caller's next action does that). The
   * returned accumulator counts vertices whose community changed;
   * task retries can only inflate a nonzero count, never fabricate
   * one from a true zero. */
  private[wcc] def movementStep(graph: Graph[VertexData, Int],
      surf: VertexRDD[CommunityOps.NbrSurface], stats: Map[Long, CommunityData],
      globalCC: Double, vertexCount: Long, accName: String)
      : (Graph[VertexData, Int], org.apache.spark.util.LongAccumulator) = {
    val sc = graph.vertices.sparkContext
    val bStats = sc.broadcast(stats)
    val movedAcc = sc.longAccumulator(accName)
    val moved = graph.outerJoinVertices(surf) { (_, vd, sOpt) =>
      sOpt match {
        case Some(s) =>
          val out = bestMovementCompact(vd, s.cIds, s.counts, bStats.value,
            globalCC, vertexCount)
          if (out.cId != vd.cId) movedAcc.add(1L)
          out
        case None => vd
      }
    }
    moved.cache()
    (moved, movedAcc)
  }

  /** Refinement loop (G5, reference `DistributedWCC.scala:260-329`):
   * movements are accepted while global WCC improves; an improvement
   * above Threshold resets the retry budget.
   *
   * Each generation runs ONE fused exchange producing the compact
   * [[CommunityOps.NbrSurface]], which feeds the next movement step,
   * the derived community stats AND the WCC evaluation. There is one
   * loop for every graph: hub safety lives in the evaluation's
   * skew-adaptive intersection kernel, not in a second strategy. */
  private[wcc] def refinePartition(initGraph: Graph[VertexData, Int], vertexCount: Long,
      maxRetries: Int,
      seedEval: Option[(VertexRDD[CommunityOps.NbrSurface],
        Map[Long, CommunityData], Double)] = None): (Graph[VertexData, Int], Map[Long, CommunityData], Double, Double) = {
    // globalCC = (sum of cc over PRUNED vertices) / ORIGINAL count
    // (reference `:261-262` — the sum runs on the optimized graph).
    val globalCC = initGraph.vertices.map(_._2.cc).sum() / vertexCount
    // entry snapshot for the failure-path sweep (leak-spec finding,
    // r17): a precomputed seed surface and the init graph predate
    // this, so the sweep can never touch caller-owned caches
    val sweepBase = WccUtil.cacheSnapshot(initGraph.vertices.sparkContext)
    var bestPartition = initGraph
    // The iteration-0 evaluation of the seed partition may arrive
    // precomputed (GraphQueries memoizes it so the seeding value
    // check shares it). It MUST be [[seedEvaluation]] of the same
    // seed graph — identical code on identical input — so the
    // refinement trajectory is bit-unchanged; the surf may be
    // unpersisted below like any superseded generation (callers keep
    // only the scalar score).
    var (bestSurf, bestCs, bestWcc) = try {
      val seed = seedEval.getOrElse(seedEvaluation(bestPartition, vertexCount))
      if (testFailAtIter == 0)
        throw new RuntimeException("injected test failure after seed evaluation")
      seed
    } catch {
      // iteration-0 failure (review r17): an internally-built seed
      // surface and the exchange's GraphX self-persists are swept; a
      // PRECOMPUTED seed surface predates the snapshot and needs the
      // named release (the contract hands its release to this loop)
      case t: Throwable =>
        WccUtil.quietly(seedEval.foreach(_._1.unpersist(blocking = false)))
        WccUtil.quietly(
          WccUtil.sweepNewCaches(initGraph.vertices.sparkContext, sweepBase))
        throw t
    }

    // Pipelined acceptance loop (PERF.md r20). One movement
    // generation = (movement join, fused surfaces, derived stats) —
    // the strictly sequential chain an iteration cannot avoid. The
    // WCC evaluation of generation k, however, only gates ACCEPTANCE,
    // and a rejection EXITS the loop — so generation k+1's chain runs
    // CONCURRENTLY with k's evaluation (speculation wasted exactly
    // once, on the final rejected iteration; never on an accept,
    // because speculation only happens when an accept provably
    // continues the loop). The trajectory is bit-identical to the
    // sequential form: generation k+1 is built from generation k with
    // k's stats broadcast, exactly as the sequential loop would after
    // accepting k.
    final case class Gen(no: Int, graph: Graph[VertexData, Int],
        surf: VertexRDD[CommunityOps.NbrSurface], cs: Map[Long, CommunityData])
    def releaseGen(g: Gen): Unit = {
      g.surf.unpersist(blocking = false)
      if (g.graph ne initGraph) {
        g.graph.unpersistVertices(blocking = false)
        g.graph.edges.unpersist(blocking = false)
      }
    }
    val sc = initGraph.vertices.sparkContext
    var iter = 0
    def advance(baseGraph: Graph[VertexData, Int],
        baseSurf: VertexRDD[CommunityOps.NbrSurface],
        baseCs: Map[Long, CommunityData]): Gen = {
      // movement-count telemetry (log-only — never read for control
      // flow): sizes the would-be win of a delta-surface iteration
      // (O(Σdeg(moved)) exchange instead of O(|E|)) against the
      // measured move profile. See PERF.md round-21.
      val (mg, movedAcc) = movementStep(baseGraph, baseSurf, baseCs,
        globalCC, vertexCount, "wcc-moves-gen")
      iter += 1
      if (iter % 8 == 0 && sc.getCheckpointDir.isDefined) mg.checkpoint()
      val ms = CommunityOps.nbrSurfaces(mg)
      ms.cache()
      // the stats fold is the generation's materializing job
      val cs = CommunityOps.statsFromSurfaces(mg, ms)
      // populated by the stats fold above (it materialized mg)
      System.err.println(s"[graft-wcc] gen $iter moves=${movedAcc.value}")
      Gen(iter, mg, ms, cs)
    }

    var retriesLeft = maxRetries
    var cand: Gen = null
    var continueLoop = true
    // Thrown-through hygiene (ADVICE r16): the inner catch arms
    // release the SPECULATIVE generation and the scaffold, but the
    // current generation `cand`, the best surface and the best
    // partition are cached across arms — a rethrow must not leave
    // them pinned for the session. Double-release of a generation an
    // inner arm or the accept branch already freed is a no-op.
    try {
    cand = advance(bestPartition, bestSurf, bestCs)
    while (continueLoop) {
      if (cand.no == testFailAtIter)
        throw new RuntimeException(s"injected test failure at iter ${cand.no}")
      val t0 = System.currentTimeMillis()
      val gc0 = gcMillis()
      val scaffoldF = java.util.concurrent.CompletableFuture.supplyAsync(() => {
        if (testScaffoldDelayMs > 0L) Thread.sleep(testScaffoldDelayMs)
        CommunityOps.wccEvalScaffold(cand.graph, cand.surf)
      })
      // on any failure below, the in-flight scaffold job must be
      // observed and its cache released — a thrown-through iteration
      // must not leave a materialized block pinned for the session
      def dropScaffold(): Unit =
        try WccUtil.joinUnwrapped(scaffoldF).unpersist(blocking = false)
        catch { case _: Throwable => () }
      // speculate the next generation only when an accept would
      // certainly continue the loop (post-decrement retries >= 1)
      val spec = try {
        if (retriesLeft > 1) Some(advance(cand.graph, cand.surf, cand.cs))
        else None
      } catch { case t: Throwable => dropScaffold(); throw t }
      // the overlap record: speculation finished while the scaffold
      // evaluation was still running (RefineLoopGuardSpec's pin).
      // Gated on the injected-delay seam so production iterations
      // never write the global flag — concurrent refinePartition
      // calls would otherwise interleave writes (ADVICE r19); the
      // spec always sets the delay before reading the flag.
      if (testScaffoldDelayMs > 0 && spec.isDefined && !scaffoldF.isDone)
        lastScaffoldOverlapped = true
      val scaffold = try WccUtil.joinUnwrapped(scaffoldF) catch {
        case t: Throwable => spec.foreach(releaseGen); throw t
      }
      val newWcc = try
        CommunityOps.wccFromScaffold(scaffold, cand.cs, vertexCount)
      catch { case t: Throwable =>
        scaffold.unpersist(blocking = false); spec.foreach(releaseGen); throw t
      }
      scaffold.unpersist(blocking = false)
      retriesLeft -= 1
      System.err.println(s"[graft-wcc] refine iter ${cand.no}: " +
        s"${System.currentTimeMillis() - t0} ms, gc=${gcMillis() - gc0} ms, " +
        s"wcc=$newWcc (best=$bestWcc)")

      if (newWcc > bestWcc) {
        if (newWcc / bestWcc - 1 > Threshold) retriesLeft = maxRetries
        val prev = bestPartition
        val prevSurf = bestSurf
        bestPartition = cand.graph
        bestSurf = cand.surf
        bestWcc = newWcc
        bestCs = cand.cs
        prevSurf.unpersist(blocking = false)
        if (prev ne initGraph) {
          prev.unpersistVertices(blocking = false)
          prev.edges.unpersist(blocking = false)
        }
        if (retriesLeft > 0)
          cand = spec.getOrElse(advance(bestPartition, bestSurf, bestCs))
        else {
          // spec is provably None here: it is built only when
          // pre-decrement retriesLeft > 1, i.e. post-decrement >= 1,
          // and the Threshold reset can only RAISE retriesLeft — so
          // an accept landing at 0 retries implies no speculation ran
          continueLoop = false
        }
      } else {
        spec.foreach(releaseGen)
        releaseGen(cand)
        continueLoop = false
      }
    }
    } catch {
      case t: Throwable =>
        WccUtil.quietly {
          if (cand != null) releaseGen(cand)
          // unconditional, like the success path below: callers keep
          // only the scalar score of a precomputed seed evaluation
          bestSurf.unpersist(blocking = false)
          if (bestPartition ne initGraph) {
            bestPartition.unpersistVertices(blocking = false)
            bestPartition.edges.unpersist(blocking = false)
          }
        }
        // drop the GraphX-internal self-persists the names above
        // cannot reach (upgraded replicated views etc.) — everything
        // registered since entry is this call's garbage on failure
        WccUtil.quietly(
          WccUtil.sweepNewCaches(initGraph.vertices.sparkContext, sweepBase))
        throw t
    }
    bestSurf.unpersist(blocking = false)

    (bestPartition, bestCs, bestWcc, globalCC)
  }

  /** F7 (reference `DistributedWCC.scala:368-405`): REMOVE iff
   * wccR - wccT > 1e-5 and wccR > 0; else TRANSFER to the best
   * candidate iff wccT > 0; else STAY. Candidates are the neighbor
   * communities with r > 1 other than the current one. Map adapter
   * over the compact core (used by the reference simulator in the
   * parity suite, so the sim exercises the same decision code). */
  private[wcc] def bestMovement(vertex: VertexData, vcDegrees: Map[Long, Int],
      communityStats: Map[Long, CommunityData], globalCC: Double,
      vertexCount: Long): VertexData = {
    val sorted = vcDegrees.toArray.sortBy(_._1)
    bestMovementCompact(vertex, sorted.map(_._1), sorted.map(_._2),
      communityStats, globalCC, vertexCount)
  }

  /** The movement decision on the compact (sorted cId, count)
   * arrays. Candidate iteration in ascending cId order: the
   * reference iterates an unspecified Map order, so ties on
   * candidateWccT are implementation-defined there; sorting makes
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
