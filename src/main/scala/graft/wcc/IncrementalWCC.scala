package graft.wcc

import graft.graph.{Fixpoint, SortedIntersect}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.graphx._
import org.apache.spark.rdd.RDD

/**
 * Incremental DWCC ("IDWCC", SURVEY.md §3.3): given a previously
 * computed partition, merge a micro-batch of new edges, locally
 * update triangle statistics for affected (border/new) vertices,
 * re-seed with the existing communities and refine with a fixed
 * number of movement iterations.
 *
 * Behavioral contract: reference `IncrementalWCC.scala:21-598`,
 * including its quirk ledger (SURVEY.md §7.1), replicated because
 * they ARE the reference's observable semantics:
 *  - a border/new vertex whose delta stats are non-zero has its
 *    community RESET to itself (`IncrementalWCC.scala:172` constructs
 *    `new VertexData(vId, t, vt)` whose cId defaults to vId);
 *  - `run` grafts results onto the PREVIOUS graph's vertex/edge set
 *    (`:56-58` builds dataGraph from itGraph, not fullGraph) and
 *    returns the INCOMING community stats, not the freshly computed
 *    ones (`:69`);
 *  - refinement is a fixed 5 iterations with no WCC acceptance test
 *    (`:342-382`).
 *
 * Scale deviation (SURVEY.md §7.3): the reference collects the whole
 * batch vertex set to the driver (`:86-89`); here the batch ids
 * (small by definition of a micro-batch) become broadcast sets and
 * every membership filter runs distributed.
 */
object IncrementalWCC {

  /** `bulkFlagged`, when present, is the canonical (min, max) key set
   * of STATE-graph edges with >= 1 common neighbor IN THE STATE GRAPH
   * ALONE — the batch-invariant half of each micro-batch's
   * triangle-edge flagging. The graft-back contract keeps the state's
   * edge set fixed at the bulk edge set across batches
   * (reference `IncrementalWCC.scala:56-58` — batch edges never
   * persist), so the set stays valid for every subsequent [[run]] and
   * each batch only enumerates the NEW triangles its own edges close
   * ([[deltaFlags]]) instead of re-running the full-merged-graph
   * support exchange. Callers constructing a State by hand may leave
   * it None — [[performInitialPartition]] then takes the
   * from-scratch path. */
  final case class State(graph: Graph[VertexData, Int], stats: Map[Long, CommunityData],
      bulkFlagged: Option[RDD[(Long, Long)]] = None) {
    /** the RDDs this state holds cached */
    private[wcc] def cached: Seq[RDD[_]] = WccUtil.cached(graph) ++ bulkFlagged
  }

  /** The reference's graft-back join body (`DistributedWCC.scala:68-77`
   * and `IncrementalWCC.scala:58-67`): the previous universe is RESET
   * to `new VertexData(id, 0, 0)` (whose cId defaults to id) and a
   * result vertex survives only `if (v.cId != vd.cId)` — so a
   * SELF-LABELED result vertex (community centers included!) comes
   * back with ZEROED triangle stats, not its true (t, vt). The final
   * emitted tuple is (vId, cId) so this is invisible in any single
   * run's output, but the zeroed stats are the BASELINE the next
   * micro-batch's delta update and global-cc fold read — with
   * microBatchCount >= 2 (or any run after prepare) the quirk is
   * load-bearing and observable. Replicated here, in the sequential
   * simulator (ReferenceSim), and in the DuckDB replay (the
   * `bulkstate`/`st_k` CTEs of `incrReplayCte`). */
  private def graftQuirk(id: Long, vdOpt: Option[VertexData]): VertexData =
    vdOpt match {
      case Some(vd) if vd.cId != id => vd
      case _ => VertexData(id, 0, 0, id)
    }

  /** Reference `IncrementalWCC.scala:73-77`: initial bulk run.
   * CONSUMES the input graph: once the state graph is materialized,
   * the input and the bulk run's phase surfaces are uncached (they
   * would otherwise stay resident for the whole stream).
   * `precomputedStats` short-circuits the bulk preprocess when the
   * caller already holds the bulk graph's triangle stats (e.g.
   * derived from a session-memoized full adjacency via
   * `TriangleStats.restrictedResult` — value-identical, spec-pinned).
   *
   * The state graph applies [[graftQuirk]] on top of
   * `DistributedWCC.run`'s output graft: the reference's bulk graft
   * (`DistributedWCC.scala:68-77`) zeroes self-labeled vertices'
   * (t, vt), and THOSE zeroed values are the incremental baseline —
   * graft's own `Output.graph` deliberately keeps the richer true
   * stats for batch callers, so the quirk is re-applied here where
   * the reference semantics need it. */
  def prepare(graph: Graph[Int, Int],
      precomputedStats: Option[TriangleStats.Result] = None): State =
    Fixpoint.returning { scope =>
      val out = DistributedWCC.run(graph, precomputedStats = precomputedStats)
      scope.adopt(out.cached: _*)
      val stateGraph = scope.own(out.graph.mapVertices((id, vd) =>
        graftQuirk(id, Some(vd))))
      stateGraph.vertices.count()
      stateGraph.edges.count()
      // harvest the batch-invariant flag set from the pruned core: the
      // core's edges are exactly the bulk edges with positive triangle
      // support (epred attr > 0 decides membership alone — attr > 0
      // implies both endpoint t > 0), i.e. the bulk half of every
      // future batch's triangle-edge flagging (see [[State.bulkFlagged]]).
      val bulkFlagged = scope.cache(out.prunedCore.edges
        .map(e => (math.min(e.srcId, e.dstId), math.max(e.srcId, e.dstId))))
      bulkFlagged.count()
      Failpoint("after prepare")
      // the input is consumed: it goes with the bulk run's surfaces
      scope.adopt(WccUtil.cached(graph): _*)
      State(stateGraph, out.communityStats, Some(bulkFlagged))
    }(_.cached)

  final case class MergeResult(
      fullGraph: Graph[VertexData, Int],
      /** repartitioned union graph fullGraph was derived from (released
       * by `run` once the seed blocks are materialized) */
      merged: Graph[VertexData, Int],
      newIds: Broadcast[Set[Long]],
      borderIds: Broadcast[Set[Long]],
      vertexCount: Long,
      /** edges in the batch: the union with the state's edges is
       * duplicate-free by contract, so the merged graph has exactly
       * this many more edges than the state */
      batchEdges: Long,
      /** deterministic merged-graph global cc ([[detGlobalCC]]),
       * computed as a CONCURRENT job over the already-materialized
       * cached vertices: its only consumer is the refinement, so the
       * fold overlaps the gate probe + flagging + seeding phases
       * instead of serializing inside the merge. Values unchanged —
       * the blocked fold is bit-reproducible wherever it runs. Its job
       * runs under the caller's job group and description. */
      globalCCF: java.util.concurrent.CompletableFuture[Double],
      /** sorted MERGED-graph neighborhoods of the touched
       * (border/new) vertices — built once here, consumed by BOTH
       * the delta stat update and the delta triangle flagging
       * ([[deltaFlags]]); cached, released by `run` after the
       * initial partition. */
      touchedNbrs: RDD[(Long, Array[Long])])

  /** Merge phase (reference `IncrementalWCC.scala:79-112`). Everything
   * it caches and broadcasts belongs to `scope`. */
  private[wcc] def merge(state: State, newEdges: RDD[Edge[Int]],
      scope: Fixpoint.CacheScope): MergeResult = {
    val sc = state.graph.vertices.sparkContext
    // batch vertex ids (micro-batch-sized, safe on the driver) and the
    // batch edge count, in one job
    val perPart = newEdges.mapPartitions { it =>
      val ids = scala.collection.mutable.HashSet.empty[Long]
      var n = 0L
      it.foreach { e => ids += e.srcId; ids += e.dstId; n += 1 }
      Iterator((ids.toArray, n))
    }.collect()
    val batchIds = perPart.iterator.flatMap(_._1).toSet
    val bBatch = scope.broadcast(sc, batchIds)
    val borderIds = state.graph.vertices
      .filter { case (id, _) => bBatch.value.contains(id) }
      .map(_._1).collect().toSet
    val newIds = batchIds -- borderIds
    val bBorder = scope.broadcast(sc, borderIds)
    val bNew = scope.broadcast(sc, newIds)

    // graph union (`:94`); union of canonical edge sets stays
    // duplicate-free because batch edges are new by construction.
    // Re-partition the unioned edge set (EdgePartition2D bounds vertex
    // replication) — a plain union leaves batch edges wherever the
    // source RDD put them.
    // repartition to the STATE graph's partition count, not the
    // union's (state partitions + batch partitions would otherwise
    // add up — a micro-batch must not widen the standing layout,
    // and the state's count carries the edge-count sizing its
    // builder chose)
    // the new vertices join under the state's vertex partitioner, so
    // the union keeps it and the merged graph's vertices stay where the
    // state's are: no vertex shuffle here, and the seeded labels graft
    // back onto the state without one
    val union = scope.own(Graph(
      state.graph.vertices.union(
        sc.parallelize(newIds.toSeq).map(id => (id, VertexData(id, 0, 0, id)))
          .partitionBy(state.graph.vertices.partitioner.get)),
      state.graph.edges.union(newEdges)))
    val fg = scope.own(union.partitionBy(PartitionStrategy.EdgePartition2D,
      state.graph.edges.getNumPartitions))

    val nbrs = scope.cache(touchedNeighborhoods(fg, bBorder, bNew))
    val (fullGraph, vertexCount) = updateVertexData(fg, bBorder, bNew, nbrs, scope)
    // fg is materialized: nothing reads the union any more
    scope.release(WccUtil.cached(union): _*)
    Failpoint("in merge")
    // the count above materialized the cached vertices, so the
    // concurrent fold only re-reads blocks — no racing computation.
    // Local properties reach a pool thread only when it is created, so
    // the fold sets the caller's job group and description itself.
    val jobProps = JobGroupProperties.map(k => (k, sc.getLocalProperty(k)))
    val globalCCF = java.util.concurrent.CompletableFuture.supplyAsync(() => {
      jobProps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try detGlobalCC(fullGraph.vertices, vertexCount)
      finally jobProps.foreach { case (k, _) => sc.setLocalProperty(k, null) }
    })
    MergeResult(fullGraph, fg, bNew, bBorder, vertexCount, perPart.map(_._2).sum,
      globalCCF, nbrs)
  }

  /** the local properties `SparkContext.setJobGroup` sets */
  private val JobGroupProperties =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Deterministic global clustering coefficient: ascending-vid left
   * fold of per-vertex cc within 65536-id blocks, then an
   * ascending-block left fold of the block sums. The merged-graph cc
   * average feeds every movement decision of the fixed-5 refinement
   * (no acceptance test filters them out, unlike the batch loop), so
   * an arbitrary-order `RDD.sum()` here would make the emitted labels
   * partition-dependent; the blocked fold is bit-reproducible across
   * partitionings AND replayable by the DuckDB oracle. On graphs with
   * max id < 65536 (every parity fixture and the sf gate tables) the
   * two-level fold degenerates to the plain ascending-vid left fold
   * the sequential reference simulator uses
   * (ReferenceSimSpec `incrementalPipeline`). Block sums collect to
   * the driver: #blocks = maxId/2^16 (a 10^12-id space yields ~15M
   * doubles; past that add a super-block tier with the same
   * discipline). */
  private[graft] def detGlobalCC(vertices: VertexRDD[VertexData],
      vertexCount: Long): Double = {
    val blockSums = vertices
      .map { case (id, vd) => (id >>> 16, (id, vd.cc)) }
      .groupByKey()
      .mapValues { it =>
        val arr = it.toArray.sortBy(_._1)
        var s = 0.0; var i = 0
        while (i < arr.length) { s += arr(i)._2; i += 1 }
        s
      }
      .collect()
      .sortBy(_._1)
    var s = 0.0; var i = 0
    while (i < blockSums.length) { s += blockSums(i)._2; i += 1 }
    s / vertexCount
  }

  /** Post-merge neighborhoods for border/new vertices only
   * (reference `:120-130`), built with a groupByKey shuffle rather
   * than an aggregateMessages array-concat combiner: the concat
   * combiner left-folds `_ ++ _`, reallocating the growing array once
   * per message — O(D²/P) allocation churn for a degree-D vertex,
   * which the hub-arrival skew probe measured as tens of GiB of
   * garbage on a 202k-degree hub. groupByKey buffers the group
   * once and converts to an array once: O(D) state and
   * allocations, any skew. */
  private[wcc] def touchedNeighborhoods(graph: Graph[VertexData, Int],
      bBorder: Broadcast[Set[Long]], bNew: Broadcast[Set[Long]])
      : RDD[(Long, Array[Long])] = graph.edges
    .flatMap { e =>
      // capture eagerly: GraphX edge iterators reuse the Edge object
      val u = e.srcId; val v = e.dstId
      val border = bBorder.value; val nw = bNew.value
      val touched = (id: Long) => border.contains(id) || nw.contains(id)
      (if (touched(u)) (u, v) :: Nil else Nil) :::
        (if (touched(v)) (v, u) :: Nil else Nil)
    }
    .groupByKey()
    .mapValues { it => val a = it.toArray; java.util.Arrays.sort(a); a }

  /** Delta triangle-stat update (reference `IncrementalWCC.scala:114-181`):
   * only border/new vertices get (possibly partial) recounts, via
   * intersections of their post-merge neighborhoods restricted by the
   * reference's newEdge/borderEdge/newVt flag logic. `touchedNbrs`
   * must be [[touchedNeighborhoods]] of this same graph. Returns the
   * updated graph, cached in `scope` with its vertices materialized,
   * and their count. */
  private def updateVertexData(graph: Graph[VertexData, Int],
      bBorder: Broadcast[Set[Long]], bNew: Broadcast[Set[Long]],
      touchedNbrs: RDD[(Long, Array[Long])],
      scope: Fixpoint.CacheScope): (Graph[VertexData, Int], Long) = {
    // outerJoinVertices caches a graph of another vertex type itself
    val ng: Graph[(VertexData, Array[Long]), Int] =
      scope.own(graph.outerJoinVertices(touchedNbrs)((_, vd, a) =>
        (vd, a.getOrElse(Array.empty[Long]))))

    // per-edge delta counters with the reference's flag logic
    // (`:132-160`): counter counts common neighbors w of a
    // border-border or new-incident edge, incrementing only when the
    // edge is new-incident or w itself is new; otherwise the shared
    // newVt flag is cleared. i = 1 iff counter > 0 and newVt held.
    val stats: VertexRDD[(Int, Int)] = ng.aggregateMessages[(Int, Int)](
      ctx => {
        val border = bBorder.value; val nw = bNew.value
        val borderEdge = border.contains(ctx.srcId) && border.contains(ctx.dstId)
        val newEdge = nw.contains(ctx.srcId) || nw.contains(ctx.dstId)
        if (newEdge || borderEdge) {
          // skewed pairs (hub-leaf edges dominate a power-law batch)
          // gallop inside the kernel: O(min * log max) instead of the
          // merge scan's O(D) per incident edge of a degree-D hub
          // (the skew probe's super-linear wall term)
          var c = 0; var newVt = true
          SortedIntersect.visitCommons(ctx.srcAttr._2, ctx.dstAttr._2) { x =>
            if (x != ctx.srcId && x != ctx.dstId) {
              if (newEdge || nw.contains(x)) c += 1 else newVt = false
            }
          }
          val ind = if (c > 0 && newVt) 1 else 0
          ctx.sendToSrc((c, ind)); ctx.sendToDst((c, ind))
        }
      },
      (x, y) => (x._1 + y._1, x._2 + y._2))

    // join (`:163-178`): border vertices ADD deltas; new vertices get
    // absolute counts; both get cId reset to self (VertexData
    // constructor default — reference quirk). Untouched vertices keep
    // their data.
    val updated = scope.own(graph.outerJoinVertices(stats) { (id, vd, sOpt) =>
      sOpt match {
        case Some((c, ind)) if c != 0 || ind != 0 =>
          if (bBorder.value.contains(id))
            VertexData(id, vd.t + c / 2, vd.vt + ind, id)
          else
            VertexData(id, c / 2, ind, id)
        case _ => vd
      }
    })
    val n = updated.numVertices
    scope.release(WccUtil.cached(ng): _*)
    (updated, n)
  }

  /** Canonical (min, max) keys of every merged-graph edge belonging
   * to a triangle that a BATCH edge closes: for each batch edge
   * (u, v) — whose endpoints are touched by construction — every
   * common merged-graph neighbor w of u and v witnesses the new
   * triangle {u, v, w}, and all three of its edges are flagged.
   * Together with the batch-invariant bulk flag set this is EXACTLY
   * the merged graph's positive-support edge set: adjacency only
   * grows across a merge (batch edges are new, nothing is deleted),
   * so a bulk-flagged edge stays flagged, and any triangle absent
   * from the bulk graph contains >= 1 batch edge and is enumerated
   * here (pinned flag-set-equal to the from-scratch
   * `TriangleStats.edgeSupport` path by IncrementalWCCSpec).
   * Output size is O(new triangles); it may repeat a key, which the
   * seeding's edge filter tolerates. */
  private[wcc] def deltaFlags(newEdges: RDD[Edge[Int]],
      touchedNbrs: RDD[(Long, Array[Long])]): RDD[(Long, Long)] = {
    newEdges.map(e => (e.srcId, e.dstId))
      .join(touchedNbrs)
      .map { case (u, (v, nu)) => (v, (u, nu)) }
      .join(touchedNbrs)
      .flatMap { case (v, ((u, nu), nv)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        @inline def canon(a: Long, b: Long): (Long, Long) =
          (math.min(a, b), math.max(a, b))
        SortedIntersect.visitCommons(nu, nv) { w =>
          // w == u / w == v impossible: no self-loops in either region
          out += canon(u, v); out += canon(u, w); out += canon(v, w)
        }
        out
      }
  }

  /** Incremental initial partition (reference
   * `IncrementalWCC.scala:185-227`): keep only the merged graph's
   * triangle-closing edges and its t > 0 vertices — the vertex and edge
   * sets of `subgraph(epred = flagged, vpred = t > 0)` — and run the
   * SAME seeding loop, seeded by the surviving cIds. The blocks are
   * built straight from the merged graph's triplets, filtered by the
   * keep set inside the build job ([[InitialPartition.build]]; a
   * delta-flagged edge may also be bulk-flagged — duplicate keys are
   * harmless), so no `Graph` is built for the flagged or the pruned
   * graph. `precomputedKeep`, when present, is the merged graph's full
   * positive-support canonical key set assembled incrementally
   * (bulk-invariant flags + [[deltaFlags]]); otherwise the support
   * kernel ([[TriangleStats.edgeSupport]]) flags the edges from
   * scratch.
   *
   * Returns the converged seeding, cached in `scope`, as the fixed-5
   * loop's seed generation ([[InitialPartition.refineSeed]]): its ghost
   * labels, same-community degrees and stats are exact. */
  private[wcc] def performInitialPartition(graph: Graph[VertexData, Int],
      scope: Fixpoint.CacheScope, maxIterations: Int = 50,
      precomputedKeep: Option[RDD[(Long, Long)]] = None): RefineState = {
    val keep = precomputedKeep.getOrElse(
      TriangleStats.edgeSupport(graph).filter(_._2 > 0).map(_._1))
    InitialPartition.refineSeed(graph.vertices.filter(_._2.t > 0),
      graph.triplets.filter(t => t.srcAttr.t > 0 && t.dstAttr.t > 0)
        .map(t => (t.srcAttr, t.dstAttr)),
      Some(keep), new org.apache.spark.HashPartitioner(graph.vertices.getNumPartitions),
      maxIterations, scope)
  }

  /** Fixed-5 refinement (reference `IncrementalWCC.scala:332-393`):
   * no WCC acceptance test; candidates are neighbor communities
   * present in the current stats (always true here because stats are
   * recomputed from the same graph each iteration).
   *
   * Runs on the [[RefineState]] blocks the seeding converged on
   * (`seed`, held by `scope`): each iteration is ONE job of two
   * stages — the movement decisions with their label messages, and
   * the label application whose job result is the next stats and the
   * move count. No stage counts triangles: this loop never scores WCC.
   *
   * Zero-move short-circuit (value-identical): the movement decision
   * is a pure function of the current state — if an iteration moves
   * NO vertex, every remaining iteration provably recomputes the
   * identical no-op, so the loop exits early. The move count is part
   * of the job result, so it is exact.
   *
   * Final-iteration dead-work skip (value-identical): iteration 5's
   * labels feed no 6th movement, and [[run]] grafts ONLY the labels
   * (returning the stale INCOMING stats — reference quirk
   * `IncrementalWCC.scala:69`), so the last movement is a lazy map over
   * the last generation, run by the job that materializes the
   * graft-back, with no label exchange and no stats.
   *
   * Each generation is released once the next one is built; the last
   * one stays in `scope`, which must stay open until the returned
   * refined vertices, read from it, have been materialized. */
  private[wcc] def refinePartition(seed: RefineState, globalCC: Double,
      vertexCount: Long, scope: Fixpoint.CacheScope): RDD[(VertexId, VertexData)] = {
    val loop = scope.loop(4)
    // the seed joins round 0's generation: released once round 1 built its successor
    RefineState.in(loop.init)(seed.blocks)
    var quiesced = false
    val last = loop.run(seed)(_ => !quiesced) { (r, s) =>
      val next = s.step(globalCC, vertexCount, score = false, countTriangles = false,
        RefineState.in(r))
      quiesced = next.moved == 0L
      if (quiesced) System.err.println(s"[graft-idwcc] refine quiesced after iter ${r.number}")
      next
    }
    if (quiesced) last.vertices else last.movedVertices(globalCC, vertexCount, scope)
  }

  private def timed[T](phase: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    val r = f
    System.err.println(s"[graft-idwcc] $phase: ${System.currentTimeMillis() - t0} ms")
    r
  }

  /** Exact shipped-element volume of the [[deltaFlags]] join for this
   * batch: each batch edge ships BOTH endpoint neighborhoods, so the
   * volume is sum over batch edges of (deg(src) + deg(dst)) in the
   * MERGED graph — computable from the already-cached `touchedNbrs`
   * array lengths (batch endpoints are touched by construction).
   * One touched-sized job; the driver gate below reads it. */
  private[wcc] def deltaVolume(newEdges: RDD[Edge[Int]],
      touchedNbrs: RDD[(Long, Array[Long])]): Long = {
    val degs = touchedNbrs.mapValues(_.length.toLong)
    newEdges
      .flatMap(e => Iterator((e.srcId, 1L), (e.dstId, 1L)))
      .reduceByKey(_ + _)
      .join(degs)
      .map { case (_, (cnt, deg)) => cnt * deg }
      .fold(0L)(_ + _)
  }

  /** Driver-side gate precheck (ADVICE r15): every batch edge ships
   * at least its own two endpoints' adjacency entries (each merged
   * endpoint degree >= 1), so 2 x batchEdges lower-bounds the
   * [[deltaVolume]] the probe would measure. A batch that busts the
   * 2 x |E| x fraction budget on that bound alone — e.g. the
   * whole-region streaming fold, which previously paid a shuffle
   * just to decide to fall back — skips the distributed probe
   * entirely. Returns true iff the probe is still worth running. */
  private[wcc] def deltaPrecheck(totalEdges: Long, batchEdges: Long,
      fraction: Double): Boolean =
    2.0 * batchEdges <= 2.0 * totalEdges * fraction

  /** Delta-path cost fraction above which [[run]] falls back to the
   * from-scratch support exchange. The gate compares the delta
   * flagging's ACTUAL shuffle volume ([[deltaVolume]] — what the
   * neighborhood-shipping join moves) against the from-scratch
   * exchange's ~O(total degree) adjacency shuffle, NOT the
   * touched-vertex count: a count gate has a hub-skew hole (ADVICE
   * r13/r14 — a micro-batch touching one 200k-degree hub counts few
   * vertices yet pays O(batch_edges x hub_degree)); the volume gate
   * prices exactly that term. Calibration: the sf0.1 replay's
   * 0.8-id-split "batch" touches ~37% of all edges and measured
   * 3.7-5.0 s delta vs 2.2-2.4 s from-scratch (PERF.md round-18) —
   * at 10% of total degree the delta join moves an order of
   * magnitude less data than the exchange it replaces, keeping the
   * crossover comfortably on the winning side of both regimes. */
  val DeltaFlagMaxVolumeFraction = 0.1

  /** One micro-batch (reference `IncrementalWCC.scala:27-71`).
   * CONSUMES `state` by default: the superseded state graph and every
   * intermediate graph generation are uncached once the new state is
   * materialized, so a fold leaves exactly the new state cached: its
   * graph, plus the `bulkFlagged` set it shares with the input state.
   * `releaseInput = false` keeps the input state's graph cached — for
   * callers that hold a SHARED bulk state (e.g. the session-memoized
   * prepare that both the batch replay and its Structured Streaming
   * twin fold from) and remain its owner. A failed fold leaves nothing
   * cached beyond its input.
   *
   * `deltaFlagMaxVolumeFraction` tunes the incremental-flagging gate
   * (see [[DeltaFlagMaxVolumeFraction]]); `PositiveInfinity` forces
   * the delta path without paying the volume probe (parity tests and
   * the continuously-verified `g_wcc_incremental_delta` row).
   * `expectDeltaPath = true` makes the call fail LOUDLY if the gate
   * falls back — for callers whose purpose is exercising the delta
   * path, where a silent fallback would hollow out the check.
   *
   * Between the merge and the graft-back the fold holds ONE vertex-block
   * state ([[RefineState]]) and builds no `Graph`: the seeding builds
   * the blocks from the merged graph's triplets and the flag set
   * ([[performInitialPartition]]), the fixed-5 refinement moves the
   * converged blocks ([[refinePartition]]), and the last movement's
   * labels are grafted onto the state graph in the job that
   * materializes it. The merged graph keeps the state's vertex
   * partitioner, so the blocks and the graft-back join without a
   * vertex shuffle. */
  def run(state: State, newEdges: RDD[Edge[Int]],
      releaseInput: Boolean = true,
      deltaFlagMaxVolumeFraction: Double = DeltaFlagMaxVolumeFraction,
      expectDeltaPath: Boolean = false): State = Fixpoint.returning { scope =>
    val m = timed("merge")(merge(state, newEdges, scope))
    try {
    // incremental triangle flagging for genuinely micro batches: the
    // state's batch-invariant bulk flag set + the new triangles this
    // batch's edges close (the merged neighborhoods are already in
    // hand from the delta stat update) — instead of a full support
    // exchange over the near-bulk-sized merged graph. Adaptive on the
    // delta join's actual shuffle volume vs the ~2|E| elements the
    // from-scratch exchange ships.
    val useDelta = state.bulkFlagged.isDefined &&
      (deltaFlagMaxVolumeFraction.isPosInfinity || {
        val totalEdges = m.fullGraph.numEdges
        deltaPrecheck(totalEdges, m.batchEdges, deltaFlagMaxVolumeFraction) &&
          deltaVolume(newEdges, m.touchedNbrs) <=
            2.0 * totalEdges * deltaFlagMaxVolumeFraction
      })
    require(!expectDeltaPath || useDelta,
      "IncrementalWCC.run: expectDeltaPath — the delta-flag volume " +
        "gate fell back to the from-scratch support exchange (batch " +
        "too large or too hub-heavy, or state.bulkFlagged is None)")
    val keep = state.bulkFlagged
      .filter(_ => useDelta)
      .map(_.union(deltaFlags(newEdges, m.touchedNbrs)))
    val seed = timed("initial-partition")(
      performInitialPartition(m.fullGraph, scope, precomputedKeep = keep))
    Failpoint("after initial-partition")
    val globalCC = WccUtil.joinUnwrapped(m.globalCCF)
    // the seed blocks are materialized: nothing reads the merge's
    // surfaces any more
    scope.release(m.touchedNbrs +: (WccUtil.cached(m.merged) ++ WccUtil.cached(m.fullGraph)): _*)
    val refined = timed("refine")(refinePartition(seed, globalCC, m.vertexCount, scope))
    Failpoint("after refine")

    // graft onto the PREVIOUS graph's vertex/edge set (so batch edges
    // never persist into the state — the next merge unions onto the
    // BULK edge set again) and return the STALE incoming stats
    // (reference quirks, see object Scaladoc). The join body is the
    // reference's conditional reset ([[graftQuirk]]): self-labeled
    // result vertices carry ZEROED (t, vt) into the next batch. One
    // job: materializing the edges materializes the vertices they are
    // shipped from, and the refinement's last movement with them.
    val resultGraph = timed("graft") {
      val g = scope.own(state.graph.outerJoinVertices(refined) { (id, _, vdOpt) =>
        graftQuirk(id, vdOpt)
      })
      g.edges.count()
      g
    }
    Failpoint("after graft")
    if (releaseInput) scope.adopt(WccUtil.cached(state.graph): _*)
    // bulkFlagged carries over unchanged: the graft-back keeps the
    // result's edge set identical to the state's (bulk) edge set.
    State(resultGraph, state.stats, state.bulkFlagged)
    } catch {
      case t: Throwable =>
        // a failure between the merge and the state hand-off — the
        // expectDeltaPath require included — must not abandon the
        // concurrent global-cc fold unobserved: its job would keep
        // running on the shared context with any failure swallowed
        try m.globalCCF.join() catch { case _: Throwable => () }
        throw t
    }
  }(_.cached)

  /**
   * Micro-batch driver (G9, reference `CSVGraph.scala:47-103`): split
   * the canonical edge set at splitVertex = floor(maxId * ratio);
   * bulk-train on edges with both endpoints below the split; replay
   * the remainder in `microBatchCount` vertex-id-range batches.
   * Returns the final (vid, cid) partition.
   */
  def testStream(spark: org.apache.spark.sql.SparkSession,
      canonicalEdges: org.apache.spark.sql.DataFrame,
      bulkToStreamRatio: Double = 0.8,
      microBatchCount: Int = 1,
      bulkStatsFor: Option[Double => TriangleStats.Result] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, greatest, max}
    // an empty edge set nulls the max aggregate — fail with the
    // operator's own message instead of an NPE from getLong
    val maxRow = canonicalEdges
      .agg(max(greatest(col("src"), col("dst")))).head()
    require(!maxRow.isNullAt(0),
      "IncrementalWCC.testStream: empty canonical edge set — nothing " +
        "to split into bulk and stream regions")
    val maxVertex = maxRow.getLong(0)
    val splitVertex = math.floor(maxVertex * bulkToStreamRatio)

    Fixpoint.using { scope =>
      val edgeRdd = scope.cache(canonicalEdges
        .select(col("src").cast("long"), col("dst").cast("long")).rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1)))
      val bulk = edgeRdd.filter(e => e.srcId < splitVertex && e.dstId < splitVertex)
      val stream = edgeRdd.filter(e => e.srcId >= splitVertex || e.dstId >= splitVertex)

      // edge-count-sized partitioning (the query layer's idiom): at
      // bench SFs every superstep is task dispatch, so don't inherit a
      // wide shuffle layout for a small bulk graph; the min() defers to
      // the input's own partitioning at scale. Micro-batch merges
      // re-pin to this count (see merge()).
      val bulkParts = math.max(8, math.min(edgeRdd.getNumPartitions,
        (bulk.count() / 250000L).toInt))
      // fromEdges caches its edges; prepare consumes the repartitioned graph
      val bulkGraph = Graph.fromEdges(bulk, 0)
      scope.adopt(WccUtil.cached(bulkGraph): _*)
      var state = prepare(bulkGraph.partitionBy(PartitionStrategy.EdgePartition2D, bulkParts),
        bulkStatsFor.map(f => f(splitVertex)))
      val microBatchSize = math.floor((maxVertex - splitVertex) / microBatchCount)
      (1 to microBatchCount).foreach { i =>
        val lower = splitVertex + (i - 1) * microBatchSize
        val higher = if (i == microBatchCount) maxVertex + 1.0
          else splitVertex + i * microBatchSize
        val batch = stream.filter(e =>
          (e.srcId >= lower || e.dstId >= lower) &&
            e.srcId < higher && e.dstId < higher)
        state = run(state, batch)
      }
      // the rows read the final state, left cached for the returned frame
      val rows = state.graph.vertices.map { case (id, vd) => (id, vd.cId) }
      spark.createDataFrame(rows).toDF("vid", "cid").orderBy("vid")
    }
  }
}
