package graft.wcc

import scala.collection.mutable.ArrayBuilder
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import graft.graph.{Fixpoint, SortedIntersect}
import org.apache.spark.{FutureAction, HashPartitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.graphx._
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

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

  /** The standing partition: `graph`, the last graft-back, whose
   * vertices and edges a merge reads as they are, and the bulk run's
   * `stats` (reference quirk: a fold never updates them).
   *
   * `bulkFlagged`, when present, holds the STATE-graph edges with >= 1
   * common neighbor IN THE STATE GRAPH ALONE — the batch-invariant half
   * of each micro-batch's triangle-edge flagging — as resident id-only
   * [[EdgeSlots]]: each edge at both endpoint partitions under the
   * state's vertex `HashPartitioner` ([[RefineState.pairSlots]]). The
   * graft-back contract keeps the state's edge set fixed at the bulk
   * edge set across batches (reference `IncrementalWCC.scala:56-58` —
   * batch edges never persist), so the slots stay valid for every
   * subsequent [[run]]: a fold ships only the keys its delta triangle
   * pass flags ([[deltaTriangles]]) and the seeding reads both halves
   * where they lie. Callers constructing a State by hand may leave it
   * None — [[performInitialPartition]] then flags the merged graph from
   * scratch.
   *
   * [[prepare]] and [[run]] hand over the graph and `bulkFlagged` as
   * lineage cuts (`Fixpoint.CacheScope.cut`): a fold schedules none of
   * the stages that built its input state, however many folds came
   * before it. */
  final case class State(graph: Graph[VertexData, Int], stats: Map[Long, CommunityData],
      bulkFlagged: Option[RDD[(Int, EdgeSlots)]] = None) {
    /** the RDDs this state holds cached */
    private[wcc] def cached: Seq[RDD[_]] = WccUtil.cached(graph) ++ bulkFlagged

    /** the canonical (min, max) keys of `bulkFlagged`, each read off
     * its slot at the lower endpoint */
    private[wcc] def bulkKeys: Option[RDD[(Long, Long)]] = bulkFlagged.map(_.flatMap {
      case (_, s) =>
        s.self.indices.filter(k => s.self(k) < s.nbr(k)).map(k => (s.self(k), s.nbr(k)))
    })
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
   *
   * The state graph applies [[graftQuirk]] on top of
   * `DistributedWCC.run`'s output graft: the reference's bulk graft
   * (`DistributedWCC.scala:68-77`) zeroes self-labeled vertices'
   * (t, vt), and THOSE zeroed values are the incremental baseline —
   * graft's own `Output.graph` deliberately keeps the richer true
   * stats for batch callers, so the quirk is re-applied here where
   * the reference semantics need it. */
  def prepare(graph: Graph[Int, Int]): State =
    Fixpoint.returning { scope =>
      val out = DistributedWCC.run(graph)
      scope.adopt(out.cached: _*)
      val stateGraph = scope.cut(out.graph.mapVertices((id, vd) =>
        graftQuirk(id, Some(vd))))
      // harvest the batch-invariant flag set from the pruned core: the
      // core's edges are exactly the bulk edges with positive triangle
      // support (epred attr > 0 decides membership alone — attr > 0
      // implies both endpoint t > 0), i.e. the bulk half of every
      // future batch's triangle-edge flagging (see [[State.bulkFlagged]]),
      // shipped once to the partitions of the state's vertices
      val part = new HashPartitioner(stateGraph.vertices.getNumPartitions)
      val bulkFlagged = scope.cut(RefineState.pairSlots(RefineState.pairsOf(out.prunedCore.edges),
        part))
      // one job; the bulk run's surfaces are released below, so every
      // cut must be materialized first
      Fixpoint.materialize(stateGraph.vertices, stateGraph.edges, bulkFlagged)
      Failpoint("after prepare")
      // the input is consumed: it goes with the bulk run's surfaces
      scope.adopt(WccUtil.cached(graph): _*)
      State(stateGraph, out.communityStats, Some(bulkFlagged))
    }(_.cached)

  /** [[prepare]] on the graph of `bulk`, its edges laid out by
   * `EdgePartition2D` in `numParts` partitions. `Graph.fromEdges`
   * caches a graph of its own, which only that repartitioning reads:
   * it is released with the rest of the input. */
  def prepareEdges(bulk: RDD[Edge[Int]], numParts: Int): State = Fixpoint.using { scope =>
    val g = Graph.fromEdges(bulk, 0)
    scope.adopt(WccUtil.cached(g): _*)
    prepare(g.partitionBy(PartitionStrategy.EdgePartition2D, numParts))
  }

  /** The merged graph as a merge hands it on, built into no `Graph`. */
  final case class MergeResult(
      /** the state's vertices, touched ones with their delta stats, and
       * the new ids, under the state's vertex partitioner; cached */
      vertices: RDD[(VertexId, VertexData)],
      /** the merged edges as id pairs: the state's and the batch's */
      pairs: RDD[(Long, Long)],
      newIds: Broadcast[Set[Long]],
      borderIds: Broadcast[Set[Long]],
      vertexCount: Long,
      /** the block sums of [[detGlobalCC]] over `vertices`, an
       * asynchronous job over the already-materialized cached
       * vertices: its only consumer is the refinement, so the job
       * overlaps the seeding instead of serializing inside the merge.
       * Submitted from the merging thread, it runs under that
       * thread's job group and description. */
      globalCCBlocks: FutureAction[Seq[(Long, Double)]],
      /** the [[deltaTriangles]] pass whose (c, ind) sums `vertices`
       * carries; cached, released by `run` after the initial
       * partition */
      delta: RDD[(Int, Delta)]) {
    /** [[detGlobalCC]] of the merged vertices: awaits
     * [[globalCCBlocks]] and folds its sums on the driver. A failed
     * job raises its own exception. */
    def globalCC: Double = foldGlobalCC(Await.result(globalCCBlocks, Duration.Inf), vertexCount)

    /** the canonical keys of the triangle edges the delta pass flagged */
    def deltaKeys: RDD[(Long, Long)] = delta.mapPartitions { it =>
      val d = it.next()._2
      Iterator.range(0, d.lo.length).map(k => (d.lo(k), d.hi(k)))
    }
  }

  /** Merge phase (reference `IncrementalWCC.scala:79-181`): the merged
   * vertices and edges and the delta triangle-stat update of the touched
   * vertices. The state's vertices are zipped with the new ids and the
   * delta sums in place, so the seeded labels graft back without a
   * shuffle. Everything it caches and broadcasts belongs to `scope`. */
  private[wcc] def merge(state: State, newEdges: RDD[Edge[Int]],
      scope: Fixpoint.CacheScope): MergeResult = {
    val sc = state.graph.vertices.sparkContext
    val part = new HashPartitioner(state.graph.vertices.getNumPartitions)
    // the batch vertex ids classified in ONE job: each goes as an edge
    // slot to its vertex partition, beside the state's vertices there;
    // per partition, (new ids, border ids)
    val classes = scope.cache(state.graph.vertices.zipPartitions(
      RefineState.pairSlots(RefineState.pairsOf(newEdges), part),
      preservesPartitioning = true) { (vIt, sIt) =>
      val batch = scala.collection.mutable.HashSet.empty[Long]
      sIt.foreach(batch ++= _._2.self)
      val border = new ArrayBuilder.ofLong
      if (batch.nonEmpty) vIt.foreach { case (id, _) => if (batch.remove(id)) border += id }
      Iterator((batch.toArray, border.result()))
    })
    // micro-batch-sized, safe on the driver
    val classified = classes.collect()
    val newIds = classified.iterator.flatMap(_._1).toSet
    val borderIds = classified.iterator.flatMap(_._2).toSet
    val bBorder = scope.broadcast(sc, borderIds)
    val bNew = scope.broadcast(sc, newIds)

    // graph union (`:94`) as id pairs; duplicate-free because batch
    // edges are new by construction
    val pairs = RefineState.pairsOf(state.graph.edges).union(RefineState.pairsOf(newEdges))
    val isTouched = (v: Long) => bBorder.value.contains(v) || bNew.value.contains(v)
    val touched = scope.cache(touchedNeighborhoods(pairs, isTouched, part))
    val delta = scope.cache(deltaTriangles(touched, isTouched, bNew, part))
    // join (`:163-178`): border vertices ADD deltas; new vertices get
    // absolute counts; both get cId reset to self (VertexData
    // constructor default — reference quirk). Untouched vertices keep
    // their data. The state's vertices in the delta are its border.
    val vertices = scope.cache(state.graph.vertices.zipPartitions(classes, delta,
      preservesPartitioning = true) { (vIt, cIt, dIt) =>
      val d = dIt.next()._2
      def deltaOf(id: Long): Int = {
        val i = java.util.Arrays.binarySearch(d.ids, id)
        if (i >= 0 && (d.c(i) != 0 || d.ind(i) != 0)) i else -1
      }
      vIt.map { case (id, vd) =>
        val i = deltaOf(id)
        if (i < 0) (id, vd) else (id, VertexData(id, vd.t + d.c(i) / 2, vd.vt + d.ind(i), id))
      } ++ cIt.next()._1.iterator.map { id =>
        val i = deltaOf(id)
        (id, if (i < 0) VertexData(id, 0, 0, id) else VertexData(id, d.c(i) / 2, d.ind(i), id))
      }
    })
    // one job: the delta pass and the merged vertices
    val vertexCount = vertices.count()
    // nothing reads the classification or the neighborhoods any more
    scope.release(classes, touched)
    Failpoint("in merge")
    // the count above materialized the cached vertices, so the
    // concurrent block sums only re-read blocks — no racing computation
    val globalCCBlocks = detGlobalCCBlocks(vertices).collectAsync()
    MergeResult(vertices, pairs, bNew, bBorder, vertexCount, globalCCBlocks, delta)
  }

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
  private[graft] def detGlobalCC(vertices: RDD[(VertexId, VertexData)],
      vertexCount: Long): Double =
    foldGlobalCC(detGlobalCCBlocks(vertices).collect(), vertexCount)

  /** [[detGlobalCC]]'s per-block sums, (block, ascending-vid left fold
   * of the block's cc) */
  private def detGlobalCCBlocks(vertices: RDD[(VertexId, VertexData)]): RDD[(Long, Double)] =
    vertices
      .map { case (id, vd) => (id >>> 16, (id, vd.cc)) }
      .groupByKey()
      .mapValues { it =>
        val arr = it.toArray.sortBy(_._1)
        var s = 0.0; var i = 0
        while (i < arr.length) { s += arr(i)._2; i += 1 }
        s
      }

  /** [[detGlobalCC]]'s ascending-block left fold of the block sums,
   * over the vertex count */
  private def foldGlobalCC(blocks: Seq[(Long, Double)], vertexCount: Long): Double = {
    val blockSums = blocks.sortBy(_._1)
    var s = 0.0; var i = 0
    while (i < blockSums.length) { s += blockSums(i)._2; i += 1 }
    s / vertexCount
  }

  /** One partition's touched (border/new) vertices, ascending, with
   * their sorted merged neighborhoods. */
  private final class Touched(val ids: Array[Long], val nbrs: Array[Array[Long]])
      extends Serializable

  /** Post-merge neighborhoods of the border/new vertices only
   * (reference `:120-130`), one [[Touched]] block per partition of
   * `part`: every merged edge goes as a slot to the partition of each
   * of its touched endpoints, which groups the slots per vertex — O(D)
   * state and allocations for a degree-D vertex, any skew. */
  private def touchedNeighborhoods(pairs: RDD[(Long, Long)], isTouched: Long => Boolean,
      part: HashPartitioner): RDD[(Int, Touched)] =
    RefineState.pairSlots(pairs, part, isTouched)
      .mapPartitions({ it =>
        val byId = new java.util.HashMap[Long, ArrayBuilder.ofLong]()
        it.foreach { case (_, s) =>
          var k = 0
          while (k < s.self.length) {
            byId.computeIfAbsent(s.self(k), _ => new ArrayBuilder.ofLong) += s.nbr(k)
            k += 1
          }
        }
        val ids = new Array[Long](byId.size)
        var i = 0
        byId.keySet.forEach { v => ids(i) = v; i += 1 }
        java.util.Arrays.sort(ids)
        val nbrs = ids.map { v => val a = byId.get(v).result(); java.util.Arrays.sort(a); a }
        Iterator((TaskContext.getPartitionId(), new Touched(ids, nbrs)))
      }, preservesPartitioning = true)

  /** One partition's [[deltaTriangles]]: its touched vertices,
   * ascending, with their (c, ind) sums, and the canonical keys
   * (lo(k), hi(k)) of the triangle edges it flagged. */
  private[wcc] final class Delta(val ids: Array[Long], val c: Array[Int], val ind: Array[Int],
      val lo: Array[Long], val hi: Array[Long]) extends Serializable

  /** Delta triangle-stat update (reference `IncrementalWCC.scala:114-181`)
   * and the batch's new triangle edges, in one pass over the
   * [[touchedNeighborhoods]] blocks:
   *  - each touched neighborhood goes once to every other partition
   *    holding a touched neighbor of it (never once per edge, so a hub
   *    costs at most one copy per partition);
   *  - one stage intersects the two ends' neighborhoods of every
   *    touched–touched edge with [[SortedIntersect]], at each end.
   * Those are exactly the edges the reference recounts: `newEdge ||
   * borderEdge` holds iff both endpoints are touched. Per edge, c
   * counts the common neighbors w for which the edge is new-incident
   * or w itself is new; any other w clears the edge's newVt flag, and
   * ind = 1 iff c > 0 and newVt held. Each touched vertex sums (c, ind)
   * over its touched–touched edges.
   *
   * Each common neighbor w of a touched–touched edge (u, v) closes the
   * triangle {u, v, w}: u flags its slots of v and w, v its slots of u
   * and w, so every edge of the triangle is flagged at each touched
   * endpoint. A flagged edge's key is emitted by its touched endpoint
   * of lower id: once over all partitions. Together with the bulk flags
   * these keys are EXACTLY the merged graph's positive-support edge
   * set: adjacency only grows across a merge, so a bulk-flagged edge
   * stays flagged; a triangle absent from the bulk graph has a batch
   * edge, both of whose endpoints are touched; and every key lies on a
   * merged-graph triangle (pinned to `TriangleStats.edgeSupport` by
   * IncrementalWCCSpec). */
  private def deltaTriangles(touched: RDD[(Int, Touched)], isTouched: Long => Boolean,
      bNew: Broadcast[Set[Long]], part: HashPartitioner): RDD[(Int, Delta)] = {
    val shipped = RefineState.exchange(touched.mapPartitions { it =>
      val (pid, b) = it.next()
      val ids = new Array[ArrayBuilder.ofLong](part.numPartitions)
      val sets = new Array[ArrayBuilder.ofRef[Array[Long]]](part.numPartitions)
      val stamp = new Array[Int](part.numPartitions)
      var i = 0
      while (i < b.ids.length) {
        b.nbrs(i).foreach { v =>
          val q = part.getPartition(v)
          if (q != pid && stamp(q) != i + 1 && isTouched(v)) {
            stamp(q) = i + 1
            if (ids(q) == null) {
              ids(q) = new ArrayBuilder.ofLong; sets(q) = new ArrayBuilder.ofRef[Array[Long]]
            }
            ids(q) += b.ids(i); sets(q) += b.nbrs(i)
          }
        }
        i += 1
      }
      Iterator.range(0, part.numPartitions).filter(ids(_) != null)
        .map(q => (q, new SameSets(ids(q).result(), sets(q).result())))
    }, part)
    touched.zipPartitions(shipped, preservesPartitioning = true) { (bIt, sIt) =>
      val (pid, b) = bIt.next()
      val nw = bNew.value
      val remote = new java.util.HashMap[Long, Array[Long]]()
      sIt.foreach { case (_, s) => s.ids.indices.foreach(k => remote.put(s.ids(k), s.sets(k))) }
      val c = new Array[Int](b.ids.length)
      val ind = new Array[Int](b.ids.length)
      val lo = new ArrayBuilder.ofLong
      val hi = new ArrayBuilder.ofLong
      var i = 0
      while (i < b.ids.length) {
        val u = b.ids(i); val nu = b.nbrs(i)
        val flagged = new Array[Boolean](nu.length)
        var j = 0
        while (j < nu.length) {
          val v = nu(j)
          if (isTouched(v)) {
            val nv = if (part.getPartition(v) == pid)
              b.nbrs(java.util.Arrays.binarySearch(b.ids, v)) else remote.get(v)
            val newEdge = nw.contains(u) || nw.contains(v)
            var cuv = 0; var newVt = true
            // skewed pairs (hub-leaf edges dominate a power-law batch)
            // gallop inside the kernel: O(min * log max) instead of the
            // merge scan's O(D) per incident edge of a degree-D hub
            SortedIntersect.visitCommons(nu, nv) { w =>
              if (w != u && w != v) {
                if (newEdge || nw.contains(w)) cuv += 1 else newVt = false
                flagged(j) = true
                flagged(java.util.Arrays.binarySearch(nu, w)) = true
              }
            }
            c(i) += cuv
            if (cuv > 0 && newVt) ind(i) += 1
          }
          j += 1
        }
        j = 0
        while (j < nu.length) {
          if (flagged(j) && (u < nu(j) || !isTouched(nu(j)))) {
            lo += math.min(u, nu(j)); hi += math.max(u, nu(j))
          }
          j += 1
        }
        i += 1
      }
      Iterator((pid, new Delta(b.ids, c, ind, lo.result(), hi.result())))
    }
  }

  /** Incremental initial partition (reference
   * `IncrementalWCC.scala:185-227`): keep only the merged graph's
   * triangle-closing edges and its t > 0 vertices — the vertex and edge
   * sets of `subgraph(epred = flagged, vpred = t > 0)` — and run the
   * SAME seeding loop, seeded by the surviving cIds, on blocks built
   * from the merged vertices and the keep slots under the t > 0
   * predicate (a key in both halves of the keep set collapses to one
   * slot). With `bulk`, the state's resident slots ([[State.bulkFlagged]]),
   * the keep set is assembled incrementally: only the merge's
   * [[deltaTriangles]] keys are shipped, and a partitioner-aware union
   * reads the bulk half where it lies. Without it, the support kernel
   * ([[TriangleStats.edgeSupport]]) flags the merged pairs from scratch.
   *
   * Returns the converged seeding, cached in `scope`, as the fixed-5
   * loop's seed generation ([[InitialPartition.refineSeed]]): its ghost
   * labels, same-community degrees and stats are exact. */
  private[wcc] def performInitialPartition(m: MergeResult, bulk: Option[RDD[(Int, EdgeSlots)]],
      scope: Fixpoint.CacheScope, maxIterations: Int = 50): RefineState = {
    val part = new HashPartitioner(m.vertices.getNumPartitions)
    val flagged = if (bulk.isDefined) m.deltaKeys
      else TriangleStats.edgeSupport(m.vertices, m.pairs).filter(_._2 > 0).map(_._1)
    val shipped = RefineState.pairSlots(flagged, part)
    InitialPartition.refineSeed(m.vertices, bulk.fold(shipped)(_.union(shipped)), part,
      maxIterations, scope, vpred = Some(_.t > 0))
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
    // the seed (already a cut) joins round 0's generation: released
    // once round 1 built its successor
    loop.init.cache(seed.blocks, StorageLevel.MEMORY_AND_DISK)
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

  /** One micro-batch (reference `IncrementalWCC.scala:27-71`).
   * CONSUMES `state` by default: the superseded state graph and every
   * intermediate graph generation are uncached once the new state is
   * materialized, so a fold leaves exactly the new state cached: its
   * graph, plus the `bulkFlagged` slots it shares with the input state.
   * `releaseInput = false` keeps the input state's graph cached — for
   * callers that hold a SHARED bulk state (e.g. the session-memoized
   * prepare that both the batch replay and its Structured Streaming
   * twin fold from) and remain its owner. A failed fold leaves nothing
   * cached beyond its input.
   *
   * The seeding keeps the merged graph's triangle edges: the state's
   * resident `bulkFlagged` slots, read where they lie, plus the keys of
   * the merge's delta triangle pass ([[deltaTriangles]]), the only keep
   * slots the fold ships, whatever the batch's size or skew. Without
   * `bulkFlagged` it flags the merged graph from scratch.
   * `expectDeltaPath = true` makes the call fail LOUDLY in that case —
   * for callers whose purpose is exercising the delta path, where a
   * silent fallback would hollow out the check.
   *
   * The fold builds one GraphX graph, the graft-back. The merge reads
   * the state's vertices and edges as they are ([[merge]]), the seeding
   * builds vertex blocks from the merged vertices and the keep slots
   * ([[performInitialPartition]]), the fixed-5 refinement moves the
   * converged blocks ([[refinePartition]]), and the last movement's
   * labels are grafted onto the state graph in the job that
   * materializes it. The merged vertices keep the state's vertex
   * partitioner, so the blocks, the resident slots and the graft-back
   * join without a vertex shuffle. */
  def run(state: State, newEdges: RDD[Edge[Int]],
      releaseInput: Boolean = true,
      expectDeltaPath: Boolean = false): State = Fixpoint.returning { scope =>
    require(!expectDeltaPath || state.bulkFlagged.isDefined,
      "IncrementalWCC.run: expectDeltaPath — state.bulkFlagged is None, so " +
        "the fold would flag the merged graph's triangle edges from scratch")
    val m = timed("merge")(merge(state, newEdges, scope))
    try {
    val seed = timed("initial-partition")(performInitialPartition(m, state.bulkFlagged, scope))
    Failpoint("after initial-partition")
    val globalCC = m.globalCC
    // the seed blocks are materialized: nothing reads the merge's
    // surfaces any more
    scope.release(m.delta, m.vertices)
    val refined = timed("refine")(refinePartition(seed, globalCC, m.vertexCount, scope))
    Failpoint("after refine")

    // graft onto the PREVIOUS graph's vertex/edge set (so batch edges
    // never persist into the state — the next merge unions onto the
    // BULK edge set again) and return the STALE incoming stats
    // (reference quirks, see object Scaladoc). The join body is the
    // reference's conditional reset ([[graftQuirk]]): self-labeled
    // result vertices carry ZEROED (t, vt) into the next batch. The new
    // state graph is a lineage cut, so the next fold schedules none of
    // this one's stages. One job materializes its vertices and edges,
    // and the refinement's last movement with them; the generations it
    // reads are released when the fold returns.
    val resultGraph = timed("graft") {
      val g = scope.cut(state.graph.outerJoinVertices(refined) { (id, _, vdOpt) =>
        graftQuirk(id, vdOpt)
      })
      Fixpoint.materialize(g.vertices, g.edges)
      g
    }
    Failpoint("after graft")
    if (releaseInput) scope.adopt(WccUtil.cached(state.graph): _*)
    // the resident slots carry over unchanged: the graft-back keeps the
    // result's edge set and vertex partitioner the state's
    State(resultGraph, state.stats, state.bulkFlagged)
    } catch {
      case t: Throwable =>
        // a failure between the merge and the state hand-off must not
        // leave the concurrent block-sum job running on the shared
        // context with nobody to read its result
        m.globalCCBlocks.cancel()
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
      microBatchCount: Int = 1): org.apache.spark.sql.DataFrame = {
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
      var state = prepareEdges(bulk, bulkParts)
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
