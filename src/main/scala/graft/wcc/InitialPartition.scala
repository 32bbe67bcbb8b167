package graft.wcc

import org.apache.spark.graphx._
import org.apache.spark.storage.StorageLevel

/** Growable center-flag message for the steady-state seeding rounds:
 * parallel (senderId, isCenter) arrays merged in place (collision-free
 * — at most one message per sender per receiver per superstep), the
 * same in-place-merge discipline as the k-core CoreDelta. */
final class FlagMsg(id0: Long, flag0: Boolean) extends Serializable {
  var ids: Array[Long] = { val a = new Array[Long](4); a(0) = id0; a }
  var flags: Array[Boolean] = { val a = new Array[Boolean](4); a(0) = flag0; a }
  var size: Int = 1

  private def ensure(extra: Int): Unit = {
    if (size + extra > ids.length) {
      val cap = math.max(size + extra, ids.length * 2)
      ids = java.util.Arrays.copyOf(ids, cap)
      flags = java.util.Arrays.copyOf(flags, cap)
    }
  }

  private[wcc] def addAll(other: FlagMsg): FlagMsg = {
    ensure(other.size)
    System.arraycopy(other.ids, 0, ids, size, other.size)
    System.arraycopy(other.flags, 0, flags, size, other.size)
    size += other.size
    this
  }
}

object FlagMsg {
  def merge(a: FlagMsg, b: FlagMsg): FlagMsg =
    if (a.size >= b.size) a.addAll(b) else b.addAll(a)
}

/** Growable superstep-1 message: each neighbor's decision-relevant
 * coordinates appended into parallel primitive arrays (the same
 * in-place-merge discipline as [[FlagMsg]]/NbrAgg). Replaces the
 * immutable Map[Long, NborMsg] combiner whose `a ++ b` rebuilt a
 * boxed map per merge — O(deg log deg) allocation churn per vertex
 * on the loop's one full exchange. Senders are unique per receiver
 * (one canonical edge per pair, no self-loops), so no dedup is
 * needed; the receiving vertex program sorts by id once. */
final class SeedMsg(id0: Long, vt0: Int, cc0: Double, center0: Boolean)
    extends Serializable {
  var ids: Array[Long] = { val a = new Array[Long](4); a(0) = id0; a }
  var vts: Array[Int] = { val a = new Array[Int](4); a(0) = vt0; a }
  var ccs: Array[Double] = { val a = new Array[Double](4); a(0) = cc0; a }
  var centers: Array[Boolean] = { val a = new Array[Boolean](4); a(0) = center0; a }
  var size: Int = 1

  private def ensure(extra: Int): Unit = {
    if (size + extra > ids.length) {
      val cap = math.max(size + extra, ids.length * 2)
      ids = java.util.Arrays.copyOf(ids, cap)
      vts = java.util.Arrays.copyOf(vts, cap)
      ccs = java.util.Arrays.copyOf(ccs, cap)
      centers = java.util.Arrays.copyOf(centers, cap)
    }
  }

  private[wcc] def addAll(other: SeedMsg): SeedMsg = {
    ensure(other.size)
    System.arraycopy(other.ids, 0, ids, size, other.size)
    System.arraycopy(other.vts, 0, vts, size, other.size)
    System.arraycopy(other.ccs, 0, ccs, size, other.size)
    System.arraycopy(other.centers, 0, centers, size, other.size)
    size += other.size
    this
  }
}

object SeedMsg {
  def merge(a: SeedMsg, b: SeedMsg): SeedMsg =
    if (a.size >= b.size) a.addAll(b) else b.addAll(a)
}

/**
 * Clustering-coefficient-seeded initial partition (G4 in SURVEY.md
 * §2.8): a superstep loop in which every vertex repeatedly adopts the
 * highest-ranked *center* neighbor by the total order (cc, vt, vId),
 * or reverts to being its own center.
 *
 * Semantics contract: the reference's
 * `InitialPartitionComputeFunction` / `InitialPartitionCombiner`
 * (`DistributedWCC.scala:159-255`, duplicated at
 * `IncrementalWCC.scala:233-329`), with two no-op mechanics dropped
 * (documented in SURVEY.md §7.1 quirk ledger):
 *
 *  - self-messages (`DistributedWCC.scala:215`): the only receiver
 *    effect is the "single message from self" no-op branch
 *    (`:178-179`), which changes no state and sends nothing;
 *  - keep-alive re-broadcasts from message-less vertices (the Flink
 *    coGroup invokes compute with an empty iterator →
 *    `newData.changed = true`, `:203-205`): the re-sent payload is
 *    decision-irrelevant — receivers only consult a cached
 *    neighbor's (cc, vt, vId) (immutable during the loop) and its
 *    center-ness, and every center-ness transition is already sent
 *    by the normal path because `changed` is exactly the
 *    center-transition flag (`:192,196`).
 *
 * Both drops leave the fixpoint identical while letting the loop
 * terminate on true message quiescence instead of always burning
 * maxIterations supersteps.
 *
 * Execution shape: only superstep 1 (every vertex broadcasts its
 * (cc, vt, vId, center) to all neighbors, building the per-vertex
 * [[NborCache]]) runs as a GraphX exchange. Every later superstep
 * runs on a co-partitioned pair-RDD state — a changed vertex emits
 * (id, isCenter) to its strictly lower-ranked neighbors, whose ids
 * it already knows FROM ITS OWN CACHE, so the steady-state loop
 * needs no adjacency structure and no per-superstep graph rebuild:
 * one frontier-sized shuffle job per superstep. A Pregel-shaped
 * loop instead re-ships every vertex attribute to the edge
 * partitions on every superstep, which dominates once the adoption
 * frontier collapses (the same finding as the k-core loop).
 */
object InitialPartition {

  /** (cc, vt, vId) total order on primitives — no NaN/-0.0 can occur
   * (cc = 2t/(vt(vt-1)) with t >= 1, vt >= 2 on pruned vertices), so
   * plain comparisons equal the reference's Ordering. */
  @inline private def rankGt(cc1: Double, vt1: Int, id1: Long,
      cc2: Double, vt2: Int, id2: Long): Boolean =
    cc1 > cc2 || (cc1 == cc2 && (vt1 > vt2 || (vt1 == vt2 && id1 > id2)))

  /** The adoption decision (reference `DistributedWCC.scala:186-198`):
   * adopt the highest-ranked center neighbor if it outranks self,
   * else become (stay) own center; `changed` is exactly the
   * center-transition flag. */
  private[wcc] def decide(self: VertexData, cache: NborCache): PState = {
    var bi = -1
    var i = 0
    while (i < cache.ids.length) {
      if (cache.center(i) &&
          (bi < 0 || rankGt(cache.ccs(i), cache.vts(i), cache.ids(i),
            cache.ccs(bi), cache.vts(bi), cache.ids(bi)))) bi = i
      i += 1
    }
    if (bi >= 0 && rankGt(cache.ccs(bi), cache.vts(bi), cache.ids(bi),
        self.cc, self.vt, self.vId))
      PState(self.copy(cId = cache.ids(bi)), changed = self.isCenter, cache)
    else
      PState(self.copy(cId = self.vId), changed = !self.isCenter, cache)
  }

  /** Superstep-2 vertex program (the cache-building receipt of the
   * initial broadcast, reference `DistributedWCC.scala:169-207`):
   * sort the received coordinates by sender id (unique by
   * construction; the defensive self-drop mirrors the reference's
   * self-message no-op branch) and build the id-sorted cache. */
  private[wcc] def vprog(st: PState, m: SeedMsg): PState = {
    val self = st.data
    val order0 = Array.range(0, m.size)
      .filter(k => m.ids(k) != self.vId)
      .sortBy(m.ids(_))
    // collapse duplicate senders: the old Map[Long, NborMsg] combiner
    // deduped by sender id implicitly; the parallel-array SeedMsg
    // keeps every copy, and a duplicated cache entry would let
    // applyFlags' binarySearch flip only ONE copy on a center
    // transition, leaving decide() reading the stale twin. Duplicate
    // senders are outside the canonical-edge contract (no parallel
    // edges survive canonicalize, and micro-batch edges are new by
    // construction), but dedup here is one adjacent-equality pass —
    // cheaper than trusting every caller forever. Payloads from the
    // same sender are identical (one vertex, one attribute), so
    // keeping the first is deterministic.
    val order = if (order0.length < 2) order0 else {
      var dups = 0
      var k = 1
      while (k < order0.length) {
        if (m.ids(order0(k)) == m.ids(order0(k - 1))) dups += 1
        k += 1
      }
      if (dups == 0) order0 else {
        val out = new Array[Int](order0.length - dups)
        out(0) = order0(0)
        var w = 1; k = 1
        while (k < order0.length) {
          if (m.ids(order0(k)) != m.ids(order0(k - 1))) { out(w) = order0(k); w += 1 }
          k += 1
        }
        out
      }
    }
    val cache = NborCache(order.map(m.ids(_)), order.map(m.vts(_)),
      order.map(m.ccs(_)), order.map(m.centers(_)))
    decide(self, cache)
  }

  /** Steady-state vertex program: flip the senders' cached center
   * flags (copy-on-write) and re-run the adoption decision. */
  private[wcc] def applyFlags(st: PState, m: FlagMsg): PState = {
    val c = st.neighbors
    var center = c.center
    var copied = false
    var j = 0
    while (j < m.size) {
      val idx = java.util.Arrays.binarySearch(c.ids, m.ids(j))
      if (idx >= 0 && center(idx) != m.flags(j)) {
        if (!copied) { center = center.clone(); copied = true }
        center(idx) = m.flags(j)
      }
      j += 1
    }
    decide(st.data,
      if (copied) NborCache(c.ids, c.vts, c.ccs, center) else c)
  }

  def run(pruned: Graph[VertexData, Int], maxIterations: Int = 50): Graph[VertexData, Int] = {
    val nEdges = pruned.edges.count()
    // loop partitioner sized to the resident state (the caches are
    // O(sum of pruned degrees)); floor 8 keeps the one full shuffle
    // parallel, cap at the edge RDD's own partitioning
    val p = new org.apache.spark.HashPartitioner(
      math.max(8, math.min(pruned.edges.getNumPartitions,
        (2 * nEdges / 500000L).toInt)))

    // Superstep 1: every vertex broadcasts itself to all neighbors
    // (`DistributedWCC.scala:161-166`) — the loop's only full
    // exchange, and the only GraphX step.
    val msgs0: VertexRDD[SeedMsg] = pruned.aggregateMessages(
      ctx => {
        val s = ctx.srcAttr; val d = ctx.dstAttr
        ctx.sendToDst(new SeedMsg(s.vId, s.vt, s.cc, s.isCenter))
        ctx.sendToSrc(new SeedMsg(d.vId, d.vt, d.cc, d.isCenter))
      },
      SeedMsg.merge)

    // Superstep 2 builds the caches and makes the first decisions;
    // from here the state lives under the loop partitioner.
    var state: org.apache.spark.rdd.RDD[(Long, PState)] = pruned.vertices
      .leftJoin(msgs0) { (_, vd, mOpt) =>
        mOpt match {
          case Some(m) => vprog(PState(vd, changed = true, NborCache.empty), m)
          case None    => PState(vd, changed = false, NborCache.empty)
        }
      }
      .partitionBy(p)
    state.persist(StorageLevel.MEMORY_AND_DISK_SER)

    // One Spark job per superstep: the msgs count is the round's only
    // action and materializes the current state generation en route,
    // so unpersists trail by one generation.
    var prevState: org.apache.spark.rdd.RDD[(Long, PState)] = null
    var prevMsgs: org.apache.spark.rdd.RDD[(Long, FlagMsg)] = null
    var i = 2
    var quiescent = false
    while (!quiescent && i < maxIterations) {
      // send phase (`DistributedWCC.scala:210-218`): a vertex whose
      // center-ness flipped sends its new flag to every strictly
      // lower-ranked neighbor — neighbor ids and (immutable) ranks
      // come from the sender's own cache
      val msgs = state.mapPartitions(_.flatMap { case (_, st) =>
        if (!st.changed) Iterator.empty
        else {
          val self = st.data
          val c = st.neighbors
          val flag = self.isCenter
          val out = Iterator.range(0, c.ids.length).filter { k =>
            rankGt(self.cc, self.vt, self.vId, c.ccs(k), c.vts(k), c.ids(k))
          }.map(k => (c.ids(k), new FlagMsg(self.vId, flag)))
          out
        }
      })
        .combineByKey[FlagMsg](
          (m: FlagMsg) => m,
          (acc: FlagMsg, m: FlagMsg) => acc.addAll(m),
          (a: FlagMsg, b: FlagMsg) => FlagMsg.merge(a, b),
          p)
      msgs.persist(StorageLevel.MEMORY_AND_DISK_SER)
      val n = msgs.count() // materializes `state` (its one consumer)
      if (prevState != null) prevState.unpersist(blocking = false)
      if (prevMsgs != null) prevMsgs.unpersist(blocking = false)
      if (n == 0) {
        quiescent = true
        msgs.unpersist(blocking = false)
      } else {
        i += 1
        prevState = state
        prevMsgs = msgs
        // both sides live under p: hash the (frontier-sized) message
        // side per partition and stream the state — a zipPartitions
        // merge, not a cogroup that re-buffers the full state every
        // superstep
        state = prevState.zipPartitions(msgs, preservesPartitioning = true) {
          (sIt, mIt) =>
            val mm = new java.util.HashMap[Long, FlagMsg]()
            mIt.foreach(kv => mm.put(kv._1, kv._2))
            sIt.map { case (id, st) =>
              val m = mm.get(id)
              val next =
                if (m != null) applyFlags(st, m)
                // the consumed send-gate clears on non-receivers so a
                // vertex only sends in the superstep after it ran
                else if (st.changed) st.copy(changed = false)
                else st
              (id, next)
            }
        }
        state.persist(StorageLevel.MEMORY_AND_DISK_SER)
      }
    }
    state.count() // materialize the final generation
    if (prevState != null) prevState.unpersist(blocking = false)
    if (prevMsgs != null) prevMsgs.unpersist(blocking = false)
    System.err.println(s"[graft-wcc] initial-partition supersteps: $i")

    val finalState = state
    val out = pruned.outerJoinVertices(state.mapValues(_.data)) { (_, old, opt) =>
      opt.getOrElse(old)
    }
    out.cache()
    // force vertices AND edges so the loop state (and the input's
    // shipped attrs) can be dropped
    out.vertices.count()
    out.edges.count()
    finalState.unpersist(blocking = false)
    out
  }
}
