package graft.wcc

import graft.graph.Fixpoint
import org.apache.spark.HashPartitioner
import org.apache.spark.graphx._
import org.apache.spark.rdd.RDD

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
 * Execution shape: the loop runs on [[RefineState]]'s columnar vertex
 * blocks under the vertex RDD's `HashPartitioner`, one cached
 * [[VertexBlock]] per partition whose adjacency carries the
 * [[SeedRanks]]:
 *  - the build job ([[RefineState.blocks]]) ships each vertex's
 *    (cId, t, vt) once to every partition holding it as a ghost, builds
 *    the blocks and makes the superstep-2 decisions: every vertex with a
 *    neighbor decides on its neighbors' initial center flags. The
 *    attributes no longer ride on every edge slot (16 bytes a slot):
 *    that saved a stage only while GraphX triplets fed the build, whose
 *    own vertex shipping the ghost exchange now replaces;
 *  - every later superstep is ONE job of two stages. Each vertex whose
 *    label changed in the previous superstep sends its new label (its
 *    center flag is `label == id`) once per partition holding it as a
 *    ghost; the receiving stage applies the labels and re-decides
 *    exactly the vertices with a higher-ranked neighbor whose center
 *    flag flipped.
 * A decision reads only the center flags of higher-ranked neighbors as
 * of the previous superstep — what the reference's neighbor cache
 * holds, since a flag is only sent to lower-ranked neighbors — so the
 * trajectory is the reference's. A lower-ranked neighbor's flag never
 * decides an adoption. A non-center vertex can switch centers without
 * a flag transition: its label still travels, so ghost labels stay
 * exact, but it makes nobody re-decide. The loop stops when no
 * flipped vertex has a lower-ranked neighbor (the reference's message
 * quiescence) or after `maxIterations` supersteps.
 *
 * The job result per partition is the round's counts and, when none of
 * its own labels changed, its community-stat partial. After a
 * superstep in which no label changed, ghost labels, same-community
 * degrees and stats are exact, so IDWCC hands that generation to the
 * fixed-5 refinement as is ([[refineSeed]]).
 */
object InitialPartition {
  import RefineState.rankGt

  /** One partition's superstep result: its changed labels, the changed
   * vertices whose center flag flipped and that have a lower-ranked
   * neighbor (the reference's senders of the next superstep), and its
   * stats partial. */
  private final class Round(val changed: Long, val pending: Long, val partial: Partial)
      extends Serializable

  /** A cached seeding generation and its round totals; `stats` is exact
   * when `changed` is 0. */
  private[wcc] final class Gen(val blocks: RDD[(Int, VertexBlock)], val changed: Long,
      val pending: Long, val stats: Map[Long, CommunityData])

  /** The seeded partition of `pruned`: the block loop plus one relabel
   * (cached; its vertices materialized). */
  def run(pruned: Graph[VertexData, Int], maxIterations: Int = 50): Graph[VertexData, Int] =
    Fixpoint.returning { scope =>
      val part = new HashPartitioner(pruned.vertices.getNumPartitions)
      val slots = RefineState.pairSlots(RefineState.pairsOf(pruned.edges), part)
      val g = converge(build(pruned.vertices, slots, part, None, _), part, maxIterations, scope)
      val out = RefineState.toGraph(pruned, RefineState.labelsOf(g.blocks)(_.label), scope)
      scope.release(g.blocks)
      Failpoint("after seeding")
      out
    }(WccUtil.cached)

  /** The converged seeding of `vertices` (under `part`, those `vpred`
   * accepts) and their edge `slots` as the seed generation of the
   * refinement, its blocks cached in `scope`: one more label-shipping
   * job when the last superstep changed labels, so ghost labels,
   * same-community degrees and stats are exact. */
  private[wcc] def refineSeed(vertices: RDD[(VertexId, VertexData)],
      slots: RDD[(Int, EdgeSlots)], part: HashPartitioner, maxIterations: Int,
      scope: Fixpoint.CacheScope, vpred: Option[VertexData => Boolean] = None): RefineState = {
    var g = converge(build(vertices, slots, part, vpred, _), part, maxIterations, scope)
    if (g.changed > 0) {
      val last = g
      g = superstep(last, part, decide = false, RefineState.in(scope))
      scope.release(last.blocks)
    }
    new RefineState(g.blocks, part, g.stats, 0.0, 0L)
  }

  /** One job per superstep from the build job's generation until
   * quiescence; each generation is released once the next one is
   * built, and the last stays in `scope`. */
  private def converge(build: RefineState.Cache => Gen, part: HashPartitioner,
      maxIterations: Int, scope: Fixpoint.CacheScope): Gen = {
    val t0 = System.currentTimeMillis()
    val loop = scope.loop(maxIterations - 2)
    val built = build(RefineState.in(loop.init))
    val t1 = System.currentTimeMillis()
    var i = 2
    val g = loop.run(built)(_.pending > 0) { (r, prev) =>
      i = r.number + 2
      superstep(prev, part, decide = true, RefineState.in(r))
    }
    System.err.println(s"[graft-wcc] initial-partition: build ${t1 - t0} ms, " +
      s"supersteps to $i ${System.currentTimeMillis() - t1} ms")
    g
  }

  /** The build job: the ranked blocks of `vertices` (under `part`) and
   * `slots` ([[RefineState.blocks]], with `vpred`) and the superstep-2
   * decisions. */
  private[wcc] def build(vertices: RDD[(VertexId, VertexData)], slots: RDD[(Int, EdgeSlots)],
      part: HashPartitioner, vpred: Option[VertexData => Boolean],
      cache: RefineState.Cache): Gen =
    finish(RefineState.blocks(vertices, slots, part, RefineState.Ship.Ranks, vpred)(
      decideRound(_, _, _, null)), cache)

  /** One superstep (one job): ship the labels the previous superstep
   * changed, then — with `decide` — re-decide the vertices with a
   * flipped higher-ranked neighbor. */
  private[wcc] def superstep(g: Gen, part: HashPartitioner, decide: Boolean,
      cache: RefineState.Cache): Gen = {
    val moves = RefineState.exchange(g.blocks.mapPartitions { it =>
      val (pid, b) = it.next()
      RefineState.sendMoves(pid, b.adj, b.prevLabel, b.label, 0.0, part.numPartitions)
    }, part)
    finish(g.blocks.zipPartitions(moves, preservesPartitioning = true) { (bIt, mIt) =>
      val (pid, b) = bIt.next()
      val adj = b.adj
      val ghostLabel = b.ghostLabel.clone()
      val ghostFlip = new Array[Boolean](adj.ghosts.length)
      mIt.foreach { case (_, m) =>
        if (m.src != pid) {
          var k = 0
          while (k < m.ids.length) {
            val x = java.util.Arrays.binarySearch(adj.ghosts, m.ids(k))
            val id = adj.ghosts(x)
            ghostFlip(x) = (ghostLabel(x) == id) != (m.labels(k) == id)
            ghostLabel(x) = m.labels(k)
            k += 1
          }
        }
      }
      val next =
        if (decide) decideRound(adj, b.label, ghostLabel, receivers(b, ghostFlip))
        else new VertexBlock(adj, b.label, ghostLabel,
          RefineState.ownDegrees(adj, b.label, ghostLabel), null, b.label, 0.0, 0L)
      Iterator((pid, next))
    }, cache)
  }

  /** Per vertex: whether a higher-ranked neighbor's center flag flipped
   * in the superstep that built `b` (`ghostFlip` for the ghosts). */
  private def receivers(b: VertexBlock, ghostFlip: Array[Boolean]): Array[Boolean] = {
    val adj = b.adj
    val up = adj.rank.up
    val flip = Array.tabulate(adj.n)(i => flipped(adj.ids(i), b.prevLabel(i), b.label(i)))
    val recv = new Array[Boolean](adj.n)
    if (flip.contains(true) || ghostFlip.contains(true)) {
      var i = 0
      while (i < adj.n) {
        var j = adj.offs(i)
        while (!recv(i) && j < adj.offs(i + 1)) {
          val r = adj.ref(j)
          recv(i) = up(j) && (if (r >= 0) flip(r) else ghostFlip(~r))
          j += 1
        }
        i += 1
      }
    }
    recv
  }

  @inline private def flipped(id: Long, before: Long, after: Long): Boolean =
    (before == id) != (after == id)

  /** The decisions of one superstep over `label` and `ghostLabel` (the
   * previous superstep's): the vertices with a neighbor and `recv` set
   * (all of them when `recv` is null) re-decide. The result's
   * `prevLabel` is `label`; it has same-community degrees when no own
   * label changed. */
  private def decideRound(adj: Adjacency, label: Array[Long], ghostLabel: Array[Long],
      recv: Array[Boolean]): VertexBlock = {
    val next = label.clone()
    var changed = false
    var i = 0
    while (i < adj.n) {
      if (adj.deg(i) > 0 && (recv == null || recv(i))) {
        next(i) = adopt(adj, label, ghostLabel, i)
        changed ||= next(i) != label(i)
      }
      i += 1
    }
    val own = if (changed) null else RefineState.ownDegrees(adj, next, ghostLabel)
    new VertexBlock(adj, next, ghostLabel, own, null, label, 0.0, 0L)
  }

  /** The adoption decision (reference `DistributedWCC.scala:186-198`):
   * the highest-ranked center among the neighbors that outrank vertex
   * i, else i itself. Duplicate adjacency slots cannot change it. */
  private def adopt(adj: Adjacency, label: Array[Long], ghostLabel: Array[Long],
      i: Int): Long = {
    val rk = adj.rank
    var found = false
    var bCc = 0.0; var bVt = 0; var bId = 0L
    var j = adj.offs(i)
    while (j < adj.offs(i + 1)) {
      if (rk.up(j)) {
        val r = adj.ref(j)
        val id = if (r >= 0) adj.ids(r) else adj.ghosts(~r)
        if ((if (r >= 0) label(r) else ghostLabel(~r)) == id) {
          val cc = if (r >= 0) rk.cc(r) else rk.ghostCc(~r)
          val vt = if (r >= 0) adj.vt(r) else rk.ghostVt(~r)
          if (!found || rankGt(cc, vt, id, bCc, bVt, bId)) {
            found = true; bCc = cc; bVt = vt; bId = id
          }
        }
      }
      j += 1
    }
    if (found) bId else adj.ids(i)
  }

  /** Caches `blocks` and runs the round's one job on them. */
  private def finish(blocks: RDD[(Int, VertexBlock)], cache: RefineState.Cache): Gen = {
    cache(blocks)
    val rounds = blocks.sparkContext.runJob(blocks, roundOf _)
    val (stats, _, _) = RefineState.merge(rounds.map(_.partial))
    new Gen(blocks, rounds.map(_.changed).sum, rounds.map(_.pending).sum, stats)
  }

  /** The job-result function of a seeding generation's block */
  private def roundOf(it: Iterator[(Int, VertexBlock)]): Round = {
    val b = it.next()._2
    val adj = b.adj
    var changed = 0L; var pending = 0L
    var i = 0
    while (i < adj.n) {
      if (b.label(i) != b.prevLabel(i)) {
        changed += 1
        if (flipped(adj.ids(i), b.prevLabel(i), b.label(i))) {
          var j = adj.offs(i)
          var lower = false
          while (!lower && j < adj.offs(i + 1)) {
            lower = !adj.rank.up(j) && adj.nbrs(j) != adj.ids(i)
            j += 1
          }
          if (lower) pending += 1
        }
      }
      i += 1
    }
    new Round(changed, pending, RefineState.partial(b))
  }
}
