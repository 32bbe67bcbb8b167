package graft.graph

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.graphx.Graph
import org.apache.spark.graphx.impl.{EdgeRDDImpl, VertexRDDImpl}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/**
 * The iteration lifecycle shared by the fixpoint loops in
 * [[GraphAlgs]] and the WCC pipelines (`graft.wcc`): who owns a cached RDD, when a generation is
 * released, when lineage is cut, and what happens when a loop runs
 * out of rounds. The round bodies stay with the algorithms, and so
 * does each round's one action (a count, a max-fold, or an
 * accumulator read inside the round's own job).
 *
 * Ownership: every RDD, GraphX graph and broadcast a computation
 * caches goes through a [[Fixpoint.CacheScope]], which unpersists
 * whatever it still holds on `close()`. [[Fixpoint.scoped]],
 * [[Fixpoint.returning]] and [[Fixpoint.using]] also close it when the
 * computation throws, so a failed job or a tripped round guard leaves
 * nothing cached behind it. Only what a computation returns leaves
 * its scope; the receiver owns it from there.
 *
 * Release rule: an RDD cached through round n's `Loop.Round` is
 * released right after the body of round n + 1 + lag returns,
 * that is, once that round's action has materialized its successor.
 * Lag 0 fits a round whose action materializes the next state
 * directly. Lag 1 fits an RDD that the next round reads through a
 * lazy view which only the round after that materializes. When the
 * loop stops, its last generations stay in the scope until it closes.
 *
 * Lineage: the one way lineage is cut is locally
 * ([[CacheScope.cut]], `Round.cut`). Every WCC hand-off and
 * generation is a cut, and so is the state of every loop in
 * [[GraphAlgs]] that runs to a data-dependent depth (MIS, the
 * colorings, matching, DAG levels, SCC). An uncut state's lineage
 * grows a few stages per round: each round's job lists the whole
 * history as skipped stages, and a deep run overflows the task
 * serializer's stack. A cut RDD is persisted `MEMORY_AND_DISK` and
 * marked with `localCheckpoint()` before its first action. The first
 * job whose lineage walk reaches it, the action that already
 * materializes it, stores it and truncates its lineage without a job
 * of its own (Spark's scaladoc names long GraphX lineages as the use
 * case). Every later job then schedules only the stages after the
 * cut, so a round's job is the same at round 4 as at round 400. A
 * walk stops at the first marked RDD it meets, so a job that
 * materializes several cuts must reach each of them directly
 * ([[materialize]]).
 *
 * Invariant: a cut RDD, once released, can no longer be recomputed:
 * its lineage is gone, and a reader of its released blocks fails
 * where an uncut one would silently recompute them from the input.
 * So any RDD that outlives a cut parent must be cut itself, and
 * materialized before that parent is released: a loop that keeps a
 * part of each round to union at the end cuts that part and
 * materializes it in the round's own job, beside the next state. A
 * cached DataFrame built over a loop's cuts is materialized before the
 * scope closes, and once unpersisted it cannot be recomputed either.
 *
 * Trade-off: a local checkpoint lives in the block managers of the
 * executors that computed it. A block lost with its executor fails
 * the job instead of replaying the pipeline. Every entry point runs
 * `local[N]`, where the executor and the driver die together.
 */
object Fixpoint {

  /** The cached data one computation owns, released together. */
  final class CacheScope private[Fixpoint] () extends AutoCloseable {
    // keyed by the id of the RDD Spark registers as persistent
    private val held = new java.util.LinkedHashMap[Int, RDD[_]]()
    private val broadcasts = scala.collection.mutable.ArrayBuffer.empty[Broadcast[_]]

    /** Persist `rdd` at `level` and hold it until it is released or
     * the scope closes. */
    def cache[T](rdd: RDD[T], level: StorageLevel = StorageLevel.MEMORY_ONLY): RDD[T] = {
      rdd.persist(level)
      adopt(rdd)
      rdd
    }

    /** [[cache]] `rdd` as a lineage cut (see "Lineage" on
     * [[Fixpoint]]): persisted `MEMORY_AND_DISK` and checkpointed
     * locally by the action that first materializes it. */
    def cut[T](rdd: RDD[T]): RDD[T] = {
      cache(rdd, StorageLevel.MEMORY_AND_DISK)
      mark(rdd)
    }

    /** [[own]] `g` as a lineage cut: its vertices and its edges, each
     * checkpointed locally by the action that first materializes it. */
    def cut[VD, ED](g: Graph[VD, ED]): Graph[VD, ED] = {
      own(g)
      mark(g.vertices)
      mark(g.edges)
      g
    }

    /** Cache `g` and hold its vertices and edges. A GraphX operator
     * persists nothing else: each of its self-persists is the
     * vertices or edges of its receiver or of the graph it returns. */
    def own[VD, ED](g: Graph[VD, ED]): Graph[VD, ED] = {
      g.cache()
      adopt(g.vertices, g.edges)
      g
    }

    /** Hold RDDs persisted elsewhere, such as what a nested call
     * returned: releasing them is now this scope's job. */
    def adopt(rdds: RDD[_]*): Unit =
      rdds.map(registered).foreach(r => held.put(r.id, r))

    /** A broadcast of `value`, unpersisted when the scope closes. */
    def broadcast[T: ClassTag](sc: SparkContext, value: T): Broadcast[T] = {
      val b = sc.broadcast(value)
      broadcasts += b
      b
    }

    /** Unpersist RDDs this scope still holds; others, null among
     * them, are ignored. */
    def release(rdds: RDD[_]*): Unit = rdds.filter(_ != null).foreach { r =>
      Option(held.remove(registered(r).id)).foreach(_.unpersist(blocking = false))
    }

    /** Stop holding `rdds` without unpersisting them: they leave the
     * scope with a result, and its receiver owns them. */
    def disown(rdds: RDD[_]*): Unit = rdds.foreach(r => held.remove(registered(r).id))

    /** Unpersist everything the scope still holds. */
    def close(): Unit = {
      val all = held.values.toArray(Array.empty[RDD[_]])
      held.clear()
      all.foreach(_.unpersist(blocking = false))
      broadcasts.foreach(_.unpersist(blocking = false))
      broadcasts.clear()
    }

    /** A round driver whose generations this scope owns. */
    def loop(maxRounds: Int): Loop = new Loop(this, maxRounds)
  }

  /** The RDD Spark registers when `rdd` persists: GraphX's vertex and
   * edge RDDs persist their partitions RDD, not themselves, so the
   * scope compares these ids. */
  private def registered(rdd: RDD[_]): RDD[_] = rdd match {
    case v: VertexRDDImpl[_] => v.partitionsRDD
    case e: EdgeRDDImpl[_, _] => e.partitionsRDD
    case _ => rdd
  }

  /** Mark `rdd` for a local checkpoint (GraphX's vertex and edge
   * RDDs through their partitions RDD, which holds the data). */
  private def mark[T](rdd: RDD[T]): RDD[T] = {
    registered(rdd).localCheckpoint()
    rdd
  }

  /** Materialize every one of `rdds` in ONE job whose lineage walk
   * reaches each of them, so the cuts marked on them all ride on it,
   * and return their counts in order. */
  def materialize(rdds: RDD[_]*): Seq[Long] = {
    val sc = rdds.head.sparkContext
    val sizes = sc.runJob(sc.union(rdds.map(_.map(_ => ()))),
      (it: Iterator[Unit]) => it.foldLeft(0L)((n, _) => n + 1))
    val bounds = rdds.scanLeft(0)(_ + _.getNumPartitions)
    bounds.zip(bounds.tail).map { case (from, until) => sizes.slice(from, until).sum }
  }

  /** Run `body` in a new scope and hand the scope back with its
   * result: the caller closes it once it is done with the result.
   * If `body` throws, the scope is closed before the throw goes on. */
  def scoped[T](body: CacheScope => T): (T, CacheScope) = {
    val scope = new CacheScope
    try (body(scope), scope)
    catch {
      case t: Throwable =>
        // a throwing unpersist (a stopped context is often the cause
        // of `t` itself) must not mask the original failure
        try scope.close() catch { case c: Throwable => t.addSuppressed(c) }
        throw t
    }
  }

  /** Run `body` in a new scope that closes when `body` returns or
   * throws, except that the RDDs `out` names of the result leave it
   * with the result, for the caller to own. The rest of the result
   * must not read the scope's caches lazily. */
  def returning[T](body: CacheScope => T)(out: T => Seq[RDD[_]]): T = {
    val (res, scope) = scoped(body)
    scope.disown(out(res): _*)
    scope.close()
    res
  }

  /** [[returning]] with nothing leaving the scope. */
  def using[T](body: CacheScope => T): T = returning(body)(_ => Nil)

  /** Drives the rounds of one loop: the round counter, the
   * `maxRounds` bound and the release of superseded generations. */
  final class Loop private[Fixpoint] (scope: CacheScope, maxRounds: Int) {
    private val due = scala.collection.mutable.ArrayBuffer.empty[(Int, RDD[_])]

    /** Round 0: cache the loop's initial state through it. */
    val init: Round = new Round(0)

    /** Run rounds 1, 2, ... from `start` while `more` holds, and
     * return the last state. Before round maxRounds + 1 would start,
     * the loop stops when `overrun` is null and otherwise throws
     * IllegalArgumentException(overrun(state)). */
    def run[S](start: S)(more: S => Boolean, overrun: S => String = null)(
        body: (Round, S) => S): S = {
      var state = start
      var n = 0
      while (more(state) && (n < maxRounds || overrun != null)) {
        require(n < maxRounds, overrun(state))
        n += 1
        state = body(new Round(n), state)
        scope.release(due.collect { case (d, rdd) if d <= n => rdd }.toSeq: _*)
        due.filterInPlace(_._1 > n)
      }
      state
    }

    /** One round's handle: its 1-based number (0 for [[init]]). */
    final class Round private[Loop] (val number: Int) {
      /** Cache `rdd` in this round's generation (see the release
       * rule on [[Fixpoint]]). */
      def cache[T](rdd: RDD[T], level: StorageLevel = StorageLevel.MEMORY_ONLY,
          lag: Int = 0): RDD[T] = {
        scope.cache(rdd, level)
        due += ((number + 1 + lag, rdd))
        rdd
      }

      /** [[cache]] `rdd` in this round's generation as a lineage cut
       * (see "Lineage" on [[Fixpoint]]). */
      def cut[T](rdd: RDD[T]): RDD[T] = mark(cache(rdd, StorageLevel.MEMORY_AND_DISK))
    }
  }
}
