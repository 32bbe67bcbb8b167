package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/**
 * The iteration lifecycle shared by the fixpoint loops in
 * [[GraphAlgs]]: who owns a cached RDD, when a generation is
 * released, when lineage is cut, and what happens when a loop runs
 * out of rounds. The round bodies stay with the algorithms, and so
 * does each round's one action (a count, a max-fold, or an
 * accumulator read inside the round's own job).
 *
 * Ownership: every RDD a computation caches goes through a
 * [[Fixpoint.CacheScope]], which unpersists whatever it still holds
 * on `close()`. [[Fixpoint.scoped]] and [[Fixpoint.using]] also
 * close it when the computation throws, so a failed job or a
 * tripped round guard leaves nothing cached behind it.
 *
 * Release rule: an RDD cached through round n's `Loop.Round` is
 * released right after the body of round n + 1 + lag returns,
 * that is, once that round's action has materialized its successor.
 * Lag 0 fits a round whose action materializes the next state
 * directly. Lag 1 fits an RDD that the next round reads through a
 * lazy view which only the round after that materializes. When the
 * loop stops, its last generations stay in the scope until it closes.
 *
 * Lineage: a state marked with `Round.checkpoint` is reliably
 * checkpointed every [[Fixpoint.CheckpointEvery]] rounds when the
 * context has a checkpoint dir (every entry point sets one). An
 * uncut lineage grows a few stages per round and overflows the task
 * serializer's stack on deep runs.
 */
object Fixpoint {

  /** Rounds between reliable checkpoints of a marked loop state. */
  val CheckpointEvery = 16

  /** The RDDs one computation has cached, released together. */
  final class CacheScope private[Fixpoint] () extends AutoCloseable {
    private val held = new java.util.LinkedHashSet[RDD[_]]()

    /** Persist `rdd` at `level` and hold it until it is released or
     * the scope closes. */
    def cache[T](rdd: RDD[T], level: StorageLevel = StorageLevel.MEMORY_ONLY): RDD[T] = {
      rdd.persist(level)
      held.add(rdd)
      rdd
    }

    /** Unpersist RDDs this scope still holds; others are ignored. */
    def release(rdds: RDD[_]*): Unit =
      rdds.foreach(r => if (held.remove(r)) r.unpersist(blocking = false))

    /** Unpersist everything the scope still holds. */
    def close(): Unit = {
      val all = held.toArray(Array.empty[RDD[_]])
      held.clear()
      all.foreach(_.unpersist(blocking = false))
    }

    /** A round driver whose generations this scope owns. */
    def loop(maxRounds: Int): Loop = new Loop(this, maxRounds)
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
   * throws. The result must not read the scope's caches lazily. */
  def using[T](body: CacheScope => T): T = {
    val (out, scope) = scoped(body)
    scope.close()
    out
  }

  /** Drives the rounds of one loop: the round counter, the
   * `maxRounds` bound, the checkpoint cadence and the release of
   * superseded generations. */
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

      /** Mark `rdd` for a reliable checkpoint if this is a cadence
       * round and a checkpoint dir is set. Call before the round's
       * action. */
      def checkpoint[T](rdd: RDD[T]): RDD[T] = {
        if (number % CheckpointEvery == 0 && rdd.sparkContext.getCheckpointDir.isDefined)
          rdd.checkpoint()
        rdd
      }
    }
  }
}
