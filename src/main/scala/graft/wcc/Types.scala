package graft.wcc

/**
 * Core record types of the WCC pipeline.
 *
 * Immutable re-modeling of the reference's mutable records
 * (`VertexData.scala:13-54`, `CommunityData.scala:11-32` in the
 * reference repo). The reference's per-vertex neighbor list and
 * `VertexMessage` of the seeding have no record here: the seeding runs
 * on the columnar blocks of [[RefineState]].
 */

/** Per-vertex triangle/community state.
 *
 * @param vId vertex id
 * @param t   number of triangles through the vertex (full graph)
 * @param vt  number of neighbors forming >=1 triangle with the vertex
 *            (= degree in the pruned graph, reference
 *            `DistributedWCC.scala:125-129`)
 * @param cId current community id (initially own id)
 */
final case class VertexData(vId: Long, t: Int, vt: Int, cId: Long) {
  /** F1: clustering coefficient, 0 when vt < 2
   * (reference `VertexData.scala:16-22`). */
  def cc: Double = VertexData.cc(t, vt)
  def isCenter: Boolean = vId == cId
}

object VertexData {
  /** [[VertexData.cc]] of the counts (t, vt) */
  def cc(t: Int, vt: Int): Double = if (vt < 2) 0.0 else 2.0 * t / (vt.toLong * (vt - 1))

  /** Load-bearing total order deciding community centers
   * (reference `VertexData.scala:57-59`). */
  implicit val ordering: Ordering[VertexData] =
    Ordering.by((d: VertexData) => (d.cc, d.vt, d.vId))
}

/** Community statistics.
 *
 * @param r community size (vertex count)
 * @param a number of internal (intra-community) undirected edges —
 *          Double to match the reference's arithmetic exactly
 *          (`CommunityData.scala:11`)
 * @param b number of external (boundary) undirected edges
 */
final case class CommunityData(r: Int, a: Double, b: Int) {
  /** F2: edge density d = 2a / r^2 (reference `CommunityData.scala:13`). */
  def d: Double = 2 * a / math.pow(r, 2)

  def removeVertex(dIn: Int, dOut: Int): CommunityData =
    CommunityData(r - 1, a - dIn, b + dIn - dOut)

  def addVertex(dIn: Int, dOut: Int): CommunityData =
    CommunityData(r + 1, a + dIn, b - dIn + dOut)
}

/** Shared helper for the WCC pipelines' concurrent Spark jobs. */
private[wcc] object WccUtil {
  /** `join()` with the wrapper peeled: a failure inside a
   * `CompletableFuture` job surfaces as the underlying Spark
   * exception, not a `CompletionException` — one definition for
   * every overlap site so failure handling cannot drift. */
  def joinUnwrapped[T](f: java.util.concurrent.CompletableFuture[T]): T =
    try f.join() catch {
      case e: java.util.concurrent.CompletionException =>
        throw Option(e.getCause).getOrElse(e)
    }

  /** Run a failure-path cleanup without letting IT fail (review
   * r17): a throwing unpersist/sweep (stopped context, lost block
   * manager — often the very condition that caused the original
   * failure) must never mask the root-cause exception the catch is
   * about to rethrow, nor skip the releases sequenced after it. */
  def quietly(f: => Unit): Unit = try f catch { case _: Throwable => () }

  /** A [[cacheSnapshot]] handle: the persisted-RDD ids at scope entry
   * plus a global sequence number — [[sweepNewCaches]] uses the
   * sequence to tell "a NEWER scope opened on another thread"
   * (overlap — sweeping would drop its caches) from "an older scope
   * on another thread ran and finished long ago" (stale, harmless). */
  final case class CacheSnapshot(ids: Set[Int], seq: Long)

  private val snapshotSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Latest [[cacheSnapshot]] sequence PER (context, thread): the
   * sweep's sequentiality probe (ADVICE r17). A sweep with snapshot
   * seq S is vetoed when any OTHER thread holds a snapshot newer
   * than S — that thread's pipeline scope opened after ours and a
   * context-wide sweep could drop its caches. Per-thread maxima (not
   * a single latest slot, review r18): a same-thread NESTED snapshot
   * (run -> refine takes one every call) would otherwise overwrite
   * and mask an interleaved other-thread snapshot. Outer map is
   * weak-keyed so stopped contexts are not pinned for the JVM
   * lifetime; inner per-thread entries are bounded by the threads
   * that ever ran a pipeline on the context. */
  private val snapshotsByContext = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext,
      java.util.concurrent.ConcurrentHashMap[Thread, Long]]())

  private def threadSeqs(sc: org.apache.spark.SparkContext) =
    snapshotsByContext.synchronized {
      var m = snapshotsByContext.get(sc)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[Thread, Long]()
        snapshotsByContext.put(sc, m)
      }
      m
    }

  /** Retention bound for the per-context thread-seq map (ADVICE r18):
   * a churning pool on a long-lived context would otherwise retain
   * every Thread that ever ran a pipeline. Eviction only touches DEAD
   * threads and only the OLDEST seqs beyond the cap, so a recent dead
   * thread's entry — a legitimate overlap signal whose scope's caches
   * outlive it (SweepGuardSpec) — always survives; a veto miss would
   * need more than this many newer-than-live-scope dead entries. */
  private val MaxThreadSeqEntries = 4096

  /** Entry snapshot for [[sweepNewCaches]]: the ids of every RDD the
   * context currently has registered as persistent. */
  def cacheSnapshot(sc: org.apache.spark.SparkContext): CacheSnapshot = {
    val seq = snapshotSeq.incrementAndGet()
    val m = threadSeqs(sc)
    m.put(Thread.currentThread(), seq)
    if (m.size > MaxThreadSeqEntries) {
      import scala.jdk.CollectionConverters._
      m.asScala.toSeq.collect { case (t, s) if !t.isAlive => (t, s) }
        .sortBy(_._2)
        .take(m.size - MaxThreadSeqEntries)
        .foreach { case (t, _) => m.remove(t) }
    }
    CacheSnapshot(sc.getPersistentRDDs.keySet.toSet, seq)
  }

  /** Failure-path cache sweep (leak-spec finding, r17): unpersist
   * every RDD registered with the context AFTER `beforeIds` was
   * snapshotted. GraphX operators self-persist internals that
   * targeted releases cannot name from the outside — `Graph.apply`
   * caches both sides, `aggregateMessages`/`outerJoinVertices`
   * re-persist upgraded replicated-view generations — so a
   * thrown-through path that frees only the graphs it can see still
   * leaks. On failure everything the call registered is garbage by
   * definition, and caller-owned inputs predate the snapshot, so the
   * sweep is exact. PRECONDITION: no concurrent caller registers
   * caches between snapshot and sweep (the harness runs queries
   * sequentially; the in-call concurrent fold is joined before
   * sweeping). */
  def sweepNewCaches(sc: org.apache.spark.SparkContext,
      snap: CacheSnapshot): Unit = {
    // Guard rails (ADVICE r17): the context-wide sweep is only exact
    // under the sequential-caller precondition, so (a) a deployment
    // that shares one session across concurrent queries can disable
    // it outright, and (b) a detectably violated precondition — a
    // snapshot taken by ANOTHER thread after ours, i.e. an
    // overlapping pipeline scope whose fresh caches a context-wide
    // sweep would drop — degrades to a loud no-op: leaking this
    // call's garbage on an already-failing path beats silently
    // unpersisting a live concurrent query's state.
    if (sys.props.get("graft.wcc.failureSweep").contains("off")) {
      System.err.println("[graft-wcc] failure-path cache sweep disabled " +
        "(graft.wcc.failureSweep=off) — caches registered by the failed " +
        "call may remain persisted")
      return
    }
    val me = Thread.currentThread()
    val newerForeign = {
      import scala.jdk.CollectionConverters._
      // NOTE a dead thread's entry is NOT pruned here (ADVICE r18
      // suggested it; SweepGuardSpec pins the opposite): the veto
      // protects the overlapping SCOPE's caches, which outlive the
      // thread that registered them — a pool task can open a scope,
      // die, and leave its cached RDDs owned by a consumer elsewhere.
      // Growth is bounded at snapshot time instead (see
      // [[cacheSnapshot]]), where only oldest-seq dead entries are
      // evicted and only beyond a hard cap.
      threadSeqs(sc).asScala.collectFirst {
        case (t, seq) if (t ne me) && seq > snap.seq => t
      }
    }
    if (newerForeign.isDefined) {
      System.err.println("[graft-wcc] SKIPPING failure-path cache sweep: " +
        s"a newer cacheSnapshot was taken by thread " +
        s"'${newerForeign.get.getName}' — concurrent pipeline scopes " +
        "violate the sweep's sequential precondition; leaving all caches " +
        "persisted (possible leak)")
      return
    }
    val swept = sc.getPersistentRDDs.collect {
      case (id, rdd) if !snap.ids.contains(id) =>
        rdd.unpersist(blocking = false)
        s"$id:${rdd.toString.take(80)}"
    }
    if (swept.nonEmpty)
      System.err.println(
        s"[graft-wcc] failure-path sweep unpersisted ${swept.size} RDD(s): " +
          swept.mkString("; "))
  }
}
