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
}

/** Shared helpers of the WCC pipelines. */
private[wcc] object WccUtil {
  /** the RDDs a cached graph holds: its vertices and edges */
  def cached(g: org.apache.spark.graphx.Graph[_, _]): Seq[org.apache.spark.rdd.RDD[_]] =
    Seq(g.vertices, g.edges)
}

/** Named points where a spec injects a failure into a WCC pipeline.
 * A point fires only on the thread that armed it, so a concurrent
 * call on the same session runs through it untouched. */
private[wcc] object Failpoint {
  private val armed = new ThreadLocal[String]

  /** Run `body` with the point `name` armed on this thread. */
  def arm[T](name: String)(body: => T): T = {
    armed.set(name)
    try body finally armed.remove()
  }

  /** Throw if the point `name` is armed on this thread. */
  def apply(name: String): Unit =
    if (name == armed.get) throw new RuntimeException(s"injected test failure $name")
}
