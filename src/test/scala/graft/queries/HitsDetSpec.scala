package graft.queries

import graft.SparkSpec

/** The deterministic integer HITS scores must equal a sequential
 * replay of the micro-unit recurrence exactly — no tolerance — on
 * the real sf0.001 customer→supplier purchase graph, and a second
 * distributed run must reproduce them bit-for-bit. Same contract
 * as PagerankDetSpec: order-free integer sums mean distribution
 * cannot move a single bit. */
class HitsDetSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("deterministic HITS equals the sequential recurrence bit-for-bit") {
    val got = GraphWalkQueries.hitsDeterministic(spark, sf)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap

    val edges = GraphWalkQueries.purchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adjOut = edges.groupBy(_._1).map { case (u, es) => (u, es.map(_._2)) }
    val adjIn = edges.groupBy(_._2).map { case (v, es) => (v, es.map(_._1)) }
    var hub: Map[Long, Long] = adjOut.map { case (u, _) => (u, 1000000L) }.toMap
    var auth: Map[Long, Long] = Map.empty
    (1 to 8).foreach { _ =>
      val aRaw = adjIn.map { case (v, ins) => (v, ins.map(hub).sum) }
      val aMax = aRaw.values.max
      auth = aRaw.map { case (v, s) => (v, s * 1000000L / aMax) }.toMap
      val hRaw = adjOut.map { case (u, outs) => (u, outs.map(auth).sum) }
      val hMax = hRaw.values.max
      hub = hRaw.map { case (u, s) => (u, s * 1000000L / hMax) }.toMap
    }
    val want = hub.map { case (u, s) => (("hub", u), s) } ++
      auth.map { case (v, s) => (("auth", v - 1000000L), s) }
    assert(got === want)
    // max-normalization pins the argmax of each role at one million
    assert(hub.values.max === 1000000L)
    assert(auth.values.max === 1000000L)

    val again = GraphWalkQueries.hitsDeterministic(spark, sf)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(again === got)
  }
}
