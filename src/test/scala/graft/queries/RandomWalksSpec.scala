package graft.queries

import graft.SparkSpec
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** The hash-walk corpus must equal a sequential replay of the
 * next-hop rule exactly on the real sf0.001 graph — the
 * bit-reproducible-sampler contract (same family as the det
 * fixpoints: no randomness source, just arithmetic both engines
 * and any partitioning evaluate identically). failAfter: a walk-loop
 * lineage regression must fail the suite, never wedge it. */
class RandomWalksSpec extends SparkSpec with TimeLimits {
  private implicit val signaler: Signaler = ThreadSignaler
  private val sf = "/root/testdata/sf0.001"

  test("hash walks equal the sequential replay bit-for-bit") {
    failAfter(180.seconds) {
    val got = GraphWalkQueries.randomWalks(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap

    val edges = GraphQueries.symmetrizedEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (v, es) => (v, es.map(_._2).sorted) }
    val seeds = GraphQueries.bfsSources(spark, sf)
    val want = (for { r <- seeds.toSeq; w <- 0L until 4L } yield {
      var v = r
      (1 to 8).foreach { i =>
        val ns = adj(v)
        v = ns(((v * 1000003L + w * 10007L + i * 101L) % ns.length).toInt)
      }
      ((r, w), v)
    }).toMap
    assert(got === want)

    val again = GraphWalkQueries.randomWalks(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(again === got)
    }
  }

  test("walk id-width guard: wraps are refused loudly, the bound passes through") {
    // v * 1000003 wraps for v >= ~9.2e12 — in the node2vec weighted
    // pick a negative mix silently selects the first neighbor while
    // the oracle raises; the shared adjacency guard must throw first
    val e = intercept[IllegalArgumentException] {
      GraphWalkQueries.requireWalkIdWidth(9000000000000L)
    }
    assert(e.getMessage.contains("step mix"))
    assert(GraphWalkQueries.requireWalkIdWidth(8999999999999L) === 8999999999999L)
  }
}
