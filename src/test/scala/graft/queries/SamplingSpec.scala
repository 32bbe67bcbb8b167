package graft.queries

import graft.SparkSpec
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** The layered-sample blocks and the biased second-order walks must
 * equal a sequential replay of their hash rules exactly on the real
 * sf0.001 graph — the same bit-reproducible-sampler contract
 * RandomWalksSpec pins for the first-order walks. Both tests carry
 * failAfter guards: a lineage-accumulation regression in the walk
 * loops must FAIL the suite, never wedge it (LoopPlanGuardSpec pins
 * the plan-size invariant itself). */
class SamplingSpec extends SparkSpec with TimeLimits {
  private implicit val signaler: Signaler = ThreadSignaler
  private val sf = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def graph() = {
    val edges = GraphQueries.symmetrizedEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (v, es) =>
      (v, es.map(_._2).sorted)
    }
    (adj, edges.toSet)
  }

  test("sage sample equals the md5-ranked top-k replay") {
    failAfter(180.seconds) {
    val got = GraphWalkQueries.sageSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq

    val (adj, _) = graph()
    val seeds = GraphQueries.bfsSources(spark, sf)
    def topk(v: Long, k: Int): Seq[Long] =
      adj(v).sortBy(n => (md5hex(s"${v}_$n"), n)).take(k).toSeq
    val l1 = for { r <- seeds.toSeq; n <- topk(r, 5) } yield (r, 1L, r, n)
    val l2 = for { (r, _, _, p) <- l1; n <- topk(p, 3) } yield (r, 2L, p, n)
    assert(got === (l1 ++ l2).sorted)
    }
  }

  test("node2vec walks equal the biased sequential replay bit-for-bit") {
    failAfter(180.seconds) {
    val got = GraphWalkQueries.node2vecWalks(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getString(2), r.getLong(3))))
      .toMap

    val (adj, edgeSet) = graph()
    val seeds = GraphQueries.bfsSources(spark, sf)
    val want = (for { root <- seeds.toSeq; w <- 0L until 4L } yield {
      val ns0 = adj(root)
      var cur = ns0(((root * 1000003L + w * 10007L + 101L) % ns0.length).toInt)
      var prev = root
      val path = new StringBuilder(s"$root-$cur")
      (2 to 8).foreach { i =>
        val ns = adj(cur)
        val ws = ns.map { n =>
          if (n == prev) 1L else if (edgeSet((prev, n))) 2L else 4L
        }
        val tot = ws.sum
        val r = (cur * 1000003L + prev * 7919L + w * 10007L + i * 101L) % tot
        var cum = 0L
        var pick = -1L
        var j = 0
        while (pick < 0 && j < ns.length) {
          cum += ws(j)
          if (r < cum) pick = ns(j)
          j += 1
        }
        prev = cur
        cur = pick
        path.append(s"-$pick")
      }
      ((root, w), (path.toString, cur))
    }).toMap
    assert(got === want)

    val again = GraphWalkQueries.node2vecWalks(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getString(2), r.getLong(3))))
      .toMap
    assert(again === got)
    }
  }
}
