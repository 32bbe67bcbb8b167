package graft.ops

import graft.SparkSpec
import graft.graph.GraphAlgs
import graft.wcc.GraphFixtures
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property checks for the frontier loops on co-partitioned pair
 * RDDs (k-core deltas, bitmask BFS) against brute-force sequential
 * recomputation on scalacheck-generated random graphs — the loops'
 * delta bookkeeping must land on exactly the classical fixpoints. */
class LoopPropertySpec extends SparkSpec {
  import GraphFixtures.graphOf

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(100L + i)))

  private def forAll[T](g: Gen[T], n: Int = 8)(check: T => Unit): Unit =
    samples(g, n).foreach(check)

  private val edgeGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(4, 18)
    m <- Gen.choose(n, 3 * n)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(1L, n.toLong)
      b <- Gen.choose(1L, n.toLong)
    } yield (a, b))
  } yield edges.filter(e => e._1 != e._2)

  /** Classical k-core by sequential peeling: repeatedly delete the
   * minimum-degree vertex; its coreness is the running maximum of
   * the minimum degree seen. */
  private def bruteCoreness(edges: Seq[(Long, Long)]): Map[Long, Int] = {
    val und = edges.flatMap(e => Seq(e, e.swap)).distinct
    var adj = und.groupBy(_._1).map { case (v, es) => (v, es.map(_._2).toSet) }
    var core = Map.empty[Long, Int]
    var k = 0
    while (adj.nonEmpty) {
      val (v, ns) = adj.minBy { case (u, us) => (us.size, u) }
      k = math.max(k, ns.size)
      core += (v -> k)
      adj = (adj - v).map { case (u, us) => (u, us - v) }
    }
    core
  }

  test("delta k-core equals sequential peeling on random graphs") {
    forAll(edgeGen) { edges =>
      if (edges.nonEmpty) {
        val g = graphOf(spark, edges)
        val got = GraphAlgs.coreness(g).vertices.collect().toMap
        val want = bruteCoreness(edges)
        assert(got.filter(_._2 > 0) === want.filter(_._2 > 0),
          s"coreness diverges on $edges")
      }
    }
  }

  private def bruteBfs(edges: Seq[(Long, Long)], source: Long): Map[Long, Int] = {
    val und = edges.flatMap(e => Seq(e, e.swap)).distinct
    val adj = und.groupBy(_._1).map { case (v, es) => (v, es.map(_._2)) }
    var dist = Map(source -> 0)
    var frontier = Seq(source)
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      val next = frontier.flatMap(v => adj.getOrElse(v, Seq.empty))
        .distinct.filterNot(dist.contains)
      next.foreach(v => dist += (v -> d))
      frontier = next
    }
    dist
  }

  test("bitmask frontier BFS equals brute BFS from multiple sources") {
    forAll(edgeGen) { edges =>
      if (edges.nonEmpty) {
        val g = graphOf(spark, edges)
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val sources = verts.take(3).toArray
        val (state, scope) = GraphAlgs.multiSourceBfsRDD(g, sources, maxHops = 30)
        val got = state.collect().toMap
        scope.close()
        sources.zipWithIndex.foreach { case (s, i) =>
          val want = bruteBfs(edges, s)
          got.foreach { case (vid, ds) =>
            val expected = want.getOrElse(vid, Int.MaxValue)
            assert(ds(i) === expected, s"vid=$vid source=$s on $edges")
          }
          // every brute-reached vertex is present
          want.keys.foreach(v => assert(got.contains(v), s"missing $v from $s"))
        }
      }
    }
  }
}
