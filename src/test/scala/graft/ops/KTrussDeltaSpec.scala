package graft.ops

import graft.SparkSpec
import graft.graph.GraphAlgs

/** Parity of the delta k-truss peel (support decrements per dead
 * triangle) against the full-recompute peel it replaced: identical
 * surviving edge sets, identical final supports, identical round-1
 * survivor counts, on seeded random graphs across densities and k.
 * The delta loop's correctness argument lives in its Scaladoc; this
 * spec pins it mechanically. */
class KTrussDeltaSpec extends SparkSpec {

  import spark.implicits._

  private def randomCanonical(n: Int, m: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val set = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
    while (set.size < m) {
      val a = rnd.nextInt(n).toLong
      val b = rnd.nextInt(n).toLong
      if (a != b) set += ((math.min(a, b), math.max(a, b)))
    }
    set.toSeq
  }

  private def run(edges: Seq[(Long, Long)], k: Int): Unit = {
    val df = edges.toDF("src", "dst")
    val delta = GraphAlgs.ktrussPeel(df, k)
    val full = GraphAlgs.ktrussPeelRecompute(df, k)
    val dEdges = delta.edges.select("src", "dst", "support")
      .as[(Long, Long, Int)].collect().toSet
    val fEdges = full.edges.select("src", "dst", "support")
      .as[(Long, Long, Int)].collect().toSet
    delta.scope.close(); full.scope.close()
    assert(dEdges == fEdges,
      s"k=$k: delta fixpoint ${dEdges.size} edges != recompute ${fEdges.size}")
    assert(delta.r1Count == full.r1Count, s"k=$k r1 mismatch")
    assert(delta.converged == full.converged, s"k=$k converged mismatch")
  }

  test("delta peel == recompute peel on seeded random graphs") {
    for {
      (n, m) <- Seq((12, 30), (20, 60), (30, 90), (40, 100))
      k <- Seq(3, 4, 5)
      seed <- Seq(1L, 2L)
    } run(randomCanonical(n, m, seed * 31 + n + k), k)
  }

  test("delta peel == recompute peel on a dense clique-plus-fringe graph") {
    // K8 core (every edge support 6) + a ring of triangles hanging
    // off it — deep cascades for k=5/6
    val clique = for { a <- 0L until 8L; b <- (a + 1) until 8L } yield (a, b)
    val fringe = (0 until 10).flatMap { i =>
      val base = 8L + 2 * i
      Seq((i.toLong % 8, base), (i.toLong % 8, base + 1), (base, base + 1))
    }
    for (k <- Seq(3, 4, 5, 6)) run(clique ++ fringe, k)
  }

  test("delta peel handles the all-peeled-to-empty fixpoint") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    run(edges, 4)
  }
}
