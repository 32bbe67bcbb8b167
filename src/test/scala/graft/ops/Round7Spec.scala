package graft.ops

import graft.SparkSpec
import graft.graph.GraphAlgs

class Round7Spec extends SparkSpec {

  import spark.implicits._

  // ---- k-truss peel ------------------------------------------------

  test("ktrussPeel keeps a K4 and peels a dangling triangle and pendant") {
    // K4 on {1,2,3,4} (every edge closes 2 triangles) + triangle
    // {4,5,6} (support 1 each) + pendant edge (6,7) (support 0)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("src", "dst")
    val out = GraphAlgs.ktrussPeel(edges, k = 4)
    assert(out.converged)
    assert(out.r1Count == 6) // round 1 already drops triangle + pendant
    val kept = out.edges.select("src", "dst").as[(Long, Long)].collect().toSet
    out.scope.close()
    assert(kept == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("ktrussPeel on a hub graph: min-side routing preserves exact supports") {
    // hub 0 adjacent to every vertex of a K4 {1,2,3,4}, 30 extra
    // leaves (support-0 edges, peeled round 1), and a triangle
    // {50,51,52} touching the hub at 50. Exercises every routing
    // case of coLocatedIntersect: hub-as-larger-side (leaf arrays
    // ship), equal-degree ties (within the K4), and the forwarded
    // half (request N(u) back). K5 = hub+K4 survives k=4 with every
    // edge at support 3; everything else is peeled.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val spokes = (1L to 4L).map(v => (0L, v))
    val leaves = (100L to 129L).map(l => (0L, l))
    val tri = Seq((0L, 50L), (50L, 51L), (50L, 52L), (51L, 52L))
    val edges = (k4 ++ spokes ++ leaves ++ tri).toDF("src", "dst")
    val out = GraphAlgs.ktrussPeel(edges, k = 4)
    assert(out.converged)
    val kept = out.edges.select("src", "dst", "support")
      .as[(Long, Long, Int)].collect().toSet
    out.scope.close()
    val k5 = (k4 ++ spokes).map { case (u, v) => (u, v, 3) }.toSet
    assert(kept == k5, s"expected the K5 at support 3, got $kept")
  }

  test("ktrussPeel cascades: shared-edge triangles unravel to empty") {
    // two triangles sharing edge (2,3): (2,3) survives round 1 at
    // support 2, then loses both wing vertices and is peeled — the
    // fixpoint must cascade past the first round's survivors
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val out = GraphAlgs.ktrussPeel(edges, k = 4)
    assert(out.converged)
    assert(out.r1Count == 1)
    assert(out.edges.count() == 0)
    out.scope.close()
  }

  // ---- two-phase connected components ------------------------------

  test("two-phase CC labels a path, a separate triangle, and respects minima") {
    // path 1-2-3-4-5 (component 1) + triangle 10-11-12 (component 10)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("src", "dst")
    val cc = GraphAlgs.connectedComponentsTwoPhase(edges)
    assert(cc.converged)
    val out = cc.labels.as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("two-phase CC handles a hub larger than all its neighbors") {
    // star rooted at the LARGEST id — the case that requires
    // small-star's self-attachment edge
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst")
    val cc = GraphAlgs.connectedComponentsTwoPhase(edges)
    assert(cc.converged)
    val out = cc.labels.as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L))
  }

  test("two-phase CC non-converged release frees every cached surface") {
    // exhaust the round budget on a long path (needs ~log n rounds),
    // then assert closing the scope drops the labels AND the per-round RDD
    // from the block manager — the non-converged path the query
    // wrapper takes before throwing must not leak (ADVICE round 7)
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cc = GraphAlgs.connectedComponentsTwoPhase(edges, maxRounds = 1)
    assert(!cc.converged)
    cc.scope.close()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("two-phase CC matches GraphX CC on a random-ish graph") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 60).map { _ =>
      val a = rnd.nextInt(30).toLong; val b = rnd.nextInt(30).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
    val two = GraphAlgs.connectedComponentsTwoPhase(edges)
      .labels.as[(Long, Long)].collect().toMap
    val gx = GraphAlgs.connectedComponentsDF(graft.graph.EdgeOps.toGraph(edges))
      .as[(Long, Long)].collect().toMap
    assert(two == gx)
  }

  // ---- eigenvector centrality --------------------------------------

  test("eigenCentrality: star center dominates and leaves are symmetric") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val g = graft.graph.EdgeOps.toGraph(edges)
    val scores = GraphAlgs.eigenCentralityDF(g)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) == 1.0) // max-normalized hub
    assert(scores(2L) < 1.0)
    // the 4 leaves are structurally identical
    assert(Set(scores(2L), scores(3L), scores(4L), scores(5L)).size == 1)
  }

  test("eigenCentrality: triangle is uniform at the fixpoint") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val g = graft.graph.EdgeOps.toGraph(edges)
    val scores = GraphAlgs.eigenCentralityDF(g)
      .collect().map(r => r.getDouble(1))
    assert(scores.forall(_ == 1.0)) // regular graph: all max-normalized to 1
  }

  test("ktrussPeel k=3 keeps exactly the triangle edges") {
    // k=3 demands support >= 1: the pendant edge goes, triangles stay
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
      .toDF("src", "dst")
    val out = GraphAlgs.ktrussPeel(edges, k = 3)
    assert(out.converged)
    val kept = out.edges.select("src", "dst").as[(Long, Long)].collect().toSet
    out.scope.close()
    assert(kept == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L)))
  }
}
