package graft.queries

import graft.SparkSpec

/** The distributed Borůvka MSF must equal a sequential Kruskal
 * under the same strict (len, u, v) edge order — identical edge
 * set (the MSF is unique with distinct composite weights),
 * identical component labels, and bit-identical on a re-run — on
 * the real sf0.001 backbone plus adversarial synthetic graphs
 * (chains that force deep pointer-jumping, multi-component
 * forests). */
class MsfSpec extends SparkSpec {

  import spark.implicits._

  private def kruskal(edges: Seq[(Long, Long, Long)])
      : (Set[(Long, Long, Long)], Map[Long, Long]) = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val chosen = scala.collection.mutable.Set[(Long, Long, Long)]()
    edges.sortBy { case (u, v, l) => (l, u, v) }.foreach { case (u, v, l) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { parent(ru) = rv; chosen += ((u, v, l)) }
    }
    val verts = edges.flatMap { case (u, v, _) => Seq(u, v) }.distinct
    val roots = verts.map(v => (v, find(v)))
    val minOfRoot = roots.groupBy(_._2).map { case (r, vs) => (r, vs.map(_._1).min) }
    (chosen.toSet, roots.map { case (v, r) => (v, minOfRoot(r)) }.toMap)
  }

  private def check(edges: Seq[(Long, Long, Long)]): Unit = {
    val rdd = spark.sparkContext.parallelize(edges, 4)
    val (msfE, labels, scope) = graft.graph.GraphAlgs.boruvkaMsfRDD(rdd)
    val gotEdges = msfE.collect().toSet
    val gotLabels = labels.collect().toMap
    scope.close()
    val (wantEdges, wantLabels) = kruskal(edges)
    assert(gotEdges === wantEdges)
    assert(gotLabels === wantLabels)
  }

  test("Borůvka MSF equals sequential Kruskal on the sf0.001 backbone") {
    val edges = GraphQueries.msfInputEdges(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect().toSeq
    check(edges)
    // and the distributed run is reproducible bit-for-bit
    val rdd = spark.sparkContext.parallelize(edges, 8)
    val (a, la, scopeA) = graft.graph.GraphAlgs.boruvkaMsfRDD(rdd)
    val (b, lb, scopeB) = graft.graph.GraphAlgs.boruvkaMsfRDD(rdd)
    assert(a.collect().sorted === b.collect().sorted)
    assert(la.collect().sorted === lb.collect().sorted)
    scopeA.close(); scopeB.close()
  }

  test("chain graph forces deep parent chains through the pointer jumping") {
    // weights descending along a path: every round merges at one
    // end, building the longest possible parent chains
    val chain = (0L until 40L).map(i => (i, i + 1, 1000L + (40 - i)))
    check(chain)
  }

  test("multi-component forest with ties broken by (u, v)") {
    val c1 = Seq((0L, 1L, 5L), (1L, 2L, 5L), (0L, 2L, 5L))
    val c2 = Seq((10L, 11L, 3L), (11L, 12L, 3L), (10L, 12L, 7L))
    val c3 = Seq((20L, 21L, 1L))
    check(c1 ++ c2 ++ c3)
  }

  test("seeded random graphs across densities") {
    val rnd = new scala.util.Random(11)
    for ((n, m) <- Seq((20, 40), (50, 120), (80, 150))) {
      val set = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
      while (set.size < m) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a != b) set += ((math.min(a, b), math.max(a, b)))
      }
      val edges = set.toSeq.map { case (u, v) =>
        (u, v, 100L + rnd.nextInt(20).toLong) }
      check(edges)
    }
  }
}
