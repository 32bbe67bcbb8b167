package graft.wcc

import graft.SparkSpec
import org.apache.spark.graphx.{Edge, Graph}

object GraphFixtures {
  /** Build a canonical GraphX graph from undirected edge pairs. */
  def graphOf(spark: org.apache.spark.sql.SparkSession, edges: Seq[(Long, Long)]): Graph[Int, Int] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct
    Graph.fromEdges(
      spark.sparkContext.parallelize(canon.map(e => Edge(e._1, e._2, 1))), 0)
  }

  /** A hub above [[TriangleStats.HubDegreeThreshold]] (vertex 0,
   * adjacent to 1..10500) plus the path 1-2-...-10500: every path
   * edge closes a triangle through the hub. */
  val hubPath: Seq[(Long, Long)] =
    (1L to 10500L).map(i => (0L, i)) ++ (1L until 10500L).map(i => (i, i + 1))

  /** Brute-force per-vertex triangle stats: (t, vt). */
  def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, (Int, Int)] = {
    val und = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = und.groupBy(_._1).map { case (v, es) => (v, es.map(_._2).toSet) }
    adj.map { case (v, ns) =>
      val triNbors = ns.filter(u => (adj(u) & ns).nonEmpty)
      val t = ns.toSeq.map(u => (adj(u) & ns).size).sum / 2
      (v, (t, triNbors.size))
    }
  }
}

class TriangleStatsSpec extends SparkSpec {

  test("10^5-degree hub: oriented exchange stays output-bound (no O(deg^2) blowup)") {
    // star hub 0 -- {1..100000} plus two leaf edges closing triangles
    // {0,1,2} and {0,2,3}. The pre-orientation exchange would ship the
    // hub's 100k-entry array over each of its 100k edges (10^10 ids —
    // infeasible); the oriented exchange ships the hub a few ids total,
    // so the whole job is seconds. Exact counts still hold.
    val star = (1 to 100000).map(i => (0L, i.toLong))
    val g = GraphFixtures.graphOf(spark, star ++ Seq((1L, 2L), (2L, 3L)))
    val res = TriangleStats.run(g)
    val stats = res.fullStats.filter(_._2._1 > 0).collect().toMap
    assert(stats(0L) === ((2, 3))) // t=2 triangles, vt=3 triangle edges
    assert(stats(1L) === ((1, 2)))
    assert(stats(2L) === ((2, 3)))
    assert(stats(3L) === ((1, 2)))
    assert(res.pruned.numVertices === 4L)
    assert(res.pruned.numEdges === 5L)
  }
  import GraphFixtures._

  def check(edges: Seq[(Long, Long)]): Unit = {
    val g = graphOf(spark, edges)
    val res = TriangleStats.run(g)
    val got = res.fullStats.collect().toMap
    val want = bruteTriangles(edges)
    assert(got === want)
    // pruned graph: every vertex t>0, every edge closes a triangle
    val prunedV = res.pruned.vertices.collect()
    assert(prunedV.forall(_._2.t > 0))
    // vt equals degree in the pruned graph
    val prunedDeg = res.pruned.degrees.collect().toMap
    prunedV.foreach { case (id, vd) =>
      assert(vd.vt === prunedDeg.getOrElse(id, 0), s"vt mismatch at $id")
    }
  }

  test("single triangle") { check(Seq((1L, 2L), (2L, 3L), (1L, 3L))) }

  test("triangle plus pendant vertex") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    check(edges)
    val g = graphOf(spark, edges)
    val res = TriangleStats.run(g)
    // pendant vertex 4 pruned away
    assert(res.pruned.vertices.collect().map(_._1).toSet === Set(1L, 2L, 3L))
    assert(res.fullStats.collect().toMap.apply(4L) === ((0, 0)))
  }

  test("two triangles sharing a vertex") {
    check(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)))
  }

  test("4-clique: t=3, vt=3, cc=1 for all") {
    val edges = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    check(edges)
    val g = graphOf(spark, edges)
    val res = TriangleStats.run(g)
    res.pruned.vertices.collect().foreach { case (_, vd) =>
      assert(vd.t === 3); assert(vd.vt === 3); assert(vd.cc === 1.0)
    }
  }

  test("two disjoint triangles bridged by a non-triangle edge") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    check(edges)
    val g = graphOf(spark, edges)
    val res = TriangleStats.run(g)
    // bridge 3-4 closes no triangle: removed by the edge predicate
    assert(res.pruned.edges.collect().forall(e =>
      !(e.srcId == 3L && e.dstId == 4L) && !(e.srcId == 4L && e.dstId == 3L)))
    // but both endpoints survive (t>0)
    assert(res.pruned.vertices.collect().map(_._1).toSet === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("sortedIntersectCount") {
    assert(graft.graph.SortedIntersect.count(Array(1L, 3L, 5L), Array(2L, 3L, 5L, 7L)) === 2)
    assert(graft.graph.SortedIntersect.count(Array.empty[Long], Array(1L)) === 0)
  }

  private def restrictedParity(canon: org.apache.spark.sql.DataFrame): Unit = {
    import graft.graph.EdgeOps
    import org.apache.spark.sql.functions.{col, greatest, max}
    val maxVertex = canon.agg(max(greatest(col("src"), col("dst"))))
      .head().getLong(0)
    val split = math.floor(maxVertex * 0.8) // the IDWCC harness split
    val adj = graft.graph.GraphAlgs.weightedAdjacency(EdgeOps.symmetrize(canon))

    val derived = TriangleStats.restrictedResult(adj, canon, split)

    val bulkEdges = canon.where(col("src") < split && col("dst") < split)
      .select(col("src").cast("long"), col("dst").cast("long")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val direct = TriangleStats.run(Graph.fromEdges(bulkEdges, 0))

    // identical (t, vt) for the identical vertex universe
    val dStats = derived.fullStats.collect().toMap
    val sStats = direct.fullStats.collect().toMap
    assert(dStats === sStats)
    // identical pruned core: vertex data and support-weighted edges
    val dV = derived.pruned.vertices.collect().toMap
    val sV = direct.pruned.vertices.collect().toMap
    assert(dV === sV)
    val dE = derived.pruned.edges.collect()
      .map(e => ((math.min(e.srcId, e.dstId), math.max(e.srcId, e.dstId)), e.attr)).toMap
    val sE = direct.pruned.edges.collect()
      .map(e => ((math.min(e.srcId, e.dstId), math.max(e.srcId, e.dstId)), e.attr)).toMap
    assert(dE === sE)
  }

  test("restrictedResult equals run() on the restricted email-Eu-core graph") {
    import graft.graph.EdgeOps
    val canon = EdgeOps.canonicalize(
      EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv"))
    restrictedParity(canon)
  }

  test(s"restrictedResult equals run() on the restricted ${ParityGraph.Name} graph") {
    import graft.graph.EdgeOps
    restrictedParity(EdgeOps.canonicalize(ParityGraph.load(spark)))
  }
}
