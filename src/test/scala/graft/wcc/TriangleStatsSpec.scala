package graft.wcc

import graft.SparkSpec
import org.apache.spark.graphx.{Edge, Graph}

object GraphFixtures {
  /** Build a canonical GraphX graph from undirected edge pairs. */
  def graphOf(spark: org.apache.spark.sql.SparkSession, edges: Seq[(Long, Long)]): Graph[Int, Int] =
    graphOf(spark, edges, spark.sparkContext.defaultParallelism)

  /** ... with `parts` edge and vertex partitions */
  def graphOf(spark: org.apache.spark.sql.SparkSession, edges: Seq[(Long, Long)],
      parts: Int): Graph[Int, Int] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct
    Graph.fromEdges(
      spark.sparkContext.parallelize(canon.map(e => Edge(e._1, e._2, 1)), parts), 0)
  }

  /** A hub of degree 10,500 (vertex 0, adjacent to 1..10500) plus the
   * path 1-2-...-10500: every path edge closes a triangle through the
   * hub, and every intersection at a hub edge is skewed. */
  val hubPath: Seq[(Long, Long)] =
    (1L to 10500L).map(i => (0L, i)) ++ (1L until 10500L).map(i => (i, i + 1))

  /** undirected adjacency sets, self-loops dropped */
  private def adjSets(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    edges.filter(e => e._1 != e._2).flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).map { case (v, es) => (v, es.map(_._2).toSet) }

  /** |a ∩ b|, scanning the smaller set (a 10^5-leaf hub stays cheap) */
  private def common(a: Set[Long], b: Set[Long]): Int =
    if (a.size <= b.size) a.count(b) else b.count(a)

  /** Brute-force per-vertex triangle stats: (t, vt). */
  def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, (Int, Int)] = {
    val adj = adjSets(edges)
    adj.map { case (v, ns) =>
      val sup = ns.toSeq.map(u => common(adj(u), ns))
      (v, (sup.sum / 2, sup.count(_ > 0)))
    }
  }

  /** Brute-force support (common-neighbor count) of every edge, keyed
   * by canonical (min, max) ids. */
  def bruteSupports(edges: Seq[(Long, Long)]): Map[(Long, Long), Int] = {
    val adj = adjSets(edges)
    adj.toSeq.flatMap { case (v, ns) =>
      ns.toSeq.filter(_ > v).map(u => ((v, u), common(adj(v), adj(u))))
    }.toMap
  }

  /** A star: hub 0 with 10^5 leaves, plus the leaf edges 1-2 and 2-3
   * closing the triangles {0,1,2} and {0,2,3}. */
  val star: Seq[(Long, Long)] =
    (1 to 100000).map(i => (0L, i.toLong)) ++ Seq((1L, 2L), (2L, 3L))
}

class TriangleStatsSpec extends SparkSpec {

  test("10^5-degree hub: oriented exchange stays output-bound (no O(deg^2) blowup)") {
    // star hub 0 -- {1..100000} plus two leaf edges closing triangles
    // {0,1,2} and {0,2,3}. Shipping the hub's 100k-entry array over
    // each of its 100k edges, or merge-scanning it once per edge, would
    // cost 10^10 steps — infeasible; the support kernel ships it at
    // most once per partition and gallops each hub edge's intersection
    // in O(log) steps, so the whole job is seconds. Exact counts hold.
    val g = GraphFixtures.graphOf(spark, GraphFixtures.star)
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

  /** (fullStats, pruned vertex data, pruned edge supports) of `g` */
  private def surfaces(g: Graph[Int, Int]) = {
    val res = TriangleStats.run(g)
    (res.fullStats.collect().toMap, res.pruned.vertices.collect().toMap,
      res.pruned.edges.collect().map(e => ((e.srcId, e.dstId), e.attr)).toMap)
  }

  for ((name, edges) <- Seq(ParityGraph.Name -> (() => ParityGraph.edges()),
      "hubPath" -> (() => hubPath), "10^5-leaf star" -> (() => star)))
    test(s"support kernel on $name equals brute force at 1, 4 and 80 partitions") {
      val es = edges()
      val stats = bruteTriangles(es)
      val support = bruteSupports(es)
      val want = (stats,
        stats.collect { case (v, (t, vt)) if t > 0 => (v, VertexData(v, t, vt, v)) },
        support.filter(_._2 > 0))
      Seq(1, 4, 80).foreach { p =>
        val got = surfaces(graphOf(spark, es, p))
        assert(got._1 === want._1, s"fullStats at $p partitions")
        assert(got._2 === want._2, s"pruned vertices at $p partitions")
        assert(got._3 === want._3, s"pruned edge supports at $p partitions")
      }
    }

  test("the pruned graph keeps the input's vertex partitioner") {
    Seq(1, 4, 7).foreach { p =>
      val g = graphOf(spark, ParityGraph.edges(), p)
      val res = TriangleStats.run(g)
      assert(g.vertices.partitioner.isDefined)
      assert(res.pruned.vertices.partitioner === g.vertices.partitioner)
      assert(res.fullStats.partitioner === g.vertices.partitioner)
    }
  }

  test("edgeSupport's positive keys are the brute-force triangle edges") {
    Seq(ParityGraph.edges(), hubPath, star).foreach { es =>
      val g = graphOf(spark, es)
      val got = TriangleStats.edgeSupport(g.vertices, RefineState.pairsOf(g.edges))
        .filter(_._2 > 0).map(_._1).collect()
      assert(got.length === got.distinct.length, "a key appears twice")
      assert(got.toSet === bruteSupports(es).filter(_._2 > 0).keySet)
    }
  }

  test("sortedIntersectCount") {
    assert(graft.graph.SortedIntersect.count(Array(1L, 3L, 5L), Array(2L, 3L, 5L, 7L)) === 2)
    assert(graft.graph.SortedIntersect.count(Array.empty[Long], Array(1L)) === 0)
  }
}
