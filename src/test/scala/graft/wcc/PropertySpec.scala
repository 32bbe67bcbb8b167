package graft.wcc

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants from FIXTURES.md §4, on scalacheck-
 * generated random small graphs (fixed seeds for reproducibility)
 * checked against brute-force recomputation. */
class PropertySpec extends SparkSpec {
  import GraphFixtures._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def forAll[T](g: Gen[T], n: Int = 8)(check: T => Unit): Unit =
    samples(g, n).foreach(check)

  private val edgeGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(4, 16)
    m <- Gen.choose(n, 3 * n)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(1L, n.toLong)
      b <- Gen.choose(1L, n.toLong)
    } yield (a, b))
  } yield edges.filter(e => e._1 != e._2)

  test("triangle stats match brute force on random graphs") {
    forAll(edgeGen) { edges =>
      if (edges.nonEmpty) {
        val got = TriangleStats.run(graphOf(spark, edges)).fullStats.collect().toMap
        val want = bruteTriangles(edges)
        assert(got === want)
      }
    }
  }

  test("cc is in [0,1] and zero when vt < 2") {
    forAll(Gen.zip(Gen.choose(0, 100), Gen.choose(0, 30)), 30) { case (t, vt) =>
      val maxT = vt.toLong * (vt - 1) / 2
      val tt = if (vt < 2) t else math.min(t, maxT).toInt
      val cc = VertexData(1, tt, vt, 1).cc
      if (vt < 2) assert(cc === 0.0)
      else assert(cc >= 0.0 && cc <= 1.0 + 1e-12)
    }
  }

  test("community stats: sizes sum to |V|, edge counts match brute force") {
    forAll(edgeGen) { edges =>
      if (edges.nonEmpty) {
        val g = graphOf(spark, edges)
          .mapVertices((id, _) => VertexData(id, 0, 0, id % 3))
        val stats = CommunityOps.computeCommunityStats(g)
        val und = edges.map(e => if (e._1 < e._2) e else e.swap).distinct
        val verts = und.flatMap(e => Seq(e._1, e._2)).distinct
        assert(stats.values.map(_.r).sum === verts.size)
        // brute-force INT/EXT
        val intBrute = und.count(e => e._1 % 3 == e._2 % 3)
        assert(stats.values.map(_.a).sum === intBrute.toDouble)
        val extPerC = und.filter(e => e._1 % 3 != e._2 % 3)
          .flatMap(e => Seq(e._1 % 3, e._2 % 3))
          .groupBy(identity).map { case (c, xs) => (c, xs.size) }
        stats.foreach { case (c, cd) =>
          assert(cd.b === extPerC.getOrElse(c, 0), s"b mismatch for $c")
        }
      }
    }
  }

  test("fused NbrSurface equals the Map-based degrees + same-community arrays") {
    forAll(edgeGen) { edges =>
      if (edges.nonEmpty) {
        // random-ish partition: cId = vId % 3 (exercises multi- and
        // single-community neighborhoods)
        val g = graphOf(spark, edges)
          .mapVertices((id, _) => VertexData(id, 1, 2, id % 3))
        val surf = CommunityOps.nbrSurfaces(g).collect().toMap
        val deg = CommunityOps.vertexCommunityDegrees(g).collect().toMap
        assert(surf.keySet === deg.keySet)
        surf.foreach { case (vid, s) =>
          val asMap = s.cIds.zip(s.counts).toMap
          assert(asMap === deg(vid), s"community degrees diverge at $vid")
          assert(s.cIds.toSeq === s.cIds.sorted.toSeq)
          assert(s.sameNbrs.toSeq === s.sameNbrs.sorted.toSeq)
        }
        // same-community neighbor sets against brute force
        val und = edges.filter(e => e._1 != e._2)
          .map(e => if (e._1 < e._2) e else e.swap).distinct
        val cid = und.flatMap(e => Seq(e._1, e._2)).distinct
          .map(v => (v, v % 3)).toMap
        und.foreach { case (a, b) =>
          if (cid(a) == cid(b)) {
            assert(surf(a).sameNbrs.contains(b) && surf(b).sameNbrs.contains(a))
          }
        }
        // derived stats identical to the two-scan formulation
        val s1 = CommunityOps.statsFromSurfaces(g, CommunityOps.nbrSurfaces(g))
        val s3 = CommunityOps.computeCommunityStats(g)
        assert(s1 === s3)
        // WCC evaluation: per-vertex terms identical, scalar equal up
        // to float summation order
        val w1 = CommunityOps.computeGlobalWccFromSurfaces(
          g, CommunityOps.nbrSurfaces(g), s1, g.numVertices)
        val w2 = CommunityOps.computeGlobalWCC(g, s3, g.numVertices)
        assert(math.abs(w1 - w2) < 1e-12, s"wcc $w1 vs $w2")
        // the refinement loop's CONCURRENT evaluation (stats collect
        // and triangle-exchange scaffold as overlapping jobs) equals
        // the sequential composition: stats integer-exact, the WCC
        // scalar up to float summation order
        val surf3 = CommunityOps.nbrSurfaces(g); surf3.cache()
        val (cs, w3) = CommunityOps.evalSurfacesConcurrent(g, surf3, g.numVertices)
        surf3.unpersist(blocking = false)
        assert(cs === s1)
        assert(math.abs(w3 - w1) < 1e-12, s"wcc $w3 vs $w1")
      }
    }
  }

  test("stats fold: wide (>64-part reduceByKey) form equals the narrow aggregate form") {
    // statsFromTriples picks its shape by partition count (narrow
    // single-stage aggregate at bench widths, map-side-combined
    // reduceByKey at cluster widths). Every other suite runs at <= 64
    // partitions, so without this pin the 100 TB form could drift
    // unexercised. Integer sums are order-free — the forms must be
    // exactly equal.
    forAll(edgeGen, 4) { edges =>
      if (edges.nonEmpty) {
        val canon = edges.map(e => if (e._1 < e._2) e else e.swap).distinct
        val sc = spark.sparkContext
        def gAt(parts: Int) = {
          val g0 = org.apache.spark.graphx.Graph.fromEdges(
            sc.parallelize(canon.map(e =>
              org.apache.spark.graphx.Edge(e._1, e._2, 1)), parts), 0)
          g0.mapVertices((id, _) => VertexData(id, 0, 2, id % 3))
        }
        val narrow = gAt(4)
        val wide = gAt(80)
        assert(wide.vertices.getNumPartitions > 64,
          "premise: the wide graph must cross the 64-partition strategy split")
        val sN = CommunityOps.statsFromSurfaces(narrow, CommunityOps.nbrSurfaces(narrow))
        val sW = CommunityOps.statsFromSurfaces(wide, CommunityOps.nbrSurfaces(wide))
        assert(sN === sW)
      }
    }
  }

  test("DWCC output covers every vertex exactly once with a valid community") {
    forAll(edgeGen, 4) { edges =>
      if (edges.nonEmpty) {
        val g = graphOf(spark, edges)
        val out = DistributedWCC.run(g)
        val verts = out.graph.vertices.collect()
        assert(verts.length === g.numVertices)
        val ids = verts.map(_._1).toSet
        assert(verts.forall { case (_, vd) => ids.contains(vd.cId) })
        // deterministic: same input -> same partition
        val again = DistributedWCC.run(g).graph.vertices.collect()
        assert(verts.sortBy(_._1).map(_._2.cId).toSeq ===
          again.sortBy(_._1).map(_._2.cId).toSeq)
      }
    }
  }
}
