package graft.wcc

import graft.SparkSpec
import graft.graph.Fixpoint
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
    // the refinement's vertex-block state (which replaced the fused
    // NbrSurface exchange) against the GraphX reference plans
    forAll(edgeGen) { edges =>
      if (edges.nonEmpty) {
        // random-ish partition: cId = vId % 3 (exercises multi- and
        // single-community neighborhoods)
        val g = graphOf(spark, edges)
          .mapVertices((id, _) => VertexData(id, 1, 2, id % 3))
        val n = g.numVertices
        Fixpoint.using { scope =>
          val seed = RefineState.seed(g, countTriangles = true, RefineState.in(scope))
          val blocks = seed.blocks.collect().map(_._2)
          // community degrees from the blocks' neighbor labels
          val deg = CommunityOps.vertexCommunityDegrees(g).collect().toMap
          val fromBlocks = blocks.flatMap { b =>
            (0 until b.adj.n).filter(b.adj.deg(_) > 0).map { i =>
              b.adj.ids(i) -> (b.adj.offs(i) until b.adj.offs(i + 1))
                .groupBy(b.nbrLabel).map { case (c, js) => c -> js.size }
            }
          }.toMap
          assert(fromBlocks === deg)
          // sorted adjacency and same-community arrays against brute force
          val und = edges.filter(e => e._1 != e._2)
            .map(e => if (e._1 < e._2) e else e.swap).distinct
          val adjBrute = und.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
            .map { case (v, es) => v -> es.map(_._2).sorted }
          blocks.foreach { b =>
            (0 until b.adj.n).foreach { i =>
              val v = b.adj.ids(i)
              val nb = b.adj.nbrs.slice(b.adj.offs(i), b.adj.offs(i + 1)).toSeq
              assert(nb === adjBrute.getOrElse(v, Nil), s"adjacency diverges at $v")
              assert(b.sameNbrs(i).toSeq === nb.filter(_ % 3 == v % 3))
            }
          }
          // stats integer-exact, WCC equal up to float summation order
          val cs = CommunityOps.computeCommunityStats(g)
          assert(seed.stats === cs)
          val w = seed.wcc(n)
          val wRef = ReferenceEval.computeGlobalWCC(g, cs, n)
          assert(math.abs(w - wRef) < 1e-12, s"wcc $w vs $wRef")
          // one scored step: it carries the seed's WCC (same fold), and
          // the generation it builds equals the reference plans over its
          // labels
          val next = seed.step(IncrementalWCC.detGlobalCC(g.vertices, n), n,
            score = true, countTriangles = true, RefineState.in(scope))
          assert(next.wccPrev / n === w)
          val moved = RefineState.toGraph(g, next.labels, scope)
          val movedCs = CommunityOps.computeCommunityStats(moved)
          assert(next.stats === movedCs)
          val wNext = next.wcc(n)
          val wNextRef = ReferenceEval.computeGlobalWCC(moved, movedCs, n)
          assert(math.abs(wNext - wNextRef) < 1e-12, s"wcc $wNext vs $wNextRef")
        }
      }
    }
  }

  test("stats fold: wide (>64-part reduceByKey) form equals the narrow aggregate form") {
    // The driver-side stats fold of the vertex-block state replaced
    // both statsFromTriples forms; the width pin stays: the state's
    // stats and its first step's labels must be identical at 4 and
    // at 80 partitions (integer sums are order-free, and the movement
    // is a pure function of the state).
    forAll(edgeGen, 4) { edges =>
      if (edges.nonEmpty) {
        val canon = edges.map(e => if (e._1 < e._2) e else e.swap).distinct
        val sc = spark.sparkContext
        def gAt(parts: Int) = {
          val g0 = org.apache.spark.graphx.Graph.fromEdges(
            sc.parallelize(canon.map(e =>
              org.apache.spark.graphx.Edge(e._1, e._2, 1)), parts), 0)
          g0.mapVertices((id, _) => VertexData(id, 1, 2, id % 3))
        }
        def run(parts: Int) = Fixpoint.using { scope =>
          val g = gAt(parts)
          val seed = RefineState.seed(g, countTriangles = false, RefineState.in(scope))
          val next = seed.step(1.0, g.numVertices, score = false,
            countTriangles = false, RefineState.in(scope))
          (g.vertices.getNumPartitions, seed.stats,
            next.labels.collect().sortBy(_._1).toSeq)
        }
        val (_, sN, lN) = run(4)
        val (wideParts, sW, lW) = run(80)
        assert(wideParts > 64, "premise: the wide graph must have > 64 partitions")
        assert(sN === sW)
        assert(lN === lW)
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
