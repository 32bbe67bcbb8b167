package graft.wcc

import graft.SparkSpec
import graft.graph.{EdgeOps, Fixpoint}

class InitialPartitionSpec extends SparkSpec {
  import GraphFixtures._

  test("triangle: all vertices join the highest-id center (tie on cc, vt)") {
    val g = graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val res = TriangleStats.run(g)
    val init = InitialPartition.run(res.pruned)
    val parts = init.vertices.collect().map { case (id, vd) => (id, vd.cId) }.toMap
    // all cc=1.0, vt=2 -> order decided by vId -> center is 3
    assert(parts === Map(1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("a duplicated (parallel) edge does not perturb the partition") {
    // Parallel edges are outside the canonical-edge contract, but a
    // duplicated adjacency slot must not change a seeding decision: the
    // adoption takes the best center among the higher-ranked slots and
    // a vertex re-decides when any of them flipped, both of which a
    // twin slot leaves unchanged. Pin: a hand-built graph carrying a
    // parallel edge yields the same labels as its clean twin.
    // the duplicate must bypass TriangleStats (it would perturb the
    // (t, vt) inputs too) — feed InitialPartition.run directly with
    // identical vertex attributes and only the edge list differing
    import org.apache.spark.graphx.{Edge, Graph}
    val attrs = Seq(
      (1L, VertexData(1L, 1, 2, 1L)), (2L, VertexData(2L, 1, 2, 2L)),
      (3L, VertexData(3L, 2, 4, 3L)), (4L, VertexData(4L, 1, 2, 4L)),
      (5L, VertexData(5L, 1, 2, 5L)))
    val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
    def labelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val g = Graph(
        spark.sparkContext.parallelize(attrs),
        spark.sparkContext.parallelize(edges.map(e => Edge(e._1, e._2, 1))))
      InitialPartition.run(g)
        .vertices.collect().map { case (id, vd) => (id, vd.cId) }.toMap
    }
    assert(labelsOf(clean :+ ((2L, 3L))) === labelsOf(clean))
  }

  test("two disjoint triangles partition independently") {
    val g = graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L)))
    val init = InitialPartition.run(TriangleStats.run(g).pruned)
    val parts = init.vertices.collect().map { case (id, vd) => (id, vd.cId) }.toMap
    assert(parts === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 6L, 5L -> 6L, 6L -> 6L))
  }

  test("two triangles sharing vertex 3: single chain to one center") {
    // vertices 1,2,4,5 have t=1,vt=2,cc=1; vertex 3 has t=2,vt=4,cc=1/3
    val g = graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)))
    val init = InitialPartition.run(TriangleStats.run(g).pruned)
    val parts = init.vertices.collect().map { case (id, vd) => (id, vd.cId) }.toMap
    // highest order: vertex 5 (cc=1,vt=2,vId=5); its neighbors 3,4 adopt it;
    // 1,2 see centers {2,1,5?}: 1-2 neighbors are {2,3}/{1,3}; 3 is not a
    // center after adopting 5, so 1 and 2 settle on max(1,2)=2.
    assert(parts(5L) === 5L)
    assert(parts(4L) === 5L)
    assert(parts(3L) === 5L)
    assert(parts(1L) === 2L)
    assert(parts(2L) === 2L)
  }

  /** The seeding as the refinement's seed generation at 1, 4 and 80
   * block partitions (all-local, mixed, nearly all-ghost): the labels
   * must not depend on the layout, and the handed-over state must be
   * exact — stats equal to the GraphX reference plan over the relabeled
   * graph, every ghost label equal to its owner's label. */
  private def layoutIndependent(edges: Seq[(Long, Long)]): Unit = {
    val pruned = TriangleStats.run(graphOf(spark, edges)).pruned
    val viaRun = InitialPartition.run(pruned).vertices
      .map { case (id, vd) => (id, vd.cId) }.collect().toMap
    Seq(1, 4, 80).foreach { parts =>
      Fixpoint.using { scope =>
        val part = new org.apache.spark.HashPartitioner(parts)
        val s = InitialPartition.refineSeed(pruned.vertices,
          RefineState.pairSlots(RefineState.pairsOf(pruned.edges), part), part, 50, scope)
        val labels = s.labels.collect().toMap
        assert(labels === viaRun, s"labels differ at $parts partitions")
        val relabeled = RefineState.toGraph(pruned, s.labels, scope)
        assert(s.stats === CommunityOps.computeCommunityStats(relabeled),
          s"stats differ at $parts partitions")
        s.blocks.collect().foreach { case (_, b) =>
          b.adj.ghosts.indices.foreach { g =>
            assert(b.ghostLabel(g) === labels(b.adj.ghosts(g)),
              s"ghost ${b.adj.ghosts(g)} at $parts partitions")
          }
        }
      }
    }
  }

  test(s"seeded labels are layout-independent and the handed-over state exact (${ParityGraph.Name})") {
    layoutIndependent(ParityGraph.edges())
  }

  test("seeded labels are layout-independent and the handed-over state exact (hub path)") {
    layoutIndependent(hubPath)
  }

  test("deterministic across runs") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (5L, 6L), (6L, 7L), (5L, 7L), (2L, 6L))
    val p1 = InitialPartition.run(TriangleStats.run(graphOf(spark, edges)).pruned)
      .vertices.collect().sortBy(_._1).map(_._2.cId).toSeq
    val p2 = InitialPartition.run(TriangleStats.run(graphOf(spark, edges)).pruned)
      .vertices.collect().sortBy(_._1).map(_._2.cId).toSeq
    assert(p1 === p2)
  }
}

class DistributedWCCSpec extends SparkSpec {
  import GraphFixtures._

  test("triangle plus pendant: pendant grafted back as singleton") {
    val out = DistributedWCC.run(graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))))
    val parts = out.graph.vertices.collect().map { case (id, vd) => (id, vd.cId) }.toMap
    assert(parts(4L) === 4L) // pruned -> singleton
    assert(parts(1L) === parts(2L) && parts(2L) === parts(3L))
  }

  test("refinement thrown-through failure releases cand/bestSurf (ADVICE r16)") {
    // inject a failure at the top of generation 1 and assert the
    // loop's catch drops every live vertex-block generation (the best
    // partition here IS the caller's init graph, which the catch must
    // NOT release)
    val g = graphOf(spark,
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)))
    val res = TriangleStats.run(g)
    val init = InitialPartition.run(res.pruned)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Failpoint.arm("at iter 1") {
      val e = intercept[RuntimeException] {
        DistributedWCC.refinePartition(init, g.numVertices, 5)
      }
      assert(e.getMessage.contains("injected test failure"))
    }
    val leaked = spark.sparkContext.getPersistentRDDs.view
      .filterKeys(!before.contains(_)).toMap
    assert(leaked.isEmpty, "leaked persisted RDDs: " +
      leaked.map { case (id, r) => s"$id=$r" }.mkString("; "))
    // seam off: the same inputs refine clean
    val (best, _, wcc, _) = DistributedWCC.refinePartition(init, g.numVertices, 5)
    assert(wcc > 0.0)
    assert(best.vertices.count() > 0L)
    if (best ne init) {
      best.unpersistVertices(blocking = false)
      best.edges.unpersist(blocking = false)
    }
  }

  test("seed-evaluation failure sweeps the seed surface (review r17)") {
    // iteration-0 seam: the seed state is built inside the loop's
    // scope and must be released when it fails right after
    val g = graphOf(spark,
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)))
    val res = TriangleStats.run(g)
    val init = InitialPartition.run(res.pruned)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Failpoint.arm("after seed evaluation") {
      val e = intercept[RuntimeException] {
        DistributedWCC.refinePartition(init, g.numVertices, 5)
      }
      assert(e.getMessage.contains("seed evaluation"))
    }
    val leaked = spark.sparkContext.getPersistentRDDs.view
      .filterKeys(!before.contains(_)).toMap
    assert(leaked.isEmpty, "leaked persisted RDDs: " +
      leaked.map { case (id, r) => s"$id=$r" }.mkString("; "))
  }

  test("hub-path refinement thrown-through failure releases every cached surface (review r17)") {
    // a 10,500-degree hub: the refinement runs with a hub-sized block
    // row and same-community arrays; a failure at generation 1 must
    // release the seed state and the current generation
    val n = 10500L
    val hubEdges = (1L to n).map(i => (0L, i)) ++
      (1L until n).map(i => (i, i + 1))
    val g = graphOf(spark, hubEdges)
    val res = TriangleStats.run(g)
    val init = InitialPartition.run(res.pruned)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Failpoint.arm("at iter 1") {
      val e = intercept[RuntimeException] {
        DistributedWCC.refinePartition(init, g.numVertices, 5)
      }
      assert(e.getMessage.contains("injected test failure at iter 1"))
    }
    val leaked = spark.sparkContext.getPersistentRDDs.view
      .filterKeys(!before.contains(_)).toMap
    assert(leaked.isEmpty, "leaked persisted RDDs: " +
      leaked.map { case (id, r) => s"$id=$r" }.mkString("; "))
  }

  test(s"refinement is bit-reproducible on ${ParityGraph.Name}: labels, bestWcc and globalCC") {
    // the per-generation WCC and globalCC are folded in a fixed order
    // (partition-order WCC_V sums, blocked ascending-id cc fold), never
    // in task-completion order, so two runs agree to the bit
    val g = EdgeOps.toGraph(EdgeOps.canonicalize(ParityGraph.load(spark)))
    val init = InitialPartition.run(TriangleStats.run(g).pruned)
    def once() = {
      val (best, _, wcc, cc) = DistributedWCC.refinePartition(init, g.numVertices, 5)
      val labels = best.vertices.map { case (id, vd) => (id, vd.cId) }
        .collect().sortBy(_._1).toSeq
      if (best ne init) {
        best.unpersistVertices(blocking = false)
        best.edges.unpersist(blocking = false)
      }
      (labels, java.lang.Double.doubleToLongBits(wcc),
        java.lang.Double.doubleToLongBits(cc))
    }
    val (l1, w1, c1) = once()
    val (l2, w2, c2) = once()
    assert(l1 === l2)
    assert(w1 === w2, "bestWcc differs between runs")
    assert(c1 === c2, "globalCC differs between runs")
  }

  test("invariants on the reference fixture graph (email-Eu-core)") {
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    val g = EdgeOps.toGraph(EdgeOps.canonicalize(raw))
    // 986 = vertices with >=1 non-loop edge (19 ids appear only in
    // self-loops, which the loader drops like the reference does)
    assert(g.numVertices === 986L)
    assert(g.numEdges === 16064L) // undirected unique non-loop edges

    val out = DistributedWCC.run(g)
    // external golden: SNAP publishes 105,461 triangles for
    // email-Eu-core; per-vertex t sums to 3x that
    assert(out.triangleStats.map(_._2._1.toLong).sum() === 3L * 105461)
    val verts = out.graph.vertices.collect()
    // every input vertex present exactly once with a valid community
    assert(verts.length === 986)
    val ids = verts.map(_._1).toSet
    assert(verts.forall { case (_, vd) => ids.contains(vd.cId) })
    // community sizes over the FINAL grafted graph sum to |V|
    val sizes = verts.groupBy(_._2.cId).map(_._2.length)
    assert(sizes.sum === 986)
    // stats invariants on the refined (pruned) partition
    out.communityStats.foreach { case (_, cd) =>
      assert(cd.r >= 1); assert(cd.a >= 0); assert(cd.b >= 0)
    }
    assert(out.bestWcc > 0.0)
    assert(out.globalCC > 0.0 && out.globalCC <= 1.0)
    // cc in [0,1] for all vertices
    out.triangleStats.collect().foreach { case (_, (t, vt)) =>
      val cc = if (vt < 2) 0.0 else 2.0 * t / (vt.toLong * (vt - 1))
      assert(cc >= 0.0 && cc <= 1.0 + 1e-12)
    }
  }
}
