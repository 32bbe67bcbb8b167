package graft.wcc

import graft.SparkSpec
import graft.graph.{EdgeOps, Fixpoint}
import org.apache.spark.graphx.Edge

class IncrementalWCCSpec extends SparkSpec {
  import GraphFixtures._

  /** The canonical key set of `state`'s resident bulk slots, read
   * through `bulkKeys`, once each key is asserted to sit at exactly its
   * two endpoint partitions under the state's vertex partitioner. */
  private def bulkKeySet(state: IncrementalWCC.State): Set[(Long, Long)] = {
    val part = new org.apache.spark.HashPartitioner(state.graph.vertices.getNumPartitions)
    val slots = state.bulkFlagged.get
    assert(slots.partitioner === Some(part), "the bulk slots are not under the vertex partitioner")
    val keys = state.bulkKeys.get.collect()
    assert(keys.length === keys.distinct.length, "a bulk key is held twice")
    val placed = slots.mapPartitionsWithIndex { (i, it) =>
      it.flatMap { case (q, s) => s.self.indices.map(k => (i, q, s.self(k), s.nbr(k))) }
    }.collect()
    assert(placed.forall(p => p._1 == p._2), "a slot block sits at a partition not its own")
    val expected = keys.flatMap { case (lo, hi) =>
      Seq((part.getPartition(lo), lo, hi), (part.getPartition(hi), hi, lo))
    }
    assert(placed.map(p => (p._1, p._3, p._4)).sorted.toSeq === expected.sorted.toSeq,
      "a bulk key is not held at exactly its two endpoint partitions")
    keys.toSet
  }

  test("merge classifies border vs new and updates triangle deltas") {
    // bulk: triangle {1,2,3}; batch adds triangle {3,4,5} -> 3 is
    // border, 4 and 5 are new
    val bulk = graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val state = IncrementalWCC.prepare(bulk)
    val newEdges = spark.sparkContext.parallelize(Seq(
      Edge(3L, 4L, 1), Edge(4L, 5L, 1), Edge(3L, 5L, 1)))
    Fixpoint.using { scope =>
      val m = IncrementalWCC.merge(state, newEdges, scope)
      assert(m.borderIds.value === Set(3L))
      assert(m.newIds.value === Set(4L, 5L))
      assert(m.vertexCount === 5L)
      val verts = m.vertices.collect().toMap
      // new vertices 4,5: one new triangle each
      assert(verts(4L).t === 1)
      assert(verts(5L).t === 1)
      // border vertex 3: delta-adds the new triangle to its STATE count,
      // which the bulk graft-back ZEROED — 3 is the bulk triangle's
      // center (highest (cc, vt, vId) rank), and the reference's
      // conditional graft (`DistributedWCC.scala:68-77`) resets
      // self-labeled vertices to (t=0, vt=0). So 0 + 1, not 1 + 1.
      assert(verts(3L).t === 1)
      assert(verts(3L).vt === 2)
      // untouched non-center vertices keep their true data (cId = 3)
      assert(verts(1L).t === 1)
      assert(verts(2L).t === 1)
      m.globalCC
    }
  }

  test("run returns previous vertex universe with updated communities") {
    val bulk = graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val state = IncrementalWCC.prepare(bulk)
    val newEdges = spark.sparkContext.parallelize(Seq(
      Edge(3L, 4L, 1), Edge(4L, 5L, 1), Edge(3L, 5L, 1)))
    val out = IncrementalWCC.run(state, newEdges)
    // reference quirk: grafted onto the PREVIOUS graph's vertex set
    assert(out.graph.vertices.collect().map(_._1).toSet === Set(1L, 2L, 3L))
    // reference quirk: returns the stale incoming stats
    assert(out.stats === state.stats)
  }

  test("a hub-heavy batch folds on the delta pass with the from-scratch flags and labels") {
    // star: hub 0 - {1..200}, plus triangle edge (1,2) for nonzero stats
    val bulkEdges = (1L to 200L).map(i => (0L, i)) :+ (1L, 2L)
    val state = IncrementalWCC.prepare(graphOf(spark, bulkEdges))
    // 5 new leaves on the hub, and 2 of them close triangles with it:
    // every batch edge drags in the hub's 205-long merged neighborhood
    val batch = spark.sparkContext.parallelize(
      (201L to 205L).map(i => Edge(0L, i, 1)) ++ Seq(Edge(201L, 202L, 1), Edge(3L, 203L, 1)))
    Fixpoint.using { scope =>
      val m = IncrementalWCC.merge(state, batch, scope)
      val fromScratch = TriangleStats.edgeSupport(m.vertices, m.pairs)
        .filter(_._2 > 0).map(_._1).collect().toSet
      val keys = m.deltaKeys.collect()
      assert(keys.length === keys.distinct.length, "a delta key was emitted twice")
      assert(bulkKeySet(state) ++ keys === fromScratch)
      m.globalCC
    }
    def labels(s: IncrementalWCC.State) =
      s.graph.vertices.map { case (id, vd) => (id, vd.cId) }.collect().sorted.toSeq
    val fast = IncrementalWCC.run(state, batch, releaseInput = false, expectDeltaPath = true)
    val slow = IncrementalWCC.run(state.copy(bulkFlagged = None), batch, releaseInput = false)
    assert(labels(fast) === labels(slow))
    // without the bulk flags the fold cannot take the delta path
    val e = intercept[IllegalArgumentException] {
      IncrementalWCC.run(state.copy(bulkFlagged = None), batch, releaseInput = false,
        expectDeltaPath = true)
    }
    assert(e.getMessage.contains("expectDeltaPath"))
  }

  test("testStream fails LOUDLY on an empty canonical edge set") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      IncrementalWCC.testStream(spark, Seq.empty[(Long, Long)].toDF("src", "dst"))
    }
    assert(e.getMessage.contains("empty canonical edge set"))
  }

  test("post-merge phase failures release every cached surface (ADVICE r16)") {
    // inject a failure after each post-merge phase and assert the
    // catch drops EVERYTHING run() materialized — initial partition,
    // refined graph and graft-back result included, not just the
    // merge's own caches (the leak class ADVICE r16 flagged)
    val bulk = graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val state = IncrementalWCC.prepare(bulk)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (phase <- Seq("initial-partition", "refine", "graft")) {
      Failpoint.arm(s"after $phase") {
        val newEdges = spark.sparkContext.parallelize(Seq(
          Edge(3L, 4L, 1), Edge(4L, 5L, 1), Edge(3L, 5L, 1)))
        val e = intercept[RuntimeException] {
          IncrementalWCC.run(state, newEdges, releaseInput = false)
        }
        assert(e.getMessage.contains(phase))
      }
      val leaked = spark.sparkContext.getPersistentRDDs.view
        .filterKeys(!before.contains(_)).toMap
      assert(leaked.isEmpty,
        s"'$phase' failure leaked persisted RDDs: " +
          leaked.map { case (id, r) => s"$id=$r" }.mkString("; "))
    }
    // seam off: the same state still runs clean end to end
    val out = IncrementalWCC.run(state, spark.sparkContext.parallelize(Seq(
      Edge(3L, 4L, 1), Edge(4L, 5L, 1), Edge(3L, 5L, 1))), releaseInput = false)
    assert(out.graph.vertices.collect().map(_._1).toSet === Set(1L, 2L, 3L))
    out.graph.unpersistVertices(blocking = false)
    out.graph.edges.unpersist(blocking = false)
  }

  private def testStreamSane(canon: org.apache.spark.sql.DataFrame): Unit = {
    val result = IncrementalWCC.testStream(spark, canon, 0.8, 1)
    val rows = result.collect()
    // vertex universe = the bulk graph's vertices (both endpoints
    // below splitVertex), per the reference's graft-back quirk
    assert(rows.length > 0)
    // communities may be centered on merged-graph vertices OUTSIDE the
    // returned bulk universe (reference graft-back quirk) — every cid
    // is some vertex of the full canonical graph
    val allIds = canon.select("src").union(canon.select("dst"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => allIds.contains(r.getLong(1))))
    // deterministic across runs
    val again = IncrementalWCC.testStream(spark, canon, 0.8, 1).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("testStream on email-Eu-core: full driver loop terminates with sane output") {
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    val canon = EdgeOps.canonicalize(raw)
    testStreamSane(canon)
  }

  test(s"testStream on ${ParityGraph.Name}: full driver loop terminates with sane output") {
    testStreamSane(EdgeOps.canonicalize(ParityGraph.load(spark)))
  }

  private def deltaFlagsParity(canon: org.apache.spark.sql.DataFrame): Unit = {
    val maxVertex = canon.selectExpr("max(greatest(src, dst))").head().getLong(0)
    val split = math.floor(maxVertex * 0.8)
    val bulkEdges = canon.where(s"src < $split and dst < $split").rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val batchRdd = canon.where(s"src >= $split or dst >= $split").rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val state = IncrementalWCC.prepareEdges(bulkEdges, bulkEdges.getNumPartitions)
    assert(state.bulkFlagged.isDefined)
    Fixpoint.using { scope =>
      val m = IncrementalWCC.merge(state, batchRdd, scope)
      val fromScratch = TriangleStats.edgeSupport(m.vertices, m.pairs)
        .filter(_._2 > 0).map(_._1).collect().toSet
      val keys = m.deltaKeys.collect()
      assert(keys.length === keys.distinct.length, "a delta key was emitted twice")
      assert(bulkKeySet(state) ++ keys === fromScratch)
      m.globalCC
    }
  }

  test("delta triangle flags equal the from-scratch merged-graph support flags") {
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    val canon = EdgeOps.canonicalize(raw)
    deltaFlagsParity(canon)
  }

  test(s"delta triangle flags equal the from-scratch merged-graph support flags (${ParityGraph.Name})") {
    deltaFlagsParity(EdgeOps.canonicalize(ParityGraph.load(spark)))
  }

  /** `overlapping`: assert as a premise that some delta keys are also
   * bulk flags, so the seeding's keep set holds duplicate pairs and
   * their collapse to one adjacency slot runs */
  private def bulkFlaggedRunParity(canon: org.apache.spark.sql.DataFrame,
      overlapping: Boolean = false): Unit = {
    val maxVertex = canon.selectExpr("max(greatest(src, dst))").head().getLong(0)
    val split = math.floor(maxVertex * 0.8)
    val bulkEdges = canon.where(s"src < $split and dst < $split").rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val batchRdd = canon.where(s"src >= $split or dst >= $split").rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val state = IncrementalWCC.prepareEdges(bulkEdges, bulkEdges.getNumPartitions)
    if (overlapping) Fixpoint.using { scope =>
      val m = IncrementalWCC.merge(state, batchRdd, scope)
      val shared = m.deltaKeys.intersection(state.bulkKeys.get).count()
      m.globalCC
      assert(shared > 0, "premise: the delta keys overlap the bulk flags")
    }
    // the whole 0.8-split stream region as one batch: far from micro,
    // it still folds on the delta pass
    val fast = IncrementalWCC.run(state, batchRdd, releaseInput = false,
      expectDeltaPath = true)
      .graph.vertices.map { case (id, vd) => (id, vd.cId) }.collect().sorted.toSeq
    val slow = IncrementalWCC.run(state.copy(bulkFlagged = None), batchRdd,
      releaseInput = false)
      .graph.vertices.map { case (id, vd) => (id, vd.cId) }.collect().sorted.toSeq
    assert(fast === slow)
  }

  test("run with bulkFlagged emits the same labels as the from-scratch path") {
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    val canon = EdgeOps.canonicalize(raw)
    bulkFlaggedRunParity(canon)
  }

  test(s"run with bulkFlagged emits the same labels as the from-scratch path (${ParityGraph.Name})") {
    bulkFlaggedRunParity(EdgeOps.canonicalize(ParityGraph.load(spark)), overlapping = true)
  }

  private def multiBatchReplay(canon: org.apache.spark.sql.DataFrame): Unit = {
    val result = IncrementalWCC.testStream(spark, canon, 0.8, 3).collect()
    assert(result.length > 0)
    // same bulk universe as the single-batch variant (graft-back quirk)
    val single = IncrementalWCC.testStream(spark, canon, 0.8, 1).collect()
    assert(result.map(_.getLong(0)).toSet === single.map(_.getLong(0)).toSet)
  }

  test("testStream with multiple micro-batches runs the full replay loop") {
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    val canon = EdgeOps.canonicalize(raw)
    multiBatchReplay(canon)
  }

  test(s"testStream with multiple micro-batches runs the full replay loop (${ParityGraph.Name})") {
    multiBatchReplay(EdgeOps.canonicalize(ParityGraph.load(spark)))
  }
}
