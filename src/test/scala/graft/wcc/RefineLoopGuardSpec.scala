package graft.wcc

import graft.{JobProbe, SparkSpec}
import graft.graph.Fixpoint
import org.apache.spark.ShuffleDependency
import org.apache.spark.graphx.Edge
import org.apache.spark.rdd.RDD
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** Pins the WCC loops' plan shape (ROADMAP D3): a refinement
 * generation is ONE Spark job on the co-partitioned vertex-block
 * state ([[RefineState]]) — at most three stages for the batch loop
 * (move, apply + ship same-community arrays, intersect), at most two
 * for the IDWCC fixed-5 loop (no triangle stage) — and the seed
 * evaluation is at most two jobs (build, WCC fold). The seeding runs on
 * the same blocks: its build is one job and each superstep one job of
 * at most two stages (ship changed labels, re-decide); a whole IDWCC
 * micro-batch fold has a job ceiling. The triangle stats run their
 * support kernel on blocks too: at most two jobs.
 *
 * Each pin carries a same-JVM calibration: on the GraphX reference
 * evaluation of one generation ([[CommunityOps.computeCommunityStats]]
 * plus [[ReferenceEval.computeGlobalWCC]]) the probe must count more
 * than one job and more than three stages, proving it sees the
 * per-generation fan-out this state replaced.
 *
 * Every block exchange of those loops runs on [[BlockCodec]]: a
 * message shuffle that falls back to the session serializer fails
 * here. So does any other shuffle in an IDWCC fold but the global-cc
 * fold's and the graft-back's, and a seeding keep-slot exchange whose
 * bytes grow with the state rather than the batch. */
class RefineLoopGuardSpec extends SparkSpec with TimeLimits {
  private implicit val signaler: Signaler = ThreadSignaler
  import GraphFixtures._

  // two-triangle + bridge graph (same fixture family as DistributedWCCSpec)
  private val edges =
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (5L, 6L), (6L, 7L), (5L, 7L))

  private def seeded() = {
    val g = graphOf(spark, edges)
    val init = InitialPartition.run(TriangleStats.run(g).pruned)
    (init, g.numVertices)
  }

  private def release(init: org.apache.spark.graphx.Graph[VertexData, Int]): Unit = {
    init.unpersistVertices(blocking = false)
    init.edges.unpersist(blocking = false)
  }

  /** the probe sees the fan-out of the GraphX reference evaluation of
   * one generation: its stats collect plus [[ReferenceEval.computeGlobalWCC]] */
  private def calibrate(init: org.apache.spark.graphx.Graph[VertexData, Int],
      n: Long): Unit = {
    val ref = JobProbe(spark.sparkContext) {
      ReferenceEval.computeGlobalWCC(init, CommunityOps.computeCommunityStats(init), n)
    }
    assert(ref.jobs > 1 && ref.stages > 3, s"calibration failed: the probe " +
      s"counted ${ref.jobs} job(s) / ${ref.stages} stage(s) on the GraphX " +
      "reference evaluation — it cannot see the fan-out it guards")
  }

  /** `pruned`'s edges as block-build slots under `part` */
  private def slotsOf(pruned: org.apache.spark.graphx.Graph[VertexData, Int],
      part: org.apache.spark.HashPartitioner) =
    RefineState.pairSlots(RefineState.pairsOf(pruned.edges), part)

  private val messageClasses =
    Seq(classOf[EdgeSlots], classOf[GhostAttrs], classOf[Moves], classOf[SameSets])
      .map(_.getName)

  /** the shuffles in `rdd`'s lineage that carry block messages, with
   * the class of their values (`valueClassName` is Spark-private, so
   * it is read reflectively) */
  private def blockShuffles(rdd: RDD[_]): Seq[(String, ShuffleDependency[_, _, _])] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Seq[(String, ShuffleDependency[_, _, _])] =
      if (!seen.add(r.id)) Nil
      else r.dependencies.flatMap { d =>
        val here = d match {
          case s: ShuffleDependency[_, _, _] =>
            val v = s.getClass.getMethod("valueClassName").invoke(s).asInstanceOf[String]
            if (messageClasses.contains(v)) Seq((v, s)) else Nil
          case _ => Nil
        }
        here ++ walk(d.rdd)
      }
    walk(rdd)
  }

  /** `found` holds a shuffle of each `expected` message class, and
   * every block-message shuffle in it runs on [[BlockCodec]] */
  private def assertOnCodec(what: String, found: Seq[(String, ShuffleDependency[_, _, _])],
      expected: Seq[Class[_]]): Unit = {
    val missing = expected.map(_.getName).toSet -- found.map(_._1)
    assert(missing.isEmpty, s"$what: no ${missing.mkString(", ")} shuffle in its lineage")
    found.foreach { case (v, s) =>
      assert(s.serializer eq BlockCodec,
        s"$what: a $v shuffle runs on ${s.serializer.getClass.getName}, not BlockCodec")
    }
  }

  test("every block exchange runs on the block codec") {
    failAfter(180.seconds) {
      val (init, n) = seeded()
      val globalCC = IncrementalWCC.detGlobalCC(init.vertices, n)
      Fixpoint.using { scope =>
        // a generation's lineage ends at the cut before it, so each is
        // read as its job is about to build it: `capture` records its
        // block shuffles, then caches it as the loops do
        val seen =
          scala.collection.mutable.ArrayBuffer.empty[(String, ShuffleDependency[_, _, _])]
        val capture: RefineState.Cache = { b =>
          seen ++= blockShuffles(b)
          RefineState.in(scope)(b)
        }
        def captured(what: String, expected: Seq[Class[_]])(build: => Any): Unit = {
          seen.clear()
          build
          assertOnCodec(what, seen.toSeq, expected)
        }
        var seed: RefineState = null
        captured("the seed build",
          Seq(classOf[EdgeSlots], classOf[GhostAttrs], classOf[SameSets])) {
          seed = RefineState.seed(init, countTriangles = true, capture)
        }
        captured("a batch step", Seq(classOf[Moves], classOf[SameSets])) {
          seed.step(globalCC, n, score = true, countTriangles = true, capture)
        }
        val tri = TriangleStats.run(graphOf(spark, edges))
        scope.adopt(tri.cached: _*)
        val pruned = tri.pruned
        val part = new org.apache.spark.HashPartitioner(pruned.vertices.getNumPartitions)
        var built: InitialPartition.Gen = null
        captured("the seeding build", Seq(classOf[EdgeSlots], classOf[GhostAttrs])) {
          built = InitialPartition.build(pruned.vertices, slotsOf(pruned, part), part,
            None, capture)
        }
        captured("a seeding superstep", Seq(classOf[Moves])) {
          InitialPartition.superstep(built, part, decide = true, capture)
        }
        // the triangle support kernel
        assertOnCodec("the triangle kernel",
          blockShuffles(TriangleStats.edgeSupport(pruned.vertices, RefineState.pairsOf(pruned.edges))),
          Seq(classOf[EdgeSlots], classOf[SameSets]))
        // the IDWCC merge's delta triangle pass
        val state = IncrementalWCC.prepare(graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L))))
        scope.adopt(state.cached: _*)
        val m = IncrementalWCC.merge(state, spark.sparkContext.parallelize(Seq(
          org.apache.spark.graphx.Edge(3L, 4L, 1), org.apache.spark.graphx.Edge(4L, 5L, 1),
          org.apache.spark.graphx.Edge(3L, 5L, 1))), scope)
        m.globalCC
        assertOnCodec("the delta triangle pass", blockShuffles(m.deltaKeys),
          Seq(classOf[EdgeSlots], classOf[SameSets]))
      }
      release(init)
    }
  }

  test("a batch generation is exactly 1 job and at most 3 stages") {
    failAfter(180.seconds) {
      val (init, n) = seeded()
      calibrate(init, n)
      val (seed, _, _) = DistributedWCC.seedEvaluation(init, n)
      val globalCC = IncrementalWCC.detGlobalCC(init.vertices, n)
      Fixpoint.using { scope =>
        scope.adopt(seed.blocks)
        var gen1: RefineState = null
        val build = JobProbe(spark.sparkContext) {
          gen1 = seed.step(globalCC, n, score = false, countTriangles = true,
            RefineState.in(scope))
        }
        val scored = JobProbe(spark.sparkContext) {
          gen1.step(globalCC, n, score = true, countTriangles = true, RefineState.in(scope))
        }
        Seq(build, scored).foreach { c =>
          assert(c.jobs === 1, s"a batch generation ran ${c.jobs} jobs")
          assert(c.stages <= 3, s"a batch generation ran ${c.stages} stages")
        }
      }
      release(init)
    }
  }

  test("an IDWCC fixed-5 iteration is exactly 1 job and at most 2 stages") {
    failAfter(180.seconds) {
      val (init, n) = seeded()
      calibrate(init, n)
      Fixpoint.using { scope =>
        val seed = RefineState.seed(init, countTriangles = false, RefineState.in(scope))
        val globalCC = IncrementalWCC.detGlobalCC(init.vertices, n)
        val c = JobProbe(spark.sparkContext) {
          seed.step(globalCC, n, score = false, countTriangles = false, RefineState.in(scope))
        }
        assert(c.jobs === 1, s"an IDWCC iteration ran ${c.jobs} jobs")
        assert(c.stages <= 2, s"an IDWCC iteration ran ${c.stages} stages")
      }
      release(init)
    }
  }

  test("a seeding superstep is exactly 1 job and at most 2 stages") {
    failAfter(180.seconds) {
      val (init, n) = seeded()
      calibrate(init, n)
      val pruned = TriangleStats.run(graphOf(spark, edges)).pruned
      val part = new org.apache.spark.HashPartitioner(pruned.vertices.getNumPartitions)
      Fixpoint.using { scope =>
        val built = InitialPartition.build(pruned.vertices, slotsOf(pruned, part), part,
          None, RefineState.in(scope))
        assert(built.changed > 0, "premise: superstep 2 must change labels")
        val c = JobProbe(spark.sparkContext) {
          InitialPartition.superstep(built, part, decide = true, RefineState.in(scope))
        }
        assert(c.jobs === 1, s"a seeding superstep ran ${c.jobs} jobs")
        assert(c.stages <= 2, s"a seeding superstep ran ${c.stages} stages")
      }
      release(init)
    }
  }

  test("the seeding block build is 1 job") {
    failAfter(180.seconds) {
      val (init, n) = seeded()
      calibrate(init, n)
      val pruned = TriangleStats.run(graphOf(spark, edges)).pruned
      val part = new org.apache.spark.HashPartitioner(pruned.vertices.getNumPartitions)
      val before = RefineState.builds.get()
      val c = Fixpoint.using { scope =>
        JobProbe(spark.sparkContext) {
          InitialPartition.build(pruned.vertices, slotsOf(pruned, part), part, None,
            RefineState.in(scope))
        }
      }
      assert(c.jobs === 1, s"the seeding block build ran ${c.jobs} jobs")
      val builds = RefineState.builds.get() - before
      assert(builds === part.numPartitions,
        s"the seeding build ran RefineState.build $builds times on ${part.numPartitions} partitions")
      release(init)
    }
  }

  test("an IDWCC micro-batch fold runs at most 9 jobs") {
    // bulk triangle {1,2,3}; the batch closes triangle {3,4,5} (the
    // IncrementalWCCSpec fixture). The ceiling is the count measured
    // once one job classified the batch ids: 2 merge jobs (the
    // border/new classification, and the delta pass that materializes
    // the merged vertices), the seeding build, 2 supersteps and the
    // label-shipping job, 1 refine iteration and the graft-back — 8 on
    // the calling thread — plus the merge's concurrent global-cc fold,
    // which runs under the caller's job group. The stage ceiling is the
    // count measured once the merge built no GraphX graph and the
    // seeding read id pairs: 20 stages, against 25 while the merge
    // built the union graph, repartitioned it and fed the seeding
    // build its triplets.
    failAfter(180.seconds) {
      val (init, n) = seeded()
      calibrate(init, n)
      val state = IncrementalWCC.prepare(graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L))))
      val batch = spark.sparkContext.parallelize(Seq(
        org.apache.spark.graphx.Edge(3L, 4L, 1), org.apache.spark.graphx.Edge(4L, 5L, 1),
        org.apache.spark.graphx.Edge(3L, 5L, 1)))
      var out: IncrementalWCC.State = null
      val c = JobProbe(spark.sparkContext) {
        out = IncrementalWCC.run(state, batch, releaseInput = false)
      }
      assert(c.jobs <= 9, s"an IDWCC micro-batch fold ran ${c.jobs} jobs")
      assert(c.stages <= 20, s"an IDWCC micro-batch fold ran ${c.stages} stages")
      release(out.graph)
      release(state.graph)
      state.bulkFlagged.foreach(_.unpersist(blocking = false))
      release(init)
    }
  }

  /** Runs `body` under a job group of its own with the listener `listen`
   * builds from a test for that group's properties attached, and returns
   * once `count` held still for five 100 ms samples, as [[JobProbe]]
   * does. The merge's global-cc fold carries the group too. */
  private def grouped(count: => Int)(
      listen: (java.util.Properties => Boolean) => org.apache.spark.scheduler.SparkListener)(
      body: => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft-grouped-${java.util.UUID.randomUUID()}"
    val listener = listen(p => p != null && tag == p.getProperty("spark.jobGroup.id"))
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "grouped probe")
      try body finally sc.clearJobGroup()
      var prev = -1; var stable = 0; var spins = 0
      while (stable < 5 && spins < 200) {
        Thread.sleep(100)
        if (count == prev) stable += 1 else { stable = 0; prev = count }
        spins += 1
      }
    } finally sc.removeSparkListener(listener)
  }

  /** The shuffles the jobs of `body` read ([[grouped]]): per RDD that
   * reads one — an RDD with a parent outside its stage — its job id and
   * call site. */
  private def shuffleReads(body: => Unit): Seq[(Int, String)] = {
    val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    grouped(reads.size) { ours =>
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (ours(js.properties)) js.stageInfos.foreach(i => jobOf.put(i.stageId, js.jobId))
        override def onStageSubmitted(
            ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          if (ours(ss.properties)) {
            val info = ss.stageInfo
            val here = info.rddInfos.map(_.id).toSet
            info.rddInfos.filter(_.parentIds.exists(!here(_))).foreach { r =>
              reads.add((jobOf.getOrDefault(info.stageId, -1), r.callSite))
            }
          }
      }
    }(body)
    import scala.jdk.CollectionConverters._
    reads.asScala.toSeq
  }

  /** The stages the jobs of `body` ran ([[grouped]]): per stage, its call
   * site in long form (the stack that built its last RDD) and the shuffle
   * bytes it wrote. */
  private def stageWrites(body: => Unit): Seq[(String, Long)] = {
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    grouped(writes.size) { ours =>
      new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          if (ours(ss.properties)) ran.add(ss.stageInfo.stageId)
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (ran.contains(sc.stageInfo.stageId)) writes.add((sc.stageInfo.details,
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten))
      }
    }(body)
    import scala.jdk.CollectionConverters._
    writes.asScala.toSeq
  }

  test("every shuffle of an IDWCC fold is a block exchange, but the global-cc fold's " +
    "and the graft-back's") {
    failAfter(180.seconds) {
      val state = IncrementalWCC.prepare(graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L))))
      val batch = spark.sparkContext.parallelize(Seq(
        org.apache.spark.graphx.Edge(3L, 4L, 1), org.apache.spark.graphx.Edge(4L, 5L, 1),
        org.apache.spark.graphx.Edge(3L, 5L, 1)))
      var out: IncrementalWCC.State = null
      val reads = shuffleReads { out = IncrementalWCC.run(state, batch, releaseInput = false) }
      // RefineState.exchange's ShuffledRDD, which runs on BlockCodec
      // ("every block exchange runs on the block codec" above)
      val (block, other) = reads.partition(_._2.startsWith("ShuffledRDD at RefineState.scala"))
      val (cc, graft) = other.partition(_._2.startsWith("groupByKey at IncrementalWCC.scala"))
      assert(block.nonEmpty, s"premise: the probe sees the block exchanges in ${reads.mkString("; ")}")
      assert(cc.size === 1, s"the global-cc fold's groupByKey: ${cc.mkString("; ")}")
      // the rest is the graft-back's vertex update: GraphX's own shuffles,
      // in the fold's last job
      assert(graft.nonEmpty, s"premise: the graft-back ships vertices in ${reads.mkString("; ")}")
      val last = reads.map(_._1).filter(_ != cc.head._1).max
      assert(graft.forall(_._1 == last), "a shuffle outside the block exchanges, the " +
        s"global-cc fold and the graft-back: ${graft.filter(_._1 != last).mkString("; ")}")
      release(out.graph)
      release(state.graph)
      state.bulkFlagged.foreach(_.unpersist(blocking = false))
    }
  }

  test("an IDWCC fold's keep-slot exchange writes the same bytes however large the state") {
    // the holme-kim-1k bulk region, alone and beside 3 replicas of it at
    // disjoint id offsets (multiples of the partition count, so each
    // replica vertex sits at its original's partition), and one batch:
    // the edges of the lowest stream-region vertex, which touch no
    // replica. The resident bulk slots are never shipped again, so the
    // seeding's keep-slot exchange carries the batch's keys alone.
    failAfter(300.seconds) {
      val all = ParityGraph.edges()
      val split = math.floor(all.map(_._2).max * 0.8).toLong
      val bulk = all.filter(_._2 < split)
      val first = all.map(_._2).filter(_ >= split).min
      val batch = all.filter(_._2 == first)
      val offset = 1L << 20
      def keepSlotBytes(bulkEdges: Seq[(Long, Long)]): Long = {
        val sc = spark.sparkContext
        val state = IncrementalWCC.prepareEdges(
          sc.parallelize(bulkEdges.map { case (a, b) => Edge(a, b, 1) }, 4), 4)
        val edges = sc.parallelize(batch.map { case (a, b) => Edge(a, b, 1) }, 2)
        var out: IncrementalWCC.State = null
        val writes = stageWrites { out = IncrementalWCC.run(state, edges, releaseInput = false) }
        release(out.graph)
        release(state.graph)
        state.bulkFlagged.foreach(_.unpersist(blocking = false))
        // the stage that ships the keep slots: built by the seeding's
        // own pairSlots call
        val keep = writes.filter { case (site, _) =>
          site.contains("RefineState$.pairSlots") &&
            site.contains("IncrementalWCC$.performInitialPartition")
        }
        assert(keep.size === 1, "premise: one keep-slot exchange among " +
          writes.map(_._1.linesIterator.take(3).mkString(" < ")).mkString("; "))
        assert(keep.head._2 > 0, "premise: the batch flags keep slots")
        keep.head._2
      }
      val alone = keepSlotBytes(bulk)
      val replicated = keepSlotBytes(bulk ++ (1 to 3).flatMap { k =>
        bulk.map { case (a, b) => (a + k * offset, b + k * offset) }
      })
      assert(replicated === alone, s"the keep-slot exchange wrote $alone bytes on the " +
        s"holme-kim-1k state and $replicated with 3 replicas beside it")
    }
  }

  test("a fold into a prepared state skips none of the prepare's stages") {
    // the state is a lineage cut: a fold's jobs skip only stages an
    // earlier job of the same fold ran, each holding an RDD the fold
    // made. Stage ids do not tell: a later job makes a new stage for
    // an old shuffle once the jobs that needed it are done.
    failAfter(180.seconds) {
      val sc = spark.sparkContext
      val g = graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L)))
      val state = IncrementalWCC.prepare(g)
      // every RDD made before the fold has a smaller id
      val before = sc.emptyRDD[Int].id
      val batch = sc.parallelize(Seq(
        org.apache.spark.graphx.Edge(3L, 5L, 1), org.apache.spark.graphx.Edge(4L, 5L, 1),
        org.apache.spark.graphx.Edge(5L, 6L, 1)))
      var out: IncrementalWCC.State = null
      val fold = JobProbe(sc) { out = IncrementalWCC.run(state, batch, releaseInput = false) }
      assert(fold.skipped > 0, "premise: the fold's later jobs skip its earlier stages")
      val old = fold.skippedRdds.count(_.forall(_ < before))
      assert(old === 0, s"the fold skipped $old stages of RDDs made before it " +
        s"(${fold.skipped} skipped in all): its lineage reaches back into the prepare")
      release(out.graph)
      release(state.graph)
      state.bulkFlagged.foreach(_.unpersist(blocking = false))
    }
  }

  test("the merge's global-cc fold runs under the caller's job group on every fold") {
    // the block-sum job overlaps the seeding; a job submitted from any
    // thread but the caller's (a pool thread keeps the local properties
    // it was created with) would run every fold after the first under a
    // stale group
    failAfter(180.seconds) {
      val sc = spark.sparkContext
      val state = IncrementalWCC.prepare(graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L))))
      val batch = sc.parallelize(Seq(
        org.apache.spark.graphx.Edge(3L, 4L, 1), org.apache.spark.graphx.Edge(4L, 5L, 1),
        org.apache.spark.graphx.Edge(3L, 5L, 1)))
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (js.stageInfos.exists(_.details.contains("detGlobalCC")))
            groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
      }
      val tags = (1 to 3).map(i => s"graft-fold-$i-${java.util.UUID.randomUUID()}")
      sc.addSparkListener(listener)
      try {
        tags.foreach { tag =>
          sc.setJobGroup(tag, "micro-batch fold")
          try release(IncrementalWCC.run(state, batch, releaseInput = false).graph)
          finally sc.clearJobGroup()
        }
        var waited = 0
        while (groups.size < tags.size && waited < 100) { Thread.sleep(100); waited += 1 }
      } finally sc.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      assert(groups.asScala.toSeq === tags)
      release(state.graph)
      state.bulkFlagged.foreach(_.unpersist(blocking = false))
    }
  }

  test("TriangleStats.run is at most 2 jobs") {
    failAfter(180.seconds) {
      val (init, n) = seeded()
      calibrate(init, n)
      val g = graphOf(spark, edges)
      g.cache(); g.numVertices
      var res: TriangleStats.Result = null
      val c = JobProbe(spark.sparkContext) { res = TriangleStats.run(g) }
      assert(c.jobs <= 2, s"TriangleStats.run ran ${c.jobs} jobs (${c.stages} stages)")
      release(res.pruned)
      res.fullStats.unpersist(blocking = false)
      g.unpersistVertices(blocking = false)
      g.edges.unpersist(blocking = false)
      release(init)
    }
  }

  test("the seed evaluation is at most 2 jobs") {
    failAfter(180.seconds) {
      val (init, n) = seeded()
      calibrate(init, n)
      var seed: RefineState = null
      val c = JobProbe(spark.sparkContext) {
        seed = DistributedWCC.seedEvaluation(init, n)._1
      }
      assert(c.jobs <= 2, s"the seed evaluation ran ${c.jobs} jobs")
      seed.blocks.unpersist(blocking = false)
      release(init)
    }
  }
}
