package graft.wcc

import graft.SparkSpec
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** Regression guards for the pipelined refine loop's two load-bearing
 * plan properties (VERDICT r18 item 4 — the refine-loop siblings of
 * LoopPlanGuardSpec's two-phase-CC pin):
 *
 * 1. The acceptance fold (`wccFromScaffold`) consumes a CACHED,
 *    MATERIALIZED scaffold — it must read ZERO shuffle records. A
 *    regression that drops `scaffold.cache()`/`.count()` (or
 *    unpersists before the fold) silently re-runs the whole
 *    triangle exchange once per acceptance check, doubling the
 *    flagship's shuffles. The invariant is absolute (0 records), and
 *    a same-JVM uncached calibration proves the probe would see the
 *    regression (ADVICE-r18 ratio discipline).
 *
 * 2. The scaffold evaluation of generation k runs CONCURRENTLY with
 *    the speculative build of generation k+1
 *    (`DistributedWCC.refinePartition`'s pipelined acceptance loop). A
 *    regression that serializes them — inlining the scaffold call or
 *    joining the future before speculating — restores the r16
 *    pre-pipelining critical path. Pinned via an injected scaffold
 *    delay plus the loop's own overlap observation flag: with the
 *    delay far above the fixture's advance time, the flag can be set
 *    ONLY by speculation completing while the scaffold is still in
 *    flight. */
class RefineLoopGuardSpec extends SparkSpec with TimeLimits {
  private implicit val signaler: Signaler = ThreadSignaler
  import GraphFixtures._

  // hub-free two-triangle + bridge graph: routes through the compact
  // pipelined loop (same fixture family as DistributedWCCSpec)
  private val edges =
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (5L, 6L), (6L, 7L), (5L, 7L))

  /** Shuffle records read by jobs tagged with a fresh job group while
   * `body` runs on this thread; listener drained until stable. */
  private def shuffleRecordsOf(body: => Unit): Long = {
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val tag = s"graft-refine-guard-${java.util.UUID.randomUUID()}"
    val tagged = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        if (ss.properties != null &&
            tag == ss.properties.getProperty("spark.jobGroup.id"))
          tagged.add(ss.stageInfo.stageId)
        ()
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        if (tagged.contains(sc.stageInfo.stageId))
          records.addAndGet(
            sc.stageInfo.taskMetrics.shuffleReadMetrics.recordsRead)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(tag, "refine guard probe")
      try body finally spark.sparkContext.clearJobGroup()
      // async listener bus: poll until the counter holds still
      var stable = 0; var prev = -1L; var spins = 0
      while (stable < 5 && spins < 200) {
        val cur = records.get()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        Thread.sleep(100); spins += 1
      }
      records.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("acceptance fold reads ZERO shuffle records from the cached scaffold") {
    failAfter(180.seconds) {
      val g = graphOf(spark, edges)
      val res = TriangleStats.run(g)
      val init = InitialPartition.run(res.pruned)
      val surf = CommunityOps.nbrSurfaces(init)
      surf.cache()
      val cs = CommunityOps.statsFromSurfaces(init, surf)
      val scaffold = CommunityOps.wccEvalScaffold(init, surf)
      val n = g.numVertices
      val cached = shuffleRecordsOf {
        val w = CommunityOps.wccFromScaffold(scaffold, cs, n)
        assert(!w.isNaN)
      }
      assert(cached == 0L,
        s"the acceptance fold read $cached shuffle records — the scaffold " +
          "is no longer materialized+cached before wccFromScaffold, so " +
          "every acceptance check replays the triangle exchange")
      // same-JVM calibration: drop the cache and re-run — the fold now
      // replays the aggregateMessages exchange, proving the probe
      // detects exactly the regression this test pins
      scaffold.unpersist(blocking = true)
      val uncached = shuffleRecordsOf {
        val w = CommunityOps.wccFromScaffold(scaffold, cs, n)
        assert(!w.isNaN)
      }
      assert(uncached > 0L,
        "calibration failed: the uncached fold read no shuffle records — " +
          "the probe cannot see the regression it guards against")
      surf.unpersist(blocking = false)
      init.unpersistVertices(blocking = false)
      init.edges.unpersist(blocking = false)
    }
  }

  test("scaffold evaluation overlaps next-generation speculation") {
    failAfter(180.seconds) {
      val g = graphOf(spark, edges)
      val res = TriangleStats.run(g)
      val init = InitialPartition.run(res.pruned)
      // 4 s delay >> the fixture's advance time (~0.1-0.3 s; a
      // documented 5-8x host stall still fits): if the loop
      // pipelines, speculation finishes while the scaffold future
      // sleeps and the loop records the overlap; a serialized loop
      // (inline scaffold, or join-before-speculate) just gets slower
      // and can never set the flag. The moves=0 fixture rejects on
      // iteration 1, so each refinement gives ONE overlap chance —
      // retry the whole refinement up to 3 times so a freak stall
      // during advance() cannot fail the pin spuriously (review r19).
      DistributedWCC.testScaffoldDelayMs = 4000L
      // reset BEFORE the attempts: other suites' refinements may have
      // set the flag, and a stale true would pass this pin vacuously
      DistributedWCC.lastScaffoldOverlapped = false
      try {
        var attempt = 0
        while (!DistributedWCC.lastScaffoldOverlapped && attempt < 3) {
          val (best, _, wcc, _) =
            DistributedWCC.refinePartition(init, g.numVertices, 2)
          assert(wcc > 0.0)
          if (best ne init) {
            best.unpersistVertices(blocking = false)
            best.edges.unpersist(blocking = false)
          }
          attempt += 1
        }
      } finally DistributedWCC.testScaffoldDelayMs = 0L
      assert(DistributedWCC.lastScaffoldOverlapped,
        "no refine iteration (3 attempts) observed the eval scaffold in " +
          "flight after speculation completed — the pipelined acceptance " +
          "loop has been serialized (scaffold inlined or joined before the " +
          "speculative generation is built)")
      init.unpersistVertices(blocking = false)
      init.edges.unpersist(blocking = false)
    }
  }
}
