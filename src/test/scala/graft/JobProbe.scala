package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}

/** What the Spark jobs that `body` runs on the calling thread did,
 * counted under a fresh job group: jobs, stages run, stages skipped
 * (listed by a job at its start but never submitted while it ran:
 * their output already existed) and shuffle records read. The listener
 * bus is asynchronous, so the counts are read once they have held
 * still for five 100 ms samples. Only jobs submitted from this thread
 * carry the group, so jobs of other suites sharing the context cannot
 * leak into a count. */
object JobProbe {

  /** `skippedRdds`: per stage a probed job skipped (`skipped` of
   * them), the ids of the RDDs in it. */
  final case class Counts(jobs: Int, stages: Int, shuffleRecordsRead: Long, skipped: Int,
      skippedRdds: Seq[Set[Int]])

  def apply(sc: SparkContext)(body: => Unit): Counts = {
    val tag = s"graft-job-probe-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val records = new AtomicLong(0L)
    val tagged = ConcurrentHashMap.newKeySet[Int]()
    // per probed job: the stages it listed with their RDDs, and those
    // it ran
    val listed = new ConcurrentHashMap[Int, Seq[(Int, Set[Int])]]()
    val ran = ConcurrentHashMap.newKeySet[(Int, Int)]()
    val active = ConcurrentHashMap.newKeySet[Int]()
    def ours(p: java.util.Properties) =
      p != null && tag == p.getProperty("spark.jobGroup.id")
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (ours(js.properties)) {
          jobs.incrementAndGet()
          listed.put(js.jobId, js.stageInfos.map(i => (i.stageId, i.rddInfos.map(_.id).toSet)))
          active.add(js.jobId)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = active.remove(je.jobId)
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (ours(ss.properties)) {
          val s = ss.stageInfo.stageId
          stages.incrementAndGet()
          tagged.add(s)
          active.asScala.foreach(j => if (listed.get(j).exists(_._1 == s)) ran.add((j, s)))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (tagged.contains(sc.stageInfo.stageId))
          records.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "job probe")
      try body finally sc.clearJobGroup()
      def now = {
        val skips = listed.asScala.toSeq.flatMap { case (j, st) =>
          st.filterNot { case (s, _) => ran.contains((j, s)) }
        }
        Counts(jobs.get(), stages.get(), records.get(), skips.size, skips.map(_._2))
      }
      var prev = now; var stable = 0; var spins = 0
      while (stable < 5 && spins < 200) {
        Thread.sleep(100)
        val cur = now
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        spins += 1
      }
      now
    } finally sc.removeSparkListener(listener)
  }
}
