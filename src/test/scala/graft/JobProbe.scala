package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}

/** What the Spark jobs that `body` runs on the calling thread did,
 * counted under a fresh job group: jobs, stages run (skipped stages
 * are never submitted, so they do not count) and shuffle records read.
 * The listener bus is asynchronous, so the counts are read once they
 * have held still for five 100 ms samples. Only jobs submitted from
 * this thread carry the group, so jobs of other suites sharing the
 * context cannot leak into a count. */
object JobProbe {

  final case class Counts(jobs: Int, stages: Int, shuffleRecordsRead: Long)

  def apply(sc: SparkContext)(body: => Unit): Counts = {
    val tag = s"graft-job-probe-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val records = new AtomicLong(0L)
    val tagged = ConcurrentHashMap.newKeySet[Int]()
    def ours(p: java.util.Properties) =
      p != null && tag == p.getProperty("spark.jobGroup.id")
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (ours(js.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (ours(ss.properties)) {
          stages.incrementAndGet()
          tagged.add(ss.stageInfo.stageId)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (tagged.contains(sc.stageInfo.stageId))
          records.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "job probe")
      try body finally sc.clearJobGroup()
      def now = Counts(jobs.get(), stages.get(), records.get())
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
