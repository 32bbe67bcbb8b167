package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine cost attributed to one span: jobs, stages and task totals. */
final case class Cost(jobs: Long = 0, stagesRun: Long = 0, stagesSkipped: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Cost): Cost = Cost(jobs + o.jobs, stagesRun + o.stagesRun,
    stagesSkipped + o.stagesSkipped, taskRunMs + o.taskRunMs,
    taskCpuNs + o.taskCpuNs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
}

/**
 * Records raw job, stage and task events. Nothing is attributed while
 * the benchmark runs: after [[drain]], [[Tracer]] maps each job to the
 * span named by its job group, or, for jobs submitted from pool
 * threads whose inherited job group is stale, to the innermost span
 * open at the job's submission time.
 */
final class CostListener extends SparkListener {
  final class JobRec(val id: Int, val timeMs: Long, val group: String,
      val stageIds: Seq[Int]) {
    val ran: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val activeJobs = ConcurrentHashMap.newKeySet[Int]()
  /** stage id -> the job it ran under */
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** stage id -> (runMs, cpuNs, gcMs, shuffleWriteBytes, spillBytes) */
  private val stageCost = new ConcurrentHashMap[Int, Array[Long]]()
  private val endedGroups = ConcurrentHashMap.newKeySet[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, g, e.stageIds))
    activeJobs.add(e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo.stageId
    activeJobs.asScala.find(j => jobs.get(j).stageIds.contains(s)).foreach { j =>
      jobs.get(j).ran.add(s)
      stageJob.putIfAbsent(s, j)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageCost.computeIfAbsent(e.stageId, _ => new Array[Long](5))
      a.synchronized {
        a(0) += m.executorRunTime
        a(1) += m.executorCpuTime
        a(2) += m.jvmGCTime
        a(3) += m.shuffleWriteMetrics.bytesWritten
        a(4) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    activeJobs.remove(e.jobId)
    Option(jobs.get(e.jobId)).flatMap(j => Option(j.group)).foreach(endedGroups.add)
  }

  /** Block until every event posted before this call was delivered:
   * runs a marker job and waits for its end event (events of one
   * listener are delivered in order). */
  def drain(sc: SparkContext): Unit = {
    val marker = s"perfbench-drain-${System.nanoTime()}"
    sc.setJobGroup(marker, "listener drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!endedGroups.contains(marker)) {
      require(System.nanoTime() < deadline, "listener bus did not drain in 60 s")
      Thread.sleep(5)
    }
  }

  /** Cost of job `j` (its own stages only: a stage first run by an
   * earlier job is skipped here and charged there). */
  def jobCost(j: JobRec): Cost = {
    var c = Cost(jobs = 1, stagesRun = j.ran.size,
      stagesSkipped = j.stageIds.size - j.ran.size)
    j.ran.asScala.foreach { s =>
      if (stageJob.get(s) == j.id) Option(stageCost.get(s)).foreach { a =>
        c = c + Cost(taskRunMs = a(0), taskCpuNs = a(1), gcMs = a(2),
          shuffleWriteBytes = a(3), spillBytes = a(4))
      }
    }
    c
  }
}

/** One span: a layer call, a timed operation or a setup round. */
final class Span(val id: Int, val name: String, val parent: Int,
    val phase: String, val startMs: Long, val startNs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  var cpuNs: Long = 0L
  /** storage memory in use when the span closed */
  var cachedBytes: Long = 0L
  val outcomes: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def wallS: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Operation and set-up spans are recorded in
 * every run; layer spans (and their job groups) only when `traced`.
 * Storage memory is sampled at every layer boundary and, during
 * operations, every 50 ms, in both modes.
 */
final class Tracer(sc: SparkContext, val runId: String, val traced: Boolean) {
  val listener = new CostListener
  sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var phase = "setup"
  private val peakCached = new java.util.concurrent.atomic.AtomicLong(0L)

  def setPhase(p: String): Unit = phase = p

  def cachedBytes(): Long = {
    val used = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
    peakCached.accumulateAndGet(used, math.max)
    used
  }

  /** peak sampled storage memory since the last call */
  def takePeakCached(): Long = math.max(peakCached.getAndSet(0L), cachedBytes())

  /** Run `f` while a background thread samples storage memory every
   * 50 ms, so the peak includes caches made and dropped inside a call. */
  def sampled[T](f: => T): T = {
    val on = new java.util.concurrent.atomic.AtomicBoolean(true)
    val t = new Thread(() => while (on.get) { cachedBytes(); Thread.sleep(50) },
      "perfbench-storage-sampler")
    t.setDaemon(true)
    t.start()
    try f finally { on.set(false); t.join() }
  }

  private def open(name: String): Span = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      phase, System.currentTimeMillis(), System.nanoTime())
    s.cpuNs = -ProcessCpu.nanos()
    spans += s
    stack = s :: stack
    group(Some(s))
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    s.cpuNs += ProcessCpu.nanos()
    s.cachedBytes = cachedBytes()
    stack = stack.tail
    group(stack.headOption)
  }

  /** A span that is recorded in every run (operation, setup round). */
  def span[T](name: String)(f: Span => T): T = {
    val s = open(name)
    try f(s) finally close(s)
  }

  /** A layer call: a span when traced, a storage sample in every run. */
  def layer[T](name: String)(f: => T): T =
    if (!traced) { val r = f; cachedBytes(); r }
    else span(name)(_ => f)

  private def group(s: Option[Span]): Unit =
    if (traced) s match {
      case Some(p) => sc.setJobGroup(s"${runId}-${p.id}", p.name)
      case None => sc.clearJobGroup()
    }

  /** record an outcome count on the latest span called `layer` */
  def outcome(layer: String, key: String, v: Double): Unit =
    spans.reverseIterator.find(_.name == layer).foreach(_.outcomes(key) = v)

  def all: Seq[Span] = spans.toSeq

  /** Engine cost per span id (each job charged to exactly one span).
   * Call once, at the end of the run: it detaches the listener. */
  def costs(): Map[Int, Cost] = {
    listener.drain(sc)
    sc.removeSparkListener(listener)
    val byGroup = spans.map(s => s"${runId}-${s.id}" -> s).toMap
    val out = mutable.HashMap.empty[Int, Cost]
    listener.jobs.values.asScala.foreach { j =>
      val viaGroup = Option(j.group).flatMap(byGroup.get)
        .filter(s => s.startMs <= j.timeMs && (s.endMs < 0 || j.timeMs <= s.endMs + 1))
      val owner = viaGroup.orElse(innermostAt(j.timeMs))
      owner.foreach(s => out(s.id) = out.getOrElse(s.id, Cost()) + listener.jobCost(j))
    }
    out.toMap
  }

  private def innermostAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs))
      .sortBy(s => depth(s)).lastOption

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** Spans as JSON lines, written once at exit. */
  def write(path: java.nio.file.Path, costs: Map[Int, Cost]): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val c = costs.getOrElse(s.id, Cost())
      sb ++= Json.obj(Seq(
        "run_id" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "phase" -> Json.str(s.phase),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_s" -> Json.num(s.wallS), "cpu_s" -> Json.num(s.cpuNs / 1e9),
        "cached_mib" -> Json.num(s.cachedBytes / Mib), "jobs" -> c.jobs.toString,
        "stages_run" -> c.stagesRun.toString, "stages_skipped" -> c.stagesSkipped.toString,
        "task_run_s" -> Json.num(c.taskRunMs / 1e3), "task_cpu_s" -> Json.num(c.taskCpuNs / 1e9),
        "gc_s" -> Json.num(c.gcMs / 1e3),
        "shuffle_write_mib" -> Json.num(c.shuffleWriteBytes / Mib),
        "spill_mib" -> Json.num(c.spillBytes / Mib)) ++
        s.outcomes.map { case (k, v) => k -> Json.num(v) })
      sb += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }

  val Mib: Double = 1024.0 * 1024.0
}

object ProcessCpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process: driver, executor threads, GC, JIT. */
  def nanos(): Long = os.getProcessCpuTime
}

/** Minimal JSON writer for the flat records the benchmark prints. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
