package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * WCC benchmark driver: one workload, one seed, one process.
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *        --work <dir> --state <dir>
 *
 * Set-up rounds (input generation; the bulk prepare on the write path)
 * run several times and `setup_s` is the median round's CPU time. One untimed
 * warm-up operation follows. The timed part then repeats operations
 * until `--seconds` have elapsed (at least [[MinOps]]). Each
 * operation's output is checked outside its timing. The last stdout
 * line is the result: `correct`, `attempted`, `failed` and the
 * end-to-end metrics (`--trace 0`) or the per-layer metrics
 * (`--trace 1`), each with its unit. The line before it carries run
 * annotations, which are not metrics.
 */
object Main {
  val MinOps = 2
  val MaxOps = 20

  val Workloads = Seq("dwcc_copurchase", "idwcc_microbatch")

  /** Layer spans, in pipeline order. */
  val Layers = Seq(
    "EdgeOps.coPurchaseEdgesWeighted", "EdgeOps.canonicalize", "EdgeOps.toGraph",
    "TriangleStats.run", "InitialPartition.run", "DistributedWCC.seedEvaluation",
    "DistributedWCC.run", "IncrementalWCC.prepare", "IncrementalWCC.run")

  /** Per-layer counters and their units. */
  val Counters = Seq(
    "wall_s" -> "s", "task_cpu_s" -> "s", "task_run_s" -> "s", "busy_frac" -> "ratio",
    "gc_s" -> "s", "jobs" -> "count", "stages_run" -> "count",
    "stages_skipped" -> "count", "shuffle_write_mib" -> "MiB", "spill_mib" -> "MiB",
    "cached_mib" -> "MiB")

  /** Outcome counts recorded on layer spans. */
  val Outcomes = Seq(
    ("EdgeOps.coPurchaseEdgesWeighted", "edges_out", "count"),
    ("EdgeOps.canonicalize", "edges_out", "count"),
    ("TriangleStats.run", "kept_edge_frac", "ratio"),
    ("InitialPartition.run", "communities", "count"),
    ("DistributedWCC.run", "communities", "count"),
    ("IncrementalWCC.run", "batch_edges", "count"))

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, state: Path, scale: Scale, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad argument ${a.mkString(" ")}")
    }.toMap
    val w = m.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Opts(w, m.getOrElse("seed", "0").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")), Paths.get(m("state")),
      Scale.bench, Runtime.getRuntime.availableProcessors())
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(o.work.resolve("checkpoint").toString)
    spark
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], notes: Seq[(String, String)])

  /** Run one workload in an existing session. */
  def run(spark: SparkSession, o: Opts, workload: Ctx => Workload): Result = {
    val runId = s"${o.workload}-${o.seed}-${System.currentTimeMillis()}"
    val tracer = new Tracer(spark.sparkContext, runId, o.trace)
    val agreement = new Agreement(o.state.resolve(s"agree-${o.workload}-${o.scale.name}-${o.seed}.tsv"))
    val ctx = new Ctx(spark, tracer, o.scale, o.seed, o.work, agreement)
    val w = workload(ctx)
    val problems = mutable.ArrayBuffer.empty[String]

    val setupSpans = (1 to w.setupRounds).map { r =>
      val s = tracer.span("setup") { s => w.setup(r); s }
      problems ++= w.checkSetup()
      s
    }
    tracer.setPhase("warmup")
    val warm = w.op(0)
    val warmupS = tracer.span("warmup") { s =>
      warm.run()
      (System.nanoTime() - s.startNs) / 1e9
    }
    problems ++= warm.check()

    tracer.setPhase("timed")
    val opSpans = mutable.ArrayBuffer.empty[Span]
    val peaks = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 1
    while (i <= MaxOps && (i <= MinOps || elapsed < o.seconds)) {
      val op = w.op(i)
      tracer.takePeakCached()
      val ok = try {
        tracer.span("op") { s => opSpans += s; tracer.sampled(op.run()) }
        peaks += tracer.takePeakCached() / tracer.Mib
        val msgs = op.check()
        problems ++= msgs.map(m => s"op $i: $m")
        msgs.isEmpty
      } catch {
        case e: Exception =>
          problems += s"op $i failed: $e"
          false
      }
      if (!ok) failed += 1
      i += 1
    }
    val attempted = i - 1
    val timedS = elapsed
    tracer.setPhase("check")
    val c0 = System.nanoTime()
    problems ++= w.finalCheck()
    val checkS = (System.nanoTime() - c0) / 1e9
    val correct = problems.isEmpty
    if (correct) agreement.save()

    val costs = tracer.costs()
    val ops = opSpans.toSeq
    val metrics =
      if (!o.trace) {
        Seq(
          ("setup_s", median(setupSpans.map(_.cpuNs / 1e9)), "s"),
          ("cpu_s", median(ops.map(_.cpuNs / 1e9)), "s"),
          ("shuffle_mib", median(ops.map(s =>
            costs.getOrElse(s.id, Cost()).shuffleWriteBytes / tracer.Mib)), "MiB"),
          ("cached_mib_peak", median(peaks.toSeq), "MiB"))
      } else layerMetrics(tracer, costs, ops, o.cores)
    val notes = Seq(
      "warmup_s" -> f"$warmupS%.3f",
      "timed_s" -> f"$timedS%.3f",
      "final_check_s" -> f"$checkS%.3f",
      "setup_rounds_wall_s" -> setupSpans.map(s => f"${s.wallS}%.3f").mkString("[", ", ", "]"),
      "op_wall_s" -> ops.map(s => f"${s.wallS}%.3f").mkString("[", ", ", "]"),
      "op_wall_p50_s" -> Json.num(median(ops.map(_.wallS))),
      "op_cpu_s" -> ops.map(s => f"${s.cpuNs / 1e9}%.3f").mkString("[", ", ", "]"),
      "problems" -> problems.take(20).map(Json.str).mkString("[", ", ", "]"))
    val tracePath = o.state.resolve("traces").resolve(s"$runId.jsonl")
    if (o.trace) tracer.write(tracePath, costs)
    Result(correct, attempted, failed, metrics,
      notes ++ (if (o.trace) Seq("trace_file" -> Json.str(tracePath.toString)) else Nil))
  }

  /** Per-layer metrics from the traced run: each counter is the median
   * over the layer's spans in the timed part (or, for layers that only
   * run in set-up, over its set-up spans); 0 for a layer the workload
   * does not call. */
  def layerMetrics(tracer: Tracer, costs: Map[Int, Cost], ops: Seq[Span],
      cores: Int): Seq[(String, Double, String)] = {
    val spans = tracer.all.filter(_.endNs > 0)
    def of(layer: String): Seq[Span] = {
      val named = spans.filter(_.name == layer)
      val timed = named.filter(_.phase == "timed")
      if (timed.nonEmpty) timed else named.filter(_.phase == "setup")
    }
    def counter(s: Span, k: String): Double = {
      val c = costs.getOrElse(s.id, Cost())
      k match {
        case "wall_s" => s.wallS
        case "task_cpu_s" => c.taskCpuNs / 1e9
        case "task_run_s" => c.taskRunMs / 1e3
        case "busy_frac" => c.taskRunMs / 1e3 / (s.wallS * cores)
        case "gc_s" => c.gcMs / 1e3
        case "jobs" => c.jobs.toDouble
        case "stages_run" => c.stagesRun.toDouble
        case "stages_skipped" => c.stagesSkipped.toDouble
        case "shuffle_write_mib" => c.shuffleWriteBytes / tracer.Mib
        case "spill_mib" => c.spillBytes / tracer.Mib
        case "cached_mib" => s.cachedBytes / tracer.Mib
      }
    }
    val perLayer = for (l <- Layers; (k, unit) <- Counters)
      yield (s"$l.$k", median(of(l).map(counter(_, k))), unit)
    val outcomes = Outcomes.map { case (l, k, unit) =>
      (s"$l.$k", median(of(l).flatMap(_.outcomes.get(k))), unit)
    }
    val self = ops.map { op =>
      op.wallS - spans.filter(_.parent == op.id).map(_.wallS).sum
    }
    perLayer ++ outcomes ++ Seq(
      ("bench.self_s", median(self), "s"),
      ("bench.op_wall_s", median(ops.map(_.wallS)), "s"))
  }

  def workload(o: Opts): Ctx => Workload = o.workload match {
    case "dwcc_copurchase" => c => new Dwcc(c)
    case "idwcc_microbatch" => c => new Idwcc(c)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val r = try run(spark, o, workload(o)) finally spark.stop()
    val notes = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "scale" -> Json.str(o.scale.name), "cores" -> o.cores.toString,
      "heap_mib" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "session_s" -> f"$sessionS%.3f") ++ r.notes
    println(Json.obj(Seq("annotations" -> Json.obj(notes))))
    val metrics = r.metrics.map { case (k, v, unit) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    }
    println(Json.obj(Seq("correct" -> r.correct.toString,
      "attempted" -> r.attempted.toString, "failed" -> r.failed.toString,
      "metrics" -> Json.obj(metrics))))
  }
}
