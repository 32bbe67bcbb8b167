package graft

/** Benchmark main. Prints ONE final JSON line (the scored artifact).
  *
  * Trustworthiness protocol (VERDICT r9 item 1): a single run on this
  * host swings +/-50% with invisible co-tenant load (same-day spread
  * 320 -> 467 s on identical code, PERF.md), and the start-load gate
  * cannot see mid-run contention. So the suite runs
  * SPARK_GRAFT_BENCH_RUNS times (default 3) — each under its own
  * quiet-box gate and a FRESH SparkSession (fresh SparkContext, so no
  * cross-run cache/memo reuse; JIT warmth does carry, which measures
  * steady-state) — and the MEDIAN run by total is emitted as the
  * scored line, with every run's total + load annotations embedded
  * under "runs" so the scored number is auditable against its
  * siblings. bench_full.json carries per-query times for all runs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)
    // optional graph-partition override for local A/B probes (sbt's
    // forked run does not forward -D flags, so route through env)
    sys.env.get("SPARK_GRAFT_GRAPH_PARTS").foreach(v =>
      System.setProperty("graft.graph.parts", v))
    // optional comma-separated name filter for local iteration (the
    // driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

    // host load (1/5/15-min averages) at run start and end: every
    // bench artifact carries the load it was measured under —
    // cross-round comparisons are mechanically load-annotated
    def loadAvg(): String =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        s.trim.split("\\s+").take(3).mkString(" ")
      } catch { case _: Throwable => "unknown" }
    def loadN(i: Int): Double =
      try loadAvg().split(" ")(i).toDouble catch { case _: Throwable => -1.0 }
    def load1(): Double = loadN(0)
    def load15(): Double = loadN(2)

    // Quiet-box gate before EACH run: a loaded host inflates totals
    // ~1.6x (round 8 ran at load 5.9-13.2 and measured 505.7 s vs
    // 299-329 s unloaded on identical code). Bounded, so a
    // permanently busy box still produces an artifact (annotated
    // with the load it actually ran under).
    val maxStartLoad = sys.env.get("SPARK_GRAFT_MAX_LOAD").map(_.toDouble).getOrElse(2.0)
    // the 15-min gate gets a LOOSER threshold: that average decays
    // slowly (~5 min per 0.5 near the threshold), so demanding the
    // same 2.0 burns the whole wait budget on a marginal signal —
    // the r18 closing series waited the full 900 s for 2.02 -> <2.0
    // and measured no benefit. 3.0 still rejects the 3.6-5.1 starts
    // that produced r17's 1.7x spread.
    val maxStartLoad15 = sys.env.get("SPARK_GRAFT_MAX_LOAD15").map(_.toDouble)
      .getOrElse(math.max(3.0, maxStartLoad))
    val maxWaitMs = sys.env.get("SPARK_GRAFT_LOAD_WAIT_SEC").map(_.toLong * 1000L)
      .getOrElse(900000L)
    // only the FIRST run gets the full wait budget: with 3 runs a
    // per-run full gate could stall the artifact an hour on a busy
    // box; later runs start from a just-idle JVM anyway, so a short
    // top-up wait suffices (the median pick absorbs one noisy run).
    // The FIRST run additionally gates on the 15-MIN average
    // (VERDICT r17 item 1: r17's runs passed the 1-min gate at ~1.7
    // while the 15-min read 3.6-5.1, and the series spread 1.7x) —
    // recent sustained contention predicts mid-run contention better
    // than the instantaneous figure. Runs 2-3 must NOT gate on it:
    // by then the 15-min average is dominated by run 1's own 32-core
    // execution, so that gate could never pass.
    def quietGate(runIdx: Int): Long = {
      val budgetMs = if (runIdx == 1) maxWaitMs else math.min(maxWaitMs, 120000L)
      // sample each average ONCE per check: re-reading /proc/loadavg
      // for the message can print a value that no longer exceeds the
      // threshold (review r18)
      def busy(): Option[String] = {
        val l1 = load1(); val l15 = load15()
        if (l1 > maxStartLoad) Some(s"1-min load $l1 > $maxStartLoad")
        else if (runIdx == 1 && l15 > maxStartLoad15)
          Some(s"15-min load $l15 > $maxStartLoad15")
        else None
      }
      val t0 = System.currentTimeMillis()
      var waited = 0L
      var reason = busy()
      while (reason.isDefined &&
          (System.currentTimeMillis() - t0) < budgetMs) {
        System.err.println(s"[bench] ${reason.get} — waiting")
        Thread.sleep(15000L)
        waited = System.currentTimeMillis() - t0
        reason = busy()
      }
      waited / 1000L
    }

    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    // Host-epoch calibration probe (VERDICT r18 item 5): this box has
    // multi-hour speed epochs (byte-identical code measured uniformly
    // ~1.25x slower across a reboot, PERF round-23 item 1), so every
    // cross-round comparison needs a denominator. A fixed-work
    // single-threaded xorshift loop (pure register arithmetic — no
    // alloc, no memory traffic, JIT-stable) timed before each run
    // gives exactly that: calib_ms scales with the epoch, not with
    // the suite's content. ~2 s of work so a transient scheduler
    // blip cannot dominate the reading.
    @volatile var calibBlackhole = 0L
    def calibrate(): Long = {
      val n = 1200000000L
      // untimed warm-up (~2% of the work) so run 1's reading is not
      // inflated by JIT compilation of the loop itself (ADVICE r19):
      // the probe exists as a cross-round denominator, so every
      // invocation must measure the same steady-state code
      var w = 0x9E3779B97F4A7C15L
      var j = 0L
      while (j < n / 50) { w ^= w << 13; w ^= w >>> 7; w ^= w << 17; j += 1 }
      var x = w
      var i = 0L
      val t0 = System.nanoTime()
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      calibBlackhole = x // defeat dead-code elimination
      (System.nanoTime() - t0) / 1000000L
    }

    // loadJson embeds the full trace_1m array (for bench_full.json and
    // stderr); loadJsonCompact carries only summary fields (start/end,
    // waited_sec, calib_ms, trace max/mean/n) for the scored STDOUT
    // line — BENCH_r19.json came back "parsed": null because the full
    // per-run traces pushed the scored line past the driver's ~4 KB
    // stdout tail capture (VERDICT r19 item 1)
    final case class Run(results: Seq[(String, Double, Boolean)], loadJson: String,
        loadJsonCompact: String, calibMs: Long = -1L) {
      def total: Double = results.collect { case (_, v, true) => v }.sum
      def nFailed: Int = results.count(!_._3)
    }

    def runSuite(runIdx: Int): Run = {
      val waitedSec = quietGate(runIdx)
      val calibMs = calibrate()
      val loadStart = loadAvg()
      // Mid-run load trace (VERDICT r18 item 1): the start/end pair is
      // blind to transient co-tenant windows INSIDE a run (a 23 s
      // stalled iteration with gc<=14 ms, run 1 of BENCH_r18 burning
      // 689 s from a 0-load start). A daemon sampler records the 1-min
      // average every ~15 s so a stalled run is legible in the
      // artifact itself, not only by cross-run comparison.
      val trace = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      @volatile var tracing = true
      val tracer = new Thread(() => {
        while (tracing) {
          trace.add(load1())
          try Thread.sleep(15000L) catch { case _: InterruptedException => () }
        }
      }, "bench-load-trace")
      tracer.setDaemon(true)
      tracer.start()
      val spark = LocalSession(LocalSession.cpus)
      // deterministic run order (alphabetical), errors surfaced on stderr
      val results = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => only.forall(_.contains(q._1))).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            false
        }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
      val loadEnd = loadAvg()
      tracing = false
      tracer.interrupt()
      graft.queries.SessionMemo.clear(spark)
      spark.stop()
      val traceVals = {
        import scala.jdk.CollectionConverters._
        trace.asScala.toVector
      }
      val traceJson = traceVals.map(d3).mkString("[", ",", "]")
      val loadJson =
        s"""{"start":"$loadStart","end":"$loadEnd","waited_sec":$waitedSec,"calib_ms":$calibMs,"trace_1m":$traceJson}"""
      // compact per-run load summary for the scored stdout line: the
      // trace collapses to max/mean/n so a stalled run is still
      // legible in the artifact without the array that broke r19's
      // tail capture
      val traceMax = if (traceVals.nonEmpty) traceVals.max else -1.0
      val traceMean =
        if (traceVals.nonEmpty) traceVals.sum / traceVals.size else -1.0
      val loadJsonCompact =
        s"""{"start":"$loadStart","end":"$loadEnd","waited_sec":$waitedSec,"calib_ms":$calibMs,"trace_max":${d3(traceMax)},"trace_mean":${d3(traceMean)},"trace_n":${traceVals.size}}"""
      val run = Run(results, loadJson, loadJsonCompact, calibMs)
      System.err.println(
        s"[bench] run $runIdx: total=${d3(run.total)} failed=${run.nFailed} load=$loadJson")
      run
    }

    var runs = (1 to math.max(1, nRuns)).map(runSuite).toVector
    // the scored run: median total (UPPER-middle on even counts — for
    // 2 runs that is the slower one, so the scored number is never
    // the fastest run; an even count must not bias optimistic,
    // ADVICE r10). Runs with failures sort LAST regardless of
    // total: a failed query contributes 0 s, so its run's total is
    // artificially small and must not win the pick while a fully
    // green sibling exists.
    def pickOf(rs: Vector[Run]): (Run, Int) = {
      val byTotal = rs.zipWithIndex.sortBy { case (r, _) => (r.nFailed, r.total) }
      val nGreen = rs.count(_.nFailed == 0)
      if (nGreen > 0) byTotal(nGreen / 2) else byTotal(byTotal.size / 2)
    }
    // Stall-triggered extra runs (VERDICT r18 item 1): ~1-in-3 runs
    // on this box catch an external stall window that multiplies
    // whatever row is running 5-8x, and with 3 runs TWO stalled runs
    // push the stall into the median pick. Extras run only while the
    // PICK ITSELF is contaminated — its total more than 1.3x the
    // fastest green run (review r19: a raw max/min spread check
    // latches on one stalled run and burns both extras after the
    // median is already secured by a fast majority). Extras reuse
    // the short top-up quiet gate.
    val maxExtra = sys.env.get("SPARK_GRAFT_MAX_EXTRA_RUNS").map(_.toInt).getOrElse(2)
    // denominator = MEDIAN of the non-pick green totals, not the
    // minimum (ADVICE r19): against the min, one anomalously fast
    // green would keep the ratio latched past 1.3x forever and burn
    // both extras even after a sound majority exists; against the
    // median of the others, a lone outlier (fast OR slow) is diluted
    // as soon as two concordant greens agree with the pick. With only
    // 2-3 discordant greens the trigger still fires — correctly, since
    // the samples don't yet identify which one is the truth.
    def pickOutlierRatio(rs: Vector[Run]): Double = {
      val pick = pickOf(rs)._1
      val others = rs.filter(r => r.nFailed == 0 && !(r eq pick)).map(_.total)
      if (others.nonEmpty && pick.nFailed == 0) {
        val s = others.sorted
        val med =
          if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
        if (med > 0) pick.total / med else 1.0
      } else 1.0
    }
    var extra = 0
    while (extra < maxExtra && runs.size >= 2 && pickOutlierRatio(runs) > 1.3) {
      System.err.println(
        f"[bench] scored-run total ${pickOutlierRatio(runs)}%.2fx the median of the other greens (> 1.30x) — running extra run ${runs.size + 1}")
      runs = runs :+ runSuite(runs.size + 1)
      extra += 1
    }

    val (scored, scoredIdx) = pickOf(runs)
    val results = scored.results

    // per-query MEDIANS across the green runs (all runs if none are
    // green): the scored run's total stays the headline "value", but
    // the per-query numbers a reader drills into are medians — one
    // co-tenant spike in the median-total run can no longer
    // masquerade as a slow query (VERDICT r10 "what's wrong" 1).
    def median(vs: Seq[Double]): Double = {
      val s = vs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val greens = runs.filter(_.nFailed == 0)
    val medianSrc = if (greens.nonEmpty) greens else runs
    val medResults: Seq[(String, Double, Boolean)] = results.map { case (name, _, _) =>
      val vs = medianSrc.flatMap(_.results.collect {
        case (`name`, v, true) => v })
      if (vs.nonEmpty) (name, median(vs), true) else (name, -1.0, false)
    }
    val medianSum = medResults.collect { case (_, v, true) => v }.sum

    // The harness captures only the last ~4 KB of stdout; at 250+
    // queries a full per-query map gets its head truncated →
    // unparseable (BENCH_r03 "parsed": null). Stdout therefore
    // carries a compact line — group subtotals plus the slowest 25
    // queries — and the complete per-run maps go to stderr and
    // bench_full.json for diagnostics.
    // one per-query map string per run, shared by the stderr lines,
    // bench_full.json, and the optional full-queries stdout path —
    // the three outputs cannot drift in format
    def fullMapOf(r: Run): String =
      jmap(r.results.map { case (k, v, ok) => k -> (if (ok) d3(v) else "-1") })
    val fullMaps = runs.map(fullMapOf)
    runs.indices.foreach { i =>
      System.err.println(s"[bench-full] run=${i + 1} ${fullMaps(i)}")
    }
    val runsJson = runs.map(r =>
      s"""{"total":${d3(r.total)},"failed":${r.nFailed},"load":${r.loadJsonCompact}}""")
      .mkString("[", ",", "]")
    val medianMap = jmap(medResults.map { case (k, v, ok) =>
      k -> (if (ok) d3(v) else "-1") })
    // run stamp (VERDICT r15 item 7): a byte-identical re-run must be
    // distinguishable from a stale artifact copy — every emitted
    // artifact carries the wall-clock instant it finished
    val stamp = java.time.Instant.now().toString
    // a name-filtered (SPARK_GRAFT_ONLY) probe run must never clobber
    // the committed full-suite artifact
    if (only.isEmpty) try {
      val fullRuns = runs.zip(fullMaps).map { case (r, m) =>
        s"""{"load":${r.loadJson},"queries":$m}"""
      }.mkString("[", ",", "]")
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        s"""{"generated_at":"$stamp","picked":${scoredIdx + 1},"calibration_ms":${scored.calibMs},"queries_median":$medianMap,"runs":$fullRuns}"""
          .getBytes("UTF-8")); ()
    } catch { case _: Throwable => () }

    val groups = medResults.groupBy(_._1.takeWhile(_ != '_')).toSeq.sortBy(_._1)
      .map { case (g, rs) => s"grp_$g" -> d3(rs.collect { case (_, v, true) => v }.sum) }
    val slow = medResults.filter(_._3).sortBy(-_._2).take(25)
      .map { case (k, v, _) => k -> d3(v) }
    val failed = medResults.filter(!_._3).map { case (k, _, _) => k -> "-1" }
    // SPARK_GRAFT_FULL_QUERIES=1: per-query times for EVERY query in
    // the stdout line (for capture paths without the ~4 KB stdout
    // cap); default stays the compact groups+slowest form
    val qs =
      if (sys.env.get("SPARK_GRAFT_FULL_QUERIES").contains("1")) medianMap
      else jmap(groups ++ failed ++ slow)
    // Calibration-normalized headline (VERDICT r19 item 4): the box
    // has multi-hour speed epochs; calib_ms (fixed-work probe, see
    // calibrate()) is the denominator. CALIB_REF_MS = 2300 pins the
    // r19 epoch as the fixed reference, so
    //   value_calib_normalized = value * CALIB_REF_MS / calib_ms
    // is directly comparable across rounds without manual division
    // (PERF.md "variance protocol" references this field).
    val calibRefMs = 2300.0
    val valueNorm =
      if (scored.calibMs > 0) scored.total * calibRefMs / scored.calibMs
      else scored.total
    val medianSumNorm =
      if (scored.calibMs > 0) medianSum * calibRefMs / scored.calibMs
      else medianSum
    // the headline "failed" is the SCORED run's failure count (the
    // run whose total is "value") — a query that failed in every
    // green-source run additionally shows as -1 in the map; counting
    // only the -1 entries would underreport when no run is green.
    // The scored line uses COMPACT load summaries throughout (full
    // trace_1m arrays live in bench_full.json): VERDICT r19 item 1.
    println(s"""{"metric":"total","value":${d3(scored.total)},"unit":"sec","n":${results.size},"failed":${scored.nFailed},"picked_run":${scoredIdx + 1},"query_stat":"per_query_median","median_sum":${d3(medianSum)},"calibration_ms":${scored.calibMs},"calib_ref_ms":${d3(calibRefMs)},"value_calib_normalized":${d3(valueNorm)},"median_sum_calib_normalized":${d3(medianSumNorm)},"generated_at":"$stamp","runs":$runsJson,"load":${scored.loadJsonCompact},"queries":$qs,"sf":"$sfDir"}""")
  }
}
