package graft

/** Dev tool (optimization rounds): dump `.explain("formatted")` for a
  * named set of queries to plans/<tag>/<query>_<suffix>.txt — the
  * before/after plan evidence the optimization deliverables require.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...
  *
  * Each query is EXECUTED first (count) so AQE finalizes and the dump
  * carries the final plan (AQEShuffleRead nodes, chosen join
  * strategies) rather than `isFinalPlan=false`; the executed plan is
  * then rendered in formatted mode. RDD-backed surfaces (the GraphX /
  * deterministic-fixpoint families) show as a scan of an existing RDD
  * — their evidence is the gated phase logs + code, noted in
  * OPTIMIZATION_r20.md.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, namesCsv) = args.take(4)
    val names = namesCsv.split(",").toSeq
    val spark = LocalSession(LocalSession.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      // run the frame's OWN executed plan (count()/foreach()/rdd all
      // spawn DERIVED query executions and leave df's top-level
      // AdaptiveSparkPlan un-finalized — the dump would show only the
      // initial plan); executing the AdaptiveSparkPlanExec instance
      // itself finalizes it in place
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), formatted)
      System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    graft.queries.SessionMemo.clear(spark)
    spark.stop()
  }
}
