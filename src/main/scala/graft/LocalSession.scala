package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession the run mains (Bench, Verify, PlanDump,
 * ScaleProbe) build, so that they all measure the same engine. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, defaulting to every core: a small default
   * would quietly run at a fraction of the machine. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.adaptive.enabled", "true")
      // events.ts is parquet TIMESTAMP(NANOS); Spark reads it as Long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    spark
  }
}
