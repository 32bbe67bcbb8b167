package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.wcc.IncrementalWCC

/** The benchmark at small scale: every declared metric is printed with
 * its declared unit, the output checks pass, and the write-path
 * micro-batch window takes the incremental delta-flag path. */
class BenchSelfSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work: Path = Paths.get("target", "selftest").toAbsolutePath
  private var spark: SparkSession = _

  private var runs = 0

  /** a fresh work directory per run; one state directory for all */
  private def opts(workload: String, trace: Boolean) = {
    runs += 1
    Main.Opts(workload, seed = 3L, seconds = 0.0, trace = trace,
      work = work.resolve(s"work-$runs"), state = work.resolve("state"),
      scale = Scale.small, cores = 2)
  }

  override def beforeAll(): Unit = {
    if (Files.exists(work))
      Files.walk(work).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    spark = Main.session(opts("dwcc_copurchase", trace = false))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** (name, unit) of a metric list in BENCHMARK.json */
  private def declared(key: String): Seq[(String, String)] = {
    val root = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)
    root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  private def runOk(workload: String, trace: Boolean): Main.Result = {
    val o = opts(workload, trace)
    val r = Main.run(spark, o, Main.workload(o))
    assert(r.correct, r.notes.toMap.get("problems"))
    assert(r.failed == 0)
    assert(r.attempted >= Main.MinOps)
    r
  }

  for (w <- Main.Workloads) {
    test(s"$w prints every end-to-end metric with its unit, and its checks pass") {
      val r = runOk(w, trace = false)
      assert(r.metrics.map(m => (m._1, m._3)) == declared("end_to_end"))
      r.metrics.foreach(m => assert(m._2 > 0.0, m._1))
    }
    test(s"$w traced prints every per-layer metric with its unit") {
      val r = runOk(w, trace = true)
      assert(r.metrics.map(m => (m._1, m._3)) == declared("per_layer"))
    }
  }

  test("a second run of the same seed reproduces every fingerprint") {
    runOk("idwcc_microbatch", trace = false)
    runOk("dwcc_copurchase", trace = false)
  }

  test("the idwcc_microbatch window takes the delta-flag path at benchmark scale") {
    val o = opts("idwcc_microbatch", trace = false).copy(scale = Scale.bench)
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext, "delta", traced = false),
      o.scale, o.seed, o.work, new Agreement(work.resolve("delta-agree.tsv")))
    val w = new Idwcc(ctx)
    w.setup(1)
    val batch = spark.sparkContext.parallelize(w.current.batch.toSeq, 2)
    assert(batch.count() > 0)
    val next = IncrementalWCC.run(w.current.state, batch, expectDeltaPath = true)
    assert(next.graph.vertices.count() > 0)
    ctx.releaseAll()
  }
}
