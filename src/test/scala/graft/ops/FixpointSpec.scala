package graft.ops

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.{JobProbe, SparkSpec}
import graft.graph.{EdgeOps, Fixpoint, GraphAlgs}

/** The shared fixpoint scaffold: Spark jobs per round of the loops
 * built on it, measured as the job-count difference between a run
 * of r + 1 rounds and a run of r rounds (setup and finish cancel),
 * and the rule that only `Fixpoint` cuts lineage under graft/graph
 * and graft/wcc. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def jobsPerRound(r: Int)(run: Int => Unit): Int =
    JobProbe(spark.sparkContext)(run(r + 1)).jobs - JobProbe(spark.sparkContext)(run(r)).jobs

  // a path: deep enough that no loop below converges in the rounds
  // it is given (MIS needs 3 rounds on it, DAG levels 60, k-core ~30)
  private val path = (1L until 60L).map(v => (v, v + 1)).toDF("src", "dst")

  test("MIS runs one job per round") {
    assert(jobsPerRound(1) { r =>
      intercept[IllegalArgumentException](GraphAlgs.misDetDF(path, maxIter = r))
    } === 1)
  }

  test("DAG levels run one job per round") {
    assert(jobsPerRound(2) { r =>
      intercept[IllegalArgumentException](GraphAlgs.dagLevelsDF(path, maxIter = r))
    } === 1)
  }

  test("det eigencentrality runs one job per round") {
    val adj = GraphAlgs.adjacencyArrays(path).persist()
    adj.count()
    assert(jobsPerRound(2) { r =>
      val (x, scope) = GraphAlgs.eigenCentralityDetRDD(adj, rounds = r)
      x.count()
      scope.close()
    } === 1)
    adj.unpersist(blocking = false)
  }

  test("det HITS runs one job per half-round") {
    val edges = path.as[(Long, Long)].rdd
    assert(jobsPerRound(2) { r =>
      GraphAlgs.hitsDetRDD(edges, rounds = r)._3.close()
    } === 2)
  }

  test("det eigencentrality and HITS keep only the last round's raw sums cached") {
    val sc = spark.sparkContext
    def heldBy(run: => Fixpoint.CacheScope): Int = {
      val before = sc.getPersistentRDDs.keySet
      val scope = run
      val held = (sc.getPersistentRDDs.keySet -- before).size
      scope.close()
      held
    }
    val adj = GraphAlgs.adjacencyArrays(path).persist()
    adj.count()
    // after round 3: round 3's raw sums, under the returned view
    assert(heldBy {
      val (x, scope) = GraphAlgs.eigenCentralityDetRDD(adj, rounds = 3)
      x.count()
      scope
    } === 1)
    adj.unpersist(blocking = false)
    // after round 3: the two adjacencies and round 3's two raw sums
    assert(heldBy(GraphAlgs.hitsDetRDD(path.as[(Long, Long)].rdd, rounds = 3)._3) === 4)
  }

  test("k-core runs one job per round") {
    val g = EdgeOps.toGraph(path)
    assert(jobsPerRound(3) { r => GraphAlgs.corenessDF(g, maxIter = r).count() } === 1)
  }

  test("only Fixpoint cuts lineage under graft/graph and graft/wcc") {
    val roots = Seq("src/main/scala/graft/graph", "src/main/scala/graft/wcc").map(Paths.get(_))
    roots.foreach(root => assert(Files.isDirectory(root),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})"))
    val hits = for {
      root <- roots
      file <- Files.walk(root).iterator().asScala.toSeq
      if file.toString.endsWith(".scala") && file.getFileName.toString != "Fixpoint.scala"
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if Seq("getCheckpointDir", ".checkpoint()", ".localCheckpoint(").exists(line.contains)
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("lineage cut outside Fixpoint:\n", "\n", ""))
  }
}
