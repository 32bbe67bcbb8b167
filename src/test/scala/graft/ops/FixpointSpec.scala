package graft.ops

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.{JobProbe, SparkSpec}
import graft.graph.{EdgeOps, Fixpoint, GraphAlgs}

/** The shared fixpoint scaffold: Spark jobs per round of the loops
 * built on it, measured as the job-count difference between a run
 * of r + 1 rounds and a run of r rounds (setup and finish cancel),
 * and the rule that only `Fixpoint` cuts lineage, and only locally. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def perRound(r: Int, count: JobProbe.Counts => Int)(run: Int => Unit): Int =
    count(JobProbe(spark.sparkContext)(run(r + 1))) - count(JobProbe(spark.sparkContext)(run(r)))

  private def jobsPerRound(r: Int)(run: Int => Unit): Int = perRound(r, _.jobs)(run)

  // a path: deep enough that no loop below converges in the rounds
  // it is given (MIS needs 3 rounds on it, DAG levels 60, k-core ~30)
  private val path = (1L until 60L).map(v => (v, v + 1)).toDF("src", "dst")

  test("MIS runs one job per round") {
    assert(jobsPerRound(1) { r =>
      intercept[IllegalArgumentException](GraphAlgs.misDetDF(path, maxIter = r))
    } === 1)
  }

  private def dagLevels(rounds: Int): Unit =
    intercept[IllegalArgumentException](GraphAlgs.dagLevelsDF(path, maxIter = rounds))

  test("DAG levels run one job per round") {
    assert(jobsPerRound(2)(dagLevels) === 1)
  }

  test("DAG levels run one job at round 16 too") {
    assert(jobsPerRound(15)(dagLevels) === 1)
  }

  test("a DAG-level round's job skips as many stages at round 13 as at round 5") {
    // a cut state leaves a round's job nothing of earlier rounds to list
    assert(perRound(4, _.skipped)(dagLevels) === perRound(12, _.skipped)(dagLevels))
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

  test("only Fixpoint cuts lineage, and nothing in main code checkpoints reliably") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val hits = for {
      file <- Files.walk(root).iterator().asScala.toSeq
      if file.toString.endsWith(".scala")
      banned = Seq(".checkpoint(", "getCheckpointDir", "setCheckpointDir") ++
        (if (file.getFileName.toString == "Fixpoint.scala") Nil else Seq(".localCheckpoint("))
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if banned.exists(line.contains)
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("lineage cut outside Fixpoint or reliable checkpoint:\n",
      "\n", ""))
  }
}
