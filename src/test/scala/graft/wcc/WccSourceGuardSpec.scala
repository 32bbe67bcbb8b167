package graft.wcc

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards of the WCC core: every block is built from vertices
 * and id pairs ([[RefineState.blocks]]), so no block build reads GraphX
 * triplets, and an IDWCC fold builds no GraphX graph except its
 * graft-back. */
class WccSourceGuardSpec extends AnyFunSuite {

  private def lines(file: String): Seq[(String, Int)] = {
    val path = Paths.get("src/main/scala/graft/wcc", file)
    assert(Files.isRegularFile(path),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    Files.readAllLines(path).asScala.toSeq.zipWithIndex.map { case (l, i) => (l, i + 1) }
  }

  test("no block build reads triplets") {
    // CommunityOps.computeCommunityStats keeps its own: it serves a query row
    val hits = for {
      file <- Seq("RefineState.scala", "InitialPartition.scala", "IncrementalWCC.scala",
        "DistributedWCC.scala", "TriangleStats.scala")
      (line, n) <- lines(file)
      if line.contains(".triplets")
    } yield s"$file:$n: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("triplets in the WCC core:\n", "\n", ""))
  }

  test("IncrementalWCC builds and repartitions a graph only in prepareEdges") {
    val all = lines("IncrementalWCC.scala")
    val start = all.indexWhere(_._1.contains("def prepareEdges("))
    assert(start >= 0, "premise: IncrementalWCC.prepareEdges exists")
    // its body ends at the first line closing at its own indent
    val indent = all(start)._1.takeWhile(_ == ' ')
    val end = all.indexWhere(_._1 == indent + "}", start)
    assert(end > start, "premise: prepareEdges' closing brace")
    val graphBuild = """\bGraph\(|Graph\.fromEdges|partitionBy\(PartitionStrategy""".r
    def comment(line: String) = Seq("*", "/*", "//").exists(line.trim.startsWith)
    val hits = all.zipWithIndex.collect {
      case ((line, n), i) if (i < start || i > end) && !comment(line) &&
          graphBuild.findFirstIn(line).isDefined =>
        s"IncrementalWCC.scala:$n: ${line.trim}"
    }
    assert(hits.isEmpty, hits.mkString("a graph built outside prepareEdges:\n", "\n", ""))
  }
}
