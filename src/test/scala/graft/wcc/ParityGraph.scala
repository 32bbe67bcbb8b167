package graft.wcc

import graft.graph.EdgeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/**
 * The in-repo parity fixture: a seeded Holme–Kim graph (preferential
 * attachment with triad formation — heavy-tailed degrees, many
 * triangles) of ~1k vertices and ~16k edges, the same size class as
 * email-Eu-core. Ids are a seeded permutation of 0 until [[N]], so the
 * IDWCC id split cuts across old and young vertices alike.
 *
 * The committed edge list under `src/test/resources` is this
 * generator's output (pinned by ParityGraphSpec). Regenerate with
 * `sbt "Test/runMain graft.wcc.ParityGraph src/test/resources/graft/wcc/parity_graph.txt"`.
 */
object ParityGraph {
  val Name = "holme-kim-1k"
  val N = 1000
  val M = 16
  val TriadProb = 0.8
  val Seed = 1411L
  val Resource = "/graft/wcc/parity_graph.txt"

  /** Canonical (src < dst) undirected edges, sorted. */
  def edges(): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(Seed)
    val adj = Array.fill(N)(mutable.ArrayBuffer.empty[Int])
    val linked = Array.fill(N)(mutable.HashSet.empty[Int])
    // every edge endpoint once: uniform draws are degree-proportional
    val ends = mutable.ArrayBuffer.empty[Int]
    def link(u: Int, v: Int): Unit = {
      adj(u) += v; adj(v) += u; linked(u) += v; linked(v) += u
      ends += u; ends += v
    }
    for (i <- 0 to M; j <- i + 1 to M) link(i, j)
    for (v <- M + 1 until N) {
      var anchor = -1
      var added = 0
      while (added < M) {
        val triad = anchor >= 0 && rnd.nextDouble() < TriadProb
        val u =
          if (triad) adj(anchor)(rnd.nextInt(adj(anchor).size))
          else ends(rnd.nextInt(ends.size))
        if (u != v && !linked(v).contains(u)) {
          link(v, u)
          if (!triad) anchor = u
          added += 1
        }
      }
    }
    val perm = (0 until N).toArray
    for (i <- N - 1 until 0 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    (0 until N).flatMap(u => adj(u).filter(u < _).map { v =>
      val (a, b) = (perm(u).toLong, perm(v).toLong)
      if (a < b) (a, b) else (b, a)
    }).sorted
  }

  /** The committed edge list as raw (src, dst) rows, loaded the way
   * the email-Eu-core cases load theirs. */
  def load(spark: SparkSession): DataFrame =
    EdgeOps.loadCsvEdges(spark, getClass.getResource(Resource).getPath)

  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args(0))
    try edges().foreach { case (u, v) => out.println(s"$u $v") }
    finally out.close()
  }
}

class ParityGraphSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("committed parity fixture is the seeded generator's output") {
    val src = scala.io.Source.fromURL(getClass.getResource(ParityGraph.Resource))
    val committed = try src.getLines().map { l =>
      val Array(u, v) = l.split(' '); (u.toLong, v.toLong)
    }.toSeq finally src.close()
    assert(committed === ParityGraph.edges())
    // the shape the parity checks rely on: ~1k vertices, ~16k edges,
    // a heavy degree tail and plenty of triangles
    val deg = committed.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).map(_._2.size)
    assert(deg.size === ParityGraph.N)
    assert(committed.size > 15000 && committed.size < 17000)
    assert(deg.max > 5 * committed.size * 2 / deg.size)
  }
}
