package graft.queries

import graft.SparkSpec
import graft.graph.{EdgeOps, GraphAlgs}

/** The float fixpoints' determinism contract: detFoldSums folds each
 * vertex's contributions in ascending sender-id order, so the DOUBLE
 * results are bit-identical regardless of how the input edges are
 * partitioned — the property that lets g_pagerank /
 * g_eigencentrality carry zero-tolerance DuckDB oracles despite
 * float arithmetic. A reduceByKey(_ + _) sum fails this test: with
 * different partition counts the merge tree changes and last-ulp
 * bits move. */
class FloatDetSpec extends SparkSpec {
  import spark.implicits._

  private def edgeDf(parts: Int) = {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 300).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
    edges.toDF("src", "dst").repartition(parts)
  }

  test("float pagerank is bit-identical across input partitionings") {
    val runs = Seq(1, 3, 7).map { parts =>
      val (r, scope) = GraphAlgs.pagerankFloatRDD(EdgeOps.toGraph(edgeDf(parts)))
      val m = r.collect().toMap
      scope.close()
      m
    }
    // exact Double equality — not a tolerance compare
    assert(runs(0) === runs(1))
    assert(runs(0) === runs(2))
    assert(runs(0).values.forall(v => v > 0.0 && !v.isNaN))
  }

  test("float eigencentrality is bit-identical across input partitionings") {
    val runs = Seq(1, 3, 7).map { parts =>
      val g = GraphAlgs.eigenCentrality(EdgeOps.toGraph(edgeDf(parts)))
      val m = g.vertices.collect().toMap
      g.unpersistVertices(blocking = false)
      g.edges.unpersist(blocking = false)
      m
    }
    assert(runs(0) === runs(1))
    assert(runs(0) === runs(2))
    assert(runs(0).values.max === 1.0) // max-normalized
  }
}
