package graft.ops

import graft.SparkSpec
import graft.graph.{EdgeOps, GraphAlgs}
import org.apache.spark.sql.functions._

class Round6Spec extends SparkSpec {

  import spark.implicits._

  // ---- connected components ----------------------------------------

  test("connectedComponentsDF labels each component with its min vertex id") {
    // two components: {1,2,3} path and {10,11} edge
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val cc = GraphAlgs.connectedComponentsDF(EdgeOps.toGraph(edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  // ---- label propagation -------------------------------------------

  test("labelPropagation separates two cliques joined by one bridge") {
    // clique {1,2,3}, clique {10,11,12}, bridge 3-10
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("src", "dst")
    val lab = GraphAlgs.labelPropagationDF(EdgeOps.toGraph(edges), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique converges on one label; the cliques stay distinct
    assert(lab(1L) == lab(2L) && lab(2L) == lab(3L))
    assert(lab(10L) == lab(11L) && lab(11L) == lab(12L))
    assert(lab(1L) != lab(10L))
  }

  test("labelPropagation is deterministic across runs") {
    val edges = (0L until 40L).map(i => (i, (i * 7 + 3) % 40)).filter(e => e._1 != e._2)
      .toDF("src", "dst")
    val g = EdgeOps.toGraph(edges)
    val a = GraphAlgs.labelPropagationDF(g, rounds = 5)
      .orderBy("vid").collect().map(_.toSeq).toSeq
    val b = GraphAlgs.labelPropagationDF(g, rounds = 5)
      .orderBy("vid").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  // ---- weighted SSSP -----------------------------------------------

  test("ssspWeighted relaxes through the cheaper multi-hop path") {
    // 1->3 direct costs 10; 1->2->3 costs 3; undirected semantics
    val edges = Seq((1L, 3L, 10.0), (1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "len")
    val g = EdgeOps.toWeightedGraph(edges)
    val d = GraphAlgs.ssspWeightedDF(g, 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d(1L) == 0.0 && d(2L) == 1.0 && d(3L) == 3.0 && d(4L) == 4.0)
  }

  test("ssspWeighted leaves unreachable vertices out") {
    val edges = Seq((1L, 2L, 1.0), (5L, 6L, 1.0)).toDF("src", "dst", "len")
    val d = GraphAlgs.ssspWeightedDF(EdgeOps.toWeightedGraph(edges), 1L)
      .collect().map(r => r.getLong(0)).toSet
    assert(d == Set(1L, 2L))
  }

  // ---- weighted co-purchase edges ----------------------------------

  test("coPurchaseEdgesWeighted counts co-occurrence multiplicity") {
    val edges = EdgeOps.coPurchaseEdgesWeighted(spark, "/root/testdata/sf0.001")
    val row = edges.agg(min(col("w")), max(col("w")), count(lit(1))).head()
    assert(row.getLong(0) >= 1L)
    assert(row.getLong(1) >= row.getLong(0))
    // backbone is a strict subset
    val nAll = row.getLong(2)
    val nBack = EdgeOps.coPurchaseEdgesWeighted(spark, "/root/testdata/sf0.001", minW = 2).count()
    assert(nBack < nAll)
  }

  // ---- recursive CTE (Spark 4 UnionLoop) ---------------------------

  test("recursive CTE series folds correctly") {
    val r = graft.queries.SqlFunctionQueries.recursiveCte(spark, "").head()
    assert(r.getLong(0) == 100L)
    assert(r.getLong(1) == 5050L)
    assert(r.getLong(2) == 338350L)
  }
}
