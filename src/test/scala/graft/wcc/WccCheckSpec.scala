package graft.wcc

import graft.SparkSpec
import graft.graph.EdgeOps

/** The independent DataFrame recompute of a fixed partition's global
 * WCC must agree with the GraphX pipeline's own score — on a
 * hand-computed fixture exactly, on the reference fixture graph to
 * summation-order noise. */
class WccCheckSpec extends SparkSpec {
  import GraphFixtures._
  import spark.implicits._

  private def labelsOf(out: DistributedWCC.Output) =
    spark.createDataFrame(
      out.graph.vertices.map { case (id, vd) => (id, vd.cId) }).toDF("vid", "cid")

  test("triangle plus pendant: recomputed WCC is exactly 3/4") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val out = DistributedWCC.run(graphOf(spark, edges))
    val recomputed = WccCheck.globalWccOfPartition(edges.toDF("src", "dst"), labelsOf(out))
    // members of the triangle each have wcc_v = (tC*vt)/(t*(r-1+vt-vtC))
    // = (1*2)/(1*(3-1+2-2)) = 1; the pendant singleton scores 0 -> 3/4
    assert(recomputed === 0.75)
    assert(math.abs(recomputed - out.bestWcc) <= 1e-12)
  }

  private def recomputeMatchesClaimed(canon: org.apache.spark.sql.DataFrame): Unit = {
    val out = DistributedWCC.run(EdgeOps.toGraph(canon))
    val recomputed = WccCheck.globalWccOfPartition(canon, labelsOf(out))
    assert(out.bestWcc > 0.0)
    assert(math.abs(recomputed - out.bestWcc) <= 1e-9,
      s"recomputed=$recomputed claimed=${out.bestWcc}")
  }

  test("email-Eu-core: recompute matches the claimed bestWcc") {
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    recomputeMatchesClaimed(EdgeOps.canonicalize(raw))
  }

  test(s"${ParityGraph.Name}: recompute matches the claimed bestWcc") {
    recomputeMatchesClaimed(EdgeOps.canonicalize(ParityGraph.load(spark)))
  }

  test("precomputed common-neighbor counts give the identical score") {
    // the session-shared edgeCommonCounts path (used when both the
    // flagship and seeding checks run) must be value-identical to
    // the self-contained recompute
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
    val df = edges.toDF("src", "dst")
    val out = DistributedWCC.run(graphOf(spark, edges))
    val self = WccCheck.globalWccOfPartition(df, labelsOf(out))
    val cnt = WccCheck.edgeCommonCounts(df).cache()
    cnt.count()
    val shared = WccCheck.globalWccOfPartition(df, labelsOf(out),
      precomputedCnt = Some(cnt))
    cnt.unpersist(blocking = false)
    assert(shared === self)
  }

  test("precomputed triangle rows give the identical score") {
    // the session-shared triangleRows path (the second
    // label-independent stage both _wcc_check rows reuse) must be
    // value-identical to the self-contained recompute
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (2L, 4L))
    val df = edges.toDF("src", "dst")
    val out = DistributedWCC.run(graphOf(spark, edges))
    val self = WccCheck.globalWccOfPartition(df, labelsOf(out))
    val triangles = WccCheck.triangleRows(df).cache()
    // one row per distinct triangle, canonically ordered
    assert(triangles.count() > 0)
    assert(triangles.where("src >= dst or dst >= w").count() === 0)
    assert(triangles.distinct().count() === triangles.count())
    val shared = WccCheck.globalWccOfPartition(df, labelsOf(out),
      precomputedTriangles = Some(triangles))
    triangles.unpersist(blocking = false)
    assert(shared === self)
  }

  test("precomputed tvt gives the identical score") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (2L, 4L))
    val df = edges.toDF("src", "dst")
    val out = DistributedWCC.run(graphOf(spark, edges))
    val self = WccCheck.globalWccOfPartition(df, labelsOf(out))
    val cnt = WccCheck.edgeCommonCounts(df).cache()
    val tvt = WccCheck.vertexTvt(cnt).cache()
    tvt.count()
    val shared = WccCheck.globalWccOfPartition(df, labelsOf(out),
      precomputedCnt = Some(cnt), precomputedTvt = Some(tvt))
    cnt.unpersist(blocking = false)
    tvt.unpersist(blocking = false)
    assert(shared === self)
  }

  private def detRecomputeShared(canon: org.apache.spark.sql.DataFrame): Unit = {
    val out = DistributedWCC.run(EdgeOps.toGraph(canon))
    val self = WccCheck.globalWccOfPartitionDet(canon, labelsOf(out))
    val cnt = WccCheck.edgeCommonCounts(canon).cache()
    val triangles = WccCheck.triangleRows(canon).cache()
    val tvt = WccCheck.vertexTvt(cnt).cache()
    val shared = WccCheck.globalWccOfPartitionDet(canon, labelsOf(out),
      precomputedCnt = Some(cnt), precomputedTriangles = Some(triangles),
      precomputedTvt = Some(tvt))
    Seq(cnt, triangles, tvt).foreach(_.unpersist(blocking = false))
    // bit-identical: the det fold and every intermediate integer are
    // unchanged by stage sharing
    assert(java.lang.Double.doubleToLongBits(shared) ===
      java.lang.Double.doubleToLongBits(self))
  }

  test("email-Eu-core: det recompute is identical with and without precomputed stages") {
    val raw = EdgeOps.loadCsvEdges(spark, "/root/reference/test_graph.csv")
    detRecomputeShared(EdgeOps.canonicalize(raw))
  }

  test(s"${ParityGraph.Name}: det recompute is identical with and without precomputed stages") {
    detRecomputeShared(EdgeOps.canonicalize(ParityGraph.load(spark)))
  }
}
