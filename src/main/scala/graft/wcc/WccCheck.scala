package graft.wcc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Independent recomputation of the global WCC of a FIXED partition,
 * from nothing but the emitted (vid, cid) labels and the raw
 * canonical edge list — pure DataFrame joins + the native sorted
 * merge-scan intersection, sharing NO code with the GraphX pipeline
 * that produced the partition (`RefineState`).
 *
 * Once the partition is fixed the metric is closed-form (reference
 * `DistributedWCC.scala:422-460` + `WCCMetric.scala:16-21`):
 *
 *   WCC(P) = (1/|V|) * sum over v of wcc_v, where
 *   wcc_v = 0                                   if t(v) = 0
 *         = (tC * vt) / (t * (r - 1 + vt - vtC)) otherwise,
 *
 * with t/vt the FULL-graph triangle count / triangle-neighbor count
 * of v, and tC/vtC the intra-community triangle count / neighbor
 * count over the TRIANGLE-PRUNED edge set (edges closing >= 1
 * triangle — the preprocessing prune both engines apply), r the
 * member count of v's community, |V| the original vertex count.
 *
 * `g_wcc_partition_wcc_check` runs this against the flagship DWCC
 * output and certifies |recomputed - claimed bestWcc| <= 1e-9: a bug
 * anywhere in the iterative machinery (stats accounting, movement
 * bookkeeping, caching) that corrupted either the labels or the
 * claimed score would flip the boolean and fail the driver's hash
 * gate. Tolerance only covers summation-order float noise.
 */
object WccCheck {

  /** Per canonical edge, the common-neighbor count in the full graph
   * — the expensive shared stage of the WCC value checks, exposed so
   * a session running BOTH the flagship and the seeding check pays
   * it once (still computed by this independent DataFrame path only,
   * never taken from the GraphX pipeline under test). */
  /** Shared scaffold of the two label-independent stages: per
   * canonical edge, both endpoints' sorted full-graph neighbor
   * arrays (adjacency sorted for the merge-scan intersection). */
  private def edgeNbrJoin(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val adj = sym.groupBy("src").agg(sort_array(collect_list("dst")).as("nbrs"))
    edges
      .join(adj.select(col("src").as("ea"), col("nbrs").as("na")), col("src") === col("ea"))
      .join(adj.select(col("src").as("eb"), col("nbrs").as("nb")), col("dst") === col("eb"))
      .select(col("src"), col("dst"), col("na"), col("nb"))
  }

  private def cntProjection(joined: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions.intersectCount
    joined.select(col("src"), col("dst"),
      intersectCount(col("na"), col("nb")).as("cnt"))
  }

  private def trianglesProjection(joined: DataFrame): DataFrame =
    joined.select(col("src"), col("dst"),
      explode(array_intersect(col("na"), col("nb"))).as("w"))
      .where(col("w") > col("dst"))

  def edgeCommonCounts(edges: DataFrame): DataFrame =
    cntProjection(edgeNbrJoin(edges))

  /** Both label-independent stages off ONE adjacency build: the
   * edge/neighbor join (symmetrize + collect_list + two joins — the
   * expensive scaffold) is materialized once, both projections are
   * cached and counted, and the scaffold is dropped. A session
   * memoizing [[edgeCommonCounts]] and [[triangleRows]] separately
   * would pay the scaffold twice. */
  def sharedStages(edges: DataFrame): (DataFrame, DataFrame) = {
    val j = edgeNbrJoin(edges).cache()
    val cnt = cntProjection(j).cache()
    cnt.count()
    val triangles = trianglesProjection(j).cache()
    triangles.count()
    j.unpersist(blocking = false)
    (cnt, triangles)
  }

  /** DISTINCT triangles of the canonical edge set, one row
   * (src, dst, w) with src < dst < w per triangle: the canonical
   * edges have src < dst, so of a triangle {a < b < c}'s three
   * incidence rows — (a,b,c), (a,c,b), (b,c,a) — exactly the first
   * satisfies w > dst. Like [[edgeCommonCounts]] this is
   * label-INDEPENDENT, so a session checking SEVERAL partitions of
   * the same graph (the flagship and seeding `_wcc_check` rows)
   * enumerates triangles once; each partition's intra-community
   * triangle counts then cost three hash joins of its labels against
   * ONE row per triangle (a third of the incidence-row join volume)
   * instead of a fresh same-community adjacency build + intersection
   * pass per partition. */
  def triangleRows(edges: DataFrame): DataFrame =
    trianglesProjection(edgeNbrJoin(edges))

  /** Per-vertex full-graph (t, vt) from an [[edgeCommonCounts]]
   * result — the remaining label-INDEPENDENT stage of the check
   * (each triangle at v is seen by its two incident edges, hence the
   * /2), exposed so sessions checking several partitions aggregate
   * it once. */
  def vertexTvt(cnt: DataFrame): DataFrame =
    cnt.select(col("src").as("vid"), col("cnt"))
      .union(cnt.select(col("dst").as("vid"), col("cnt")))
      .groupBy("vid")
      .agg((sum("cnt") / 2).cast("long").as("t"),
        sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("vt"))

  /** Global WCC of the partition `labels` (vid, cid) over the graph
   * given by canonical undirected `edges` (src < dst, distinct, no
   * self-loops). Every vertex of the graph must be labeled, once
   * (vid-unique — the per-vertex joins and community sizes assume
   * it). `precomputedCnt` takes an [[edgeCommonCounts]] result
   * computed earlier in the session (it must be for the SAME edge
   * set); `precomputedTriangles` likewise a [[triangleRows]] result;
   * `precomputedTvt` a [[vertexTvt]] of the same counts. */
  def globalWccOfPartition(edges: DataFrame, labels: DataFrame,
      precomputedCnt: Option[DataFrame] = None,
      precomputedTriangles: Option[DataFrame] = None,
      precomputedTvt: Option[DataFrame] = None): Double =
    globalWccOfPartitionImpl(edges, labels, precomputedCnt,
      precomputedTriangles, precomputedTvt, det = false)

  /** [[globalWccOfPartition]] with a DETERMINISTIC summation: the
   * per-vertex wcc terms fold in ascending-vid order within
   * 65536-id blocks, then the block sums fold in ascending-block
   * order — the same two-level discipline as
   * [[IncrementalWCC.detGlobalCC]], and bit-reproducible across
   * partitionings. Every per-vertex term is one correctly-rounded
   * IEEE division of exact integer products, so the whole value is
   * bit-identical to the DuckDB oracle's replay of the same fold
   * (list_reduce over list(... ORDER BY vid/blk)) — letting the
   * `_wcc_check` rows hash-compare the VALUE, not just a stated
   * boolean. Block sums collect to the driver: O(maxId / 2^16)
   * doubles. */
  def globalWccOfPartitionDet(edges: DataFrame, labels: DataFrame,
      precomputedCnt: Option[DataFrame] = None,
      precomputedTriangles: Option[DataFrame] = None,
      precomputedTvt: Option[DataFrame] = None): Double =
    globalWccOfPartitionImpl(edges, labels, precomputedCnt,
      precomputedTriangles, precomputedTvt, det = true)

  private def globalWccOfPartitionImpl(edges: DataFrame, labels: DataFrame,
      precomputedCnt: Option[DataFrame],
      precomputedTriangles: Option[DataFrame],
      precomputedTvt: Option[DataFrame], det: Boolean): Double = {

    // self-contained path (no precomputed inputs): both stages derive
    // from ONE cached edge/neighbor join, so the full-graph adjacency
    // is built once per call rather than once per stage
    val sharedJoin =
      if (precomputedCnt.isEmpty && precomputedTriangles.isEmpty)
        Some(edgeNbrJoin(edges).cache())
      else None
    val cntShared = precomputedCnt.isDefined
    val cnt = precomputedCnt.getOrElse(
      sharedJoin.map(cntProjection).getOrElse(edgeCommonCounts(edges)).cache())

    // full-graph (t, vt) per vertex — label-independent, so sessions
    // checking several partitions pass it precomputed
    val tvt = precomputedTvt.getOrElse(vertexTvt(cnt))

    // triangle prune + community decoration of the surviving edges
    val prunedSame = cnt.where(col("cnt") > 0)
      .join(labels.select(col("vid").as("src"), col("cid").as("cs")), "src")
      .join(labels.select(col("vid").as("dst"), col("cid").as("cd")), "dst")
      .where(col("cs") === col("cd"))
      .select(col("src"), col("dst"))

    // vtC: same-community pruned-graph degree
    val vtc = prunedSame.select(col("src").as("vid"))
      .union(prunedSame.select(col("dst").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("vtc"))

    // tC: intra-community triangles = distinct full-graph triangles
    // whose three vertices share a label. Equivalent to counting in
    // the same-community pruned subgraph: a triangle's edges each
    // close >= 1 triangle (so all survive the prune), and label
    // equality across its three vertices is exactly cs = cd = cw.
    // Each surviving triangle credits each of its three vertices
    // once — the same integer the incidence-row formulation's
    // endpoint-count/2 produced.
    val trianglesShared = precomputedTriangles.isDefined
    val triangles = precomputedTriangles.getOrElse(
      sharedJoin.map(trianglesProjection).getOrElse(triangleRows(edges)).cache())
    val sameTriangles = triangles
      .join(labels.select(col("vid").as("src"), col("cid").as("cs")), "src")
      .join(labels.select(col("vid").as("dst"), col("cid").as("cd")), "dst")
      .join(labels.select(col("vid").as("w"), col("cid").as("cw")), "w")
      .where(col("cs") === col("cd") && col("cd") === col("cw"))
      .select(col("src"), col("dst"), col("w"))
    val tc = sameTriangles
      .select(explode(array(col("src"), col("dst"), col("w"))).as("vid"))
      .groupBy("vid").agg(count(lit(1)).as("tc"))

    val r = labels.groupBy("cid").agg(count(lit(1)).as("r"))
    val n = labels.count()

    val perVertex = labels
      .join(tvt, Seq("vid"), "left")
      .join(vtc, Seq("vid"), "left")
      .join(tc, Seq("vid"), "left")
      .join(r, Seq("cid"))
      .select(col("vid"),
        when(col("t").isNull || col("t") === 0L, lit(0.0))
          .otherwise(
            (coalesce(col("tc"), lit(0L)) * col("vt")).cast("double") /
              (col("t") * (col("r") - 1L + col("vt") - coalesce(col("vtc"), lit(0L))))
                .cast("double"))
          .as("wcc_v"))
    val total =
      if (!det) perVertex.agg(sum("wcc_v")).head().getDouble(0)
      else {
        // blocked ascending-vid left fold (see globalWccOfPartitionDet)
        val blockSums = perVertex
          .groupBy(expr("vid div 65536").as("blk"))
          .agg(expr("aggregate(array_sort(collect_list(struct(vid, wcc_v)))," +
            " cast(0.0 as double), (acc, x) -> acc + x.wcc_v)").as("bsum"))
          .collect()
          .map(row => (row.getLong(0), row.getDouble(1)))
          .sortBy(_._1)
        var s = 0.0; var i = 0
        while (i < blockSums.length) { s += blockSums(i)._2; i += 1 }
        s
      }
    if (!cntShared) cnt.unpersist(blocking = false)
    if (!trianglesShared) triangles.unpersist(blocking = false)
    sharedJoin.foreach(_.unpersist(blocking = false))
    total / n
  }
}
