package graft.wcc

import graft.graph.{EdgeOps, Fixpoint}
import org.apache.spark.graphx._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * DEV TOOL (test scope, not part of the library): dumps every
 * intermediate stage of the IDWCC micro-batch replay
 * (`IncrementalWCC.testStream`, single batch) to parquet so the
 * DuckDB oracle replay for `g_wcc_incremental` can be validated
 * stage by stage against the distributed pipeline.
 *
 * Usage: sbt "Test/runMain graft.wcc.IncrDump <sfDir> <outDir>"
 */
object IncrDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val canon = EdgeOps.coPurchaseEdges(spark, sfDir).cache()
    val maxVertex = canon.agg(max(greatest(col("src"), col("dst")))).head().getLong(0)
    val split = math.floor(maxVertex * 0.8)
    val edgeRdd = canon.select(col("src").cast("long"), col("dst").cast("long")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1)).cache()
    val bulk = edgeRdd.filter(e => e.srcId < split && e.dstId < split)
    val stream = edgeRdd.filter(e => e.srcId >= split || e.dstId >= split)

    val state = IncrementalWCC.prepare(
      Graph.fromEdges(bulk, 0).partitionBy(PartitionStrategy.EdgePartition2D))
    state.graph.vertices.map { case (id, vd) => (id, vd.t, vd.vt, vd.cId) }
      .toDF("vid", "t", "vt", "cid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/bulk_state")

    // the dump's caches live until the session stops
    val (m, scope) = Fixpoint.scoped(IncrementalWCC.merge(state, stream, _))
    m.vertices.map { case (id, vd) => (id, vd.t, vd.vt, vd.cId) }
      .toDF("vid", "t", "vt", "cid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/merged_stats")
    // hoist to locals: the movement closure below must not capture
    // `m` itself (MergeResult now carries a non-serializable future)
    val globalCC = m.globalCC
    val vertexCount = m.vertexCount
    println(s"DUMP split=$split vertexCount=$vertexCount " +
      s"globalCC=$globalCC bits=${java.lang.Double.doubleToLongBits(globalCC)}")

    val seed = IncrementalWCC.performInitialPartition(m, None, scope)
    seed.labels.toDF("vid", "cid").coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/core_seed")
    val coreEdges = seed.blocks.flatMap { case (_, b) =>
      (0 until b.adj.n).iterator.flatMap { i =>
        (b.adj.offs(i) until b.adj.offs(i + 1)).iterator.map(j => b.adj.nbrs(j))
          .filter(_ > b.adj.ids(i)).map(v => Edge(b.adj.ids(i), v, 1))
      }
    }
    val init = Graph(seed.vertices, coreEdges)
    init.edges.map(e => (e.srcId, e.dstId))
      .toDF("src", "dst").distinct()
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/core_edges")

    // fixed-5 refinement, one dump per iteration (Map form — value-
    // identical to refinePartition's vertex-block form)
    var g = init
    for (it <- 1 to 5) {
      val deg = CommunityOps.vertexCommunityDegrees(g); deg.cache()
      val cs = CommunityOps.computeCommunityStats(g)
      val bStats = g.vertices.sparkContext.broadcast(cs)
      val moved = g.outerJoinVertices(deg) { (_, vd, degOpt) =>
        degOpt match {
          case Some(d) =>
            ReferenceEval.bestMovement(vd, d, bStats.value, globalCC, vertexCount)
          case None => vd
        }
      }
      moved.cache()
      moved.vertices.map { case (id, vd) => (id, vd.cId) }
        .toDF("vid", "cid").coalesce(1).write.mode("overwrite").parquet(s"$outDir/iter$it")
      g = moved
    }

    // probe-final: iter5 grafted onto the bulk universe
    state.graph.outerJoinVertices(g.vertices) { (id, _, o) =>
      o.getOrElse(VertexData(id, 0, 0, id))
    }.vertices.map { case (id, vd) => (id, vd.cId) }
      .toDF("vid", "cid").coalesce(1).write.mode("overwrite").parquet(s"$outDir/probe_final")

    // cross-check: the genuine testStream path end to end
    IncrementalWCC.testStream(spark, canon)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/final_labels")
    spark.stop()
  }
}
