package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.graph.EdgeOps
import graft.queries.GraphQueries
import graft.wcc._

/** Input sizes of the workloads. */
final case class Scale(name: String, orders: Long, parts: Long)

object Scale {
  /** 1,500 orders over 1,500 parts: a ~12k-edge co-purchase graph,
   * sparse enough that the batch refine loop runs several iterations
   * and that a micro-batch of a one-vertex window stays under the
   * library's delta-flag volume gate
   * (`IncrementalWCC.DeltaFlagMaxVolumeFraction`), so batches take the
   * incremental path as they do at sf0.1 */
  val bench = Scale("bench", orders = 1500L, parts = 1500L)
  /** self-test size */
  val small = Scale("small", orders = 1200L, parts = 240L)
}

/** One timed operation: `run` is timed, `check` (untimed) verifies
 * its output, records outcome counts and releases what it cached. */
trait Op {
  def run(): Unit
  def check(): Seq[String]
}

trait Workload {
  /** set-up rounds per run; `setup_s` is their median */
  def setupRounds: Int
  /** One set-up round: generate the inputs (and, on the write path,
   * prepare the bulk state). The last round's products are used. */
  def setup(round: Int): Unit
  /** untimed checks of the last set-up round */
  def checkSetup(): Seq[String] = Nil
  /** operation i: 0 is the untimed warm-up, the timed ones count from 1 */
  def op(i: Int): Op
  /** checks run once after the timed part */
  def finalCheck(): Seq[String] = Nil
}

/** Order-independent partition fingerprint: (vertex count, community
 * count, wrapping sum of a 64-bit mix of each (vid, cid)). */
final case class Fingerprint(vertices: Long, communities: Long, hash: Long) {
  def show: String = s"$vertices/$communities/${java.lang.Long.toHexString(hash)}"
}

object Fingerprint {
  private def mix(v: Long, c: Long): Long = {
    var z = v * 0x9E3779B97F4A7C15L + c
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def of(labels: RDD[(VertexId, VertexId)]): Fingerprint = {
    val (n, h) = labels.map { case (v, c) => (1L, mix(v, c)) }
      .fold((0L, 0L)) { case ((a, x), (b, y)) => (a + b, x + y) }
    Fingerprint(n, labels.map(_._2).distinct().count(), h)
  }
}

final class Ctx(val spark: SparkSession, val tracer: Tracer, val scale: Scale,
    val seed: Long, val workDir: java.nio.file.Path, val agreement: Agreement) {
  def sc: SparkContext = spark.sparkContext
  def layer[T](name: String)(f: => T): T = tracer.layer(name)(f)
  private val firstOf = mutable.HashMap.empty[String, String]

  /** Compare an output fingerprint with the value recorded for seed 0,
   * with every earlier run of this seed in this checkout, and with the
   * first value of the same key in this run. */
  def expect(key: String, value: String): Seq[String] =
    Recorded.check(scale.name, seed, key, value) ++ agreement.check(key, value) ++
      sameInRun(key, value, _ == _)

  /** [[expect]] for a floating value, equal within [[Ctx.close]] */
  def expectClose(key: String, value: Double): Seq[String] =
    Recorded.checkClose(scale.name, seed, key, value) ++ agreement.checkClose(key, value) ++
      sameInRun(key, value.toString, (a, b) => Ctx.close(a.toDouble, b.toDouble))

  private def sameInRun(key: String, value: String, eq: (String, String) => Boolean) = {
    val first = firstOf.getOrElseUpdate(key, value)
    if (eq(first, value)) Nil else Seq(s"$key: $value differs from this run's first $first")
  }

  /** drop every cached DataFrame and RDD */
  def releaseAll(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def inputDir(round: Int): String = workDir.resolve(s"input-$round").toString
}

object Ctx {
  /** The partition is exactly reproducible; its WCC, a floating sum
   * over partitions, only to rounding. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(a))
}

/**
 * Batch DWCC from raw edges to a materialized partition: ingest
 * (co-purchase pair counting over the lineitem table), graph build,
 * triangle stats and prune, seeding, seed evaluation and refinement —
 * the call sequence of the library's `g_wcc_partition` row, each call
 * materialized inside its own layer span.
 */
final class Dwcc(c: Ctx) extends Workload {
  import c.{layer, spark}
  /** a round is one small parquet write: cheap, so take more of them */
  val setupRounds = 5
  private var dir: String = _
  private var last: Option[(Array[(VertexId, VertexId)], Double)] = None

  def setup(round: Int): Unit = {
    dir = c.inputDir(round)
    Inputs.lineitem(spark, c.scale.orders, c.scale.parts, c.seed)
      .write.parquet(s"$dir/lineitem.parquet")
  }

  /** op 0 and the timed ops run on the same input; only the warm-up's
   * check keys differ */
  def op(i: Int): Op = new Op {
    private val key = if (i == 0) "warmup-" else ""
    var g: Graph[Int, Int] = _
    var tri: TriangleStats.Result = _
    var init: Graph[VertexData, Int] = _
    var out: DistributedWCC.Output = _

    def run(): Unit = {
      val (df, nEdges) = layer("EdgeOps.coPurchaseEdgesWeighted") {
        val df = EdgeOps.coPurchaseEdgesWeighted(spark, dir)
          .select(col("src"), col("dst")).cache()
        (df, df.count())
      }
      c.tracer.outcome("EdgeOps.coPurchaseEdgesWeighted", "edges_out", nEdges.toDouble)
      val nVertices = layer("EdgeOps.toGraph") {
        g = EdgeOps.toGraph(df, GraphQueries.partsFor(df.rdd.getNumPartitions, nEdges))
        g.cache()
        g.numVertices
      }
      tri = layer("TriangleStats.run")(TriangleStats.run(g))
      init = layer("InitialPartition.run")(InitialPartition.run(tri.pruned))
      val seedEval = layer("DistributedWCC.seedEvaluation")(
        DistributedWCC.seedEvaluation(init, nVertices))
      out = layer("DistributedWCC.run") {
        val o = DistributedWCC.run(g, precomputedStats = Some(tri),
          precomputedInit = Some(init), precomputedSeedEval = Some(seedEval))
        o.graph.cache()
        o.graph.vertices.count()
        o
      }
    }

    def check(): Seq[String] = {
      val labels = out.graph.vertices.map { case (id, vd) => (id, vd.cId) }.cache()
      val fp = Fingerprint.of(labels)
      if (c.tracer.traced) {
        c.tracer.outcome("TriangleStats.run", "kept_edge_frac",
          tri.pruned.numEdges.toDouble / g.numEdges)
        c.tracer.outcome("InitialPartition.run", "communities",
          init.vertices.map(_._2.cId).distinct().count().toDouble)
        c.tracer.outcome("DistributedWCC.run", "communities", fp.communities.toDouble)
      }
      val msgs = c.expect(s"${key}partition", fp.show) ++
        c.expectClose(s"${key}wcc", out.bestWcc)
      if (key.isEmpty) last = Some((labels.collect(), out.bestWcc))
      c.releaseAll()
      msgs
    }
  }

  /** Recompute the last partition's global WCC through the library's
   * independent DataFrame certificate (`WccCheck`) from the raw edges
   * and the labels alone, and require it to match the pipeline's value
   * to 1e-9. */
  override def finalCheck(): Seq[String] = last.toSeq.flatMap { case (labels, wcc) =>
    val edges = EdgeOps.coPurchaseEdgesWeighted(spark, dir).select(col("src"), col("dst"))
    val lab = spark.createDataFrame(labels.toSeq).toDF("vid", "cid")
    val re = WccCheck.globalWccOfPartitionDet(edges, lab)
    c.releaseAll()
    if (math.abs(re - wcc) <= 1e-9) Nil
    else Seq(f"independent WCC recompute $re%.17g != pipeline WCC $wcc%.17g")
  }
}

/**
 * Incremental DWCC (the write path), as the reference system streams
 * an edge-list file: the raw co-purchase edge list is canonicalized,
 * its bulk region (both endpoint ids below 0.8 x max id) is prepared
 * once per set-up round, and each operation folds the same one-vertex
 * micro-batch of the stream region into that prepared state through
 * `IncrementalWCC.run`. Every operation does the same work, so their
 * median is a steady figure: the latency of one micro-batch update.
 */
final class Idwcc(c: Ctx) extends Workload {
  import c.{layer, spark}
  val setupRounds = 3

  /** a prepared bulk state and the micro-batch folded into it */
  final class Stream(val state: IncrementalWCC.State, val batch: Array[Edge[Int]]) {
    def release(): Unit = {
      state.graph.unpersistVertices(blocking = true)
      state.graph.edges.unpersist(blocking = true)
      state.bulkFlagged.foreach(_.unpersist(blocking = true))
    }
  }
  private var cur: Stream = _

  private def prepareStream(dir: String): Stream = {
    Inputs.rawPairs(Inputs.lineitem(spark, c.scale.orders, c.scale.parts, c.seed))
      .write.parquet(s"$dir/pairs.parquet")
    val (canon, nEdges) = layer("EdgeOps.canonicalize") {
      val df = EdgeOps.canonicalize(spark.read.parquet(s"$dir/pairs.parquet")).cache()
      (df, df.count())
    }
    c.tracer.outcome("EdgeOps.canonicalize", "edges_out", nEdges.toDouble)
    val maxId = canon.agg(max(greatest(col("src"), col("dst")))).head().getLong(0)
    val split = math.floor(maxId * 0.8)
    val bulk = canon.where(col("src") < split && col("dst") < split)
    val stream = canon.where(col("src") >= split || col("dst") >= split)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val g = layer("EdgeOps.toGraph") {
      val n = bulk.count()
      val g = EdgeOps.toGraph(bulk, GraphQueries.partsFor(bulk.rdd.getNumPartitions, n))
      g.cache()
      g.numVertices
      g
    }
    val state = layer("IncrementalWCC.prepare")(IncrementalWCC.prepare(g))
    canon.unpersist(blocking = true)
    val (lo, hi) = Inputs.medianWindow(stream, split)
    new Stream(state, Inputs.windowEdges(stream, lo, hi))
  }

  def setup(round: Int): Unit = {
    if (cur != null) cur.release()
    cur = prepareStream(c.inputDir(round))
  }

  override def checkSetup(): Seq[String] = c.expect("prepare", fingerprint(cur.state))

  private def fingerprint(s: IncrementalWCC.State): String =
    Fingerprint.of(s.graph.vertices.map { case (id, vd) => (id, vd.cId) }).show

  /** Operation i (0 is the untimed warm-up): fold the batch into the
   * prepared state, which stays cached. The check drops everything
   * the operation cached, the updated state included. */
  def op(i: Int): Op = new Op {
    private val before = c.sc.getPersistentRDDs.keySet
    private var out: IncrementalWCC.State = _
    def run(): Unit = {
      val rdd = c.sc.parallelize(cur.batch.toSeq, c.sc.defaultParallelism)
      out = layer("IncrementalWCC.run")(
        IncrementalWCC.run(cur.state, rdd, releaseInput = false))
    }
    def check(): Seq[String] = {
      c.tracer.outcome("IncrementalWCC.run", "batch_edges", cur.batch.length.toDouble)
      val msgs = c.expect("batch", fingerprint(out))
      c.sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id)) rdd.unpersist(blocking = true)
      }
      msgs
    }
  }

  /** the current stream (for the self-test) */
  def current: Stream = cur
}
