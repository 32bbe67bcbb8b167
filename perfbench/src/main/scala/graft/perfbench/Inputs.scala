package graft.perfbench

import org.apache.spark.graphx.{Edge, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded input generators. The library only ever sees what these
 * produce: a lineitem-shaped table for the co-purchase graph, the same
 * graph as a raw edge list, and the micro-batch window. The same seed
 * always yields the same inputs.
 */
object Inputs {

  /** A TPC-H-shaped lineitem projection (l_orderkey, l_linenumber,
   * l_partkey): `orders` orders of 1 to 7 lines, each line a uniform
   * part. The order/line structure is fixed; the seed only relabels
   * part ids through [[relabel]]. */
  def lineitem(spark: SparkSession, orders: Long, parts: Long, seed: Long): DataFrame = {
    val (stride, offset) = relabel(seed)
    spark.range(orders)
      .select(col("id").as("l_orderkey"),
        (pmod(xxhash64(col("id"), lit(1)), lit(7L)) + 1L).as("k"))
      .select(col("l_orderkey"), explode(sequence(lit(0L), col("k") - 1L)).as("j"))
      .select(col("l_orderkey"), (col("j") + 1L).as("l_linenumber"),
        (pmod(xxhash64(col("l_orderkey"), col("j"), lit(2)), lit(parts)) * stride +
          offset + 1L).as("l_partkey"))
  }

  /** The seeded vertex relabeling, a bijection onto its image:
   * id -> stride * id + offset, with stride a prime in [11, 37] and
   * offset in [0, stride); seed 0 is the identity.
   * It preserves vertex order, and vertex order decides every tie-break
   * of the algorithm, so each seed runs the same trajectory over a
   * different id layout (hash partitioning, block placement). An
   * order-scrambling bijection changed the refine trajectory with the
   * seed and moved shuffle bytes by +-12% across seeds. The stride is
   * prime to every partition count up to 8, so modulo any of them the
   * relabeled ids stay as evenly spread as the originals: a stride
   * that shares a factor with the partition count crowds the vertices
   * into fewer partitions, and with strides 2 to 9 an operation's CPU
   * time differed by a quarter between seeds. */
  def relabel(seed: Long): (Long, Long) =
    if (seed == 0L) (1L, 0L)
    else {
      val rng = new java.util.SplittableRandom(seed)
      val stride = Strides(rng.nextInt(Strides.length))
      (stride, rng.nextLong(stride))
    }

  private val Strides = Array(11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L)

  /** The co-purchase graph as a raw edge list, the form an edge-list
   * file of the reference system holds: for every order, every ordered
   * pair of distinct lines, so each undirected edge appears in both
   * directions, once per order it co-occurs in, with self-pairs of a
   * part bought twice in one order. Removing all of that is the
   * library's `EdgeOps.canonicalize`. */
  def rawPairs(lineitem: DataFrame): DataFrame = {
    val a = lineitem.select(col("l_orderkey"), col("l_linenumber").as("la"),
      col("l_partkey").as("src"))
    val b = lineitem.select(col("l_orderkey"), col("l_linenumber").as("lb"),
      col("l_partkey").as("dst"))
    a.join(b, "l_orderkey").where(col("la") =!= col("lb")).select(col("src"), col("dst"))
  }

  /** The micro-batch window: the one-vertex window [v, v + 1) of the
   * stream-region vertex v whose batch (its edges to lower ids, as
   * [[windowEdges]] selects them) has the median edge count among
   * non-empty batches, ties to the lower id. Batch sizes and id order
   * do not change under [[relabel]], so every seed folds the same
   * vertex under its own id layout. */
  def medianWindow(stream: Array[(VertexId, VertexId)], split: Double): (Double, Double) = {
    val sizes = stream.map { case (s, d) => math.max(s, d) }.filter(_ >= split)
      .groupBy(identity).map { case (v, es) => (es.length, v) }.toSeq.sorted
    require(sizes.nonEmpty, "no stream-region vertex has an edge to a lower id")
    val v = sizes(sizes.size / 2)._2
    (v.toDouble, v + 1.0)
  }

  /** The stream edges of one window, as `IncrementalWCC.testStream`
   * selects them: an endpoint in the window, both endpoints below its
   * upper bound. */
  def windowEdges(stream: Array[(VertexId, VertexId)], lo: Double, hi: Double)
      : Array[Edge[Int]] =
    stream.collect { case (s, d) if (s >= lo || d >= lo) && s < hi && d < hi => Edge(s, d, 1) }
}
