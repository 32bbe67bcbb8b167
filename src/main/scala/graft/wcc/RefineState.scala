package graft.wcc

import java.io.{EOFException, InputStream, OutputStream, StreamCorruptedException}
import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag

import graft.graph.{Fixpoint, SortedIntersect}
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.graphx._
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer,
  SerializerInstance}

/** The label-independent half of a vertex block: one partition's
 * vertices and their sorted adjacency, built once per seed state and
 * shared by reference by every generation moved from it.
 *
 * @param ids       local vertex ids, ascending
 * @param offs      CSR offsets: vertex i's neighbors are
 *                  `nbrs(offs(i) until offs(i + 1))`, ascending
 * @param ref       per adjacency slot: the neighbor's local index
 *                  (>= 0), or `~g` for ghost g (a neighbor that lives
 *                  in another partition)
 * @param ghosts    ids of the remote neighbors, ascending
 * @param ghostPart partition of each ghost
 * @param rank      the seeding ranks ([[SeedRanks]]), or null when the
 *                  block was built for refinement alone */
private[wcc] final class Adjacency(
    val ids: Array[Long], val t: Array[Int], val vt: Array[Int],
    val offs: Array[Int], val nbrs: Array[Long], val ref: Array[Int],
    val ghosts: Array[Long], val ghostPart: Array[Int],
    val rank: SeedRanks) extends Serializable {
  def n: Int = ids.length
  def deg(i: Int): Int = offs(i + 1) - offs(i)
}

/** What the clustering-coefficient seeding ([[InitialPartition]])
 * needs beyond the adjacency: the cc of every local vertex and ghost,
 * the ghosts' vt (the ids are the adjacency's), and per adjacency slot
 * whether the neighbor outranks the slot's own vertex in the
 * (cc, vt, id) order. Immutable for the whole seeding. */
private[wcc] final class SeedRanks(val cc: Array[Double], val ghostCc: Array[Double],
    val ghostVt: Array[Int], val up: Array[Boolean]) extends Serializable

/** One partition of a refinement generation, in primitive arrays:
 * the shared [[Adjacency]], the own labels, the ghosts' labels (the
 * neighbor labels of remote slots; local slots read `label`), the
 * same-community degree `own` (ext = degree - own) and the
 * same-community triangle count `tri` (null when the generation was
 * built without stage C). `prevLabel` holds the labels of the
 * generation this one was moved from; `wccPrev` and `moved` are this
 * partition's WCC_V sum of that generation and its move count. */
private[wcc] final class VertexBlock(
    val adj: Adjacency, val label: Array[Long], val ghostLabel: Array[Long],
    val own: Array[Int], val tri: Array[Int], val prevLabel: Array[Long],
    val wccPrev: Double, val moved: Long) extends Serializable {

  @inline def nbrLabel(j: Int): Long = {
    val r = adj.ref(j)
    if (r >= 0) label(r) else ghostLabel(~r)
  }

  def vertex(i: Int): VertexData =
    VertexData(adj.ids(i), adj.t(i), adj.vt(i), label(i))

  /** vertex i's same-community neighbor ids, ascending */
  def sameNbrs(i: Int): Array[Long] = {
    val out = new Array[Long](own(i))
    var k = 0; var j = adj.offs(i)
    while (j < adj.offs(i + 1)) {
      if (nbrLabel(j) == label(i)) { out(k) = adj.nbrs(j); k += 1 }
      j += 1
    }
    out
  }
}

/** A message between vertex blocks. Every block exchange
 * ([[RefineState.exchange]]) carries one per target partition, and
 * [[BlockCodec]] is its one wire format. */
private[wcc] sealed trait BlockMessage extends Serializable

/** Stage A -> B message: new labels of moved vertices. A partition
 * always sends one to itself (`src` == target), which also carries
 * its WCC_V sum and move count to the job result. The seeding
 * supersteps ship their changed labels in the same form.
 * [[BlockCodec]] is its one wire format. */
private[wcc] final class Moves(val src: Int, val ids: Array[Long],
    val labels: Array[Long], val wcc: Double, val moved: Long) extends BlockMessage

/** Stage B -> C message: same-community neighbor arrays, one per
 * vertex with a same-community neighbor in the target partition.
 * [[BlockCodec]] is its one wire format. */
private[wcc] final class SameSets(val ids: Array[Long],
    val sets: Array[Array[Long]]) extends BlockMessage

/** Build-time edge slots bound for one partition: (self, neighbor) id
 * pairs, one per edge end it holds, with no attributes ([[GhostAttrs]]
 * carry those). [[BlockCodec]] is its one wire format. */
private[wcc] final class EdgeSlots(val self: Array[Long], val nbr: Array[Long])
    extends BlockMessage

/** Build-time ghost attributes bound for one partition, once per vertex
 * of the sender with a slot there: its label and, for the seeding, its
 * t and vt (null otherwise). [[BlockCodec]] is its one wire format. */
private[wcc] final class GhostAttrs(val ids: Array[Long], val labels: Array[Long],
    val t: Array[Int], val vt: Array[Int]) extends BlockMessage

/**
 * The wire format of the block exchanges: their `Int` target-partition
 * keys and their [[BlockMessage]]s. A record is a tag byte, then its
 * fields: an int or long as a zigzag varint, a double as its 8 raw
 * bytes, an array as a varint of its length + 1 (0 for null) followed
 * by its elements. No class names and no reflection; the codec holds
 * no state, so a task builds nothing but its streams, each with one
 * 4 KiB buffer.
 */
private[wcc] object BlockCodec extends Serializer with Serializable {
  private final val TagInt = 0
  private final val TagEdgeSlots = 1
  private final val TagMoves = 2
  private final val TagSameSets = 3
  private final val TagGhostAttrs = 4
  private final val BufferSize = 4096

  override def newInstance(): SerializerInstance = Instance

  private object Instance extends SerializerInstance {
    override def serialize[T: ClassTag](t: T): ByteBuffer = {
      val bytes = new java.io.ByteArrayOutputStream()
      serializeStream(bytes).writeObject(t).close()
      ByteBuffer.wrap(bytes.toByteArray)
    }

    override def deserialize[T: ClassTag](bytes: ByteBuffer): T = {
      val a = new Array[Byte](bytes.remaining)
      bytes.duplicate().get(a)
      deserializeStream(new java.io.ByteArrayInputStream(a)).readObject[T]()
    }

    override def deserialize[T: ClassTag](bytes: ByteBuffer, loader: ClassLoader): T =
      deserialize[T](bytes)

    override def serializeStream(s: OutputStream): SerializationStream = new Writer(s)

    override def deserializeStream(s: InputStream): DeserializationStream = new Reader(s)
  }

  private final class Writer(out: OutputStream) extends SerializationStream {
    private val buf = new Array[Byte](BufferSize)
    private var pos = 0

    private def byte(b: Int): Unit = {
      if (pos == buf.length) drain()
      buf(pos) = b.toByte; pos += 1
    }

    private def drain(): Unit = { out.write(buf, 0, pos); pos = 0 }

    private def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7FL) != 0) { byte((x & 0x7F).toInt | 0x80); x >>>= 7 }
      byte(x.toInt)
    }

    private def int(v: Int): Unit = varint(Integer.toUnsignedLong((v << 1) ^ (v >> 31)))
    private def long(v: Long): Unit = varint((v << 1) ^ (v >> 63))

    private def double(v: Double): Unit = {
      val b = java.lang.Double.doubleToRawLongBits(v)
      var k = 56
      while (k >= 0) { byte((b >>> k).toInt); k -= 8 }
    }

    private def longs(a: Array[Long]): Unit =
      if (a == null) varint(0) else {
        varint(a.length + 1L)
        var k = 0
        while (k < a.length) { long(a(k)); k += 1 }
      }

    private def ints(a: Array[Int]): Unit =
      if (a == null) varint(0) else {
        varint(a.length + 1L)
        var k = 0
        while (k < a.length) { int(a(k)); k += 1 }
      }

    override def writeObject[T: ClassTag](t: T): SerializationStream = {
      t match {
        case k: java.lang.Integer => byte(TagInt); int(k)
        case s: EdgeSlots => byte(TagEdgeSlots); longs(s.self); longs(s.nbr)
        case a: GhostAttrs =>
          byte(TagGhostAttrs); longs(a.ids); longs(a.labels); ints(a.t); ints(a.vt)
        case m: Moves =>
          byte(TagMoves)
          int(m.src); longs(m.ids); longs(m.labels); double(m.wcc); long(m.moved)
        case s: SameSets =>
          byte(TagSameSets)
          longs(s.ids); varint(s.sets.length.toLong); s.sets.foreach(longs)
        case other => throw new IllegalArgumentException("BlockCodec cannot write " +
          (if (other == null) "null" else s"a ${other.getClass.getName}"))
      }
      this
    }

    override def flush(): Unit = { drain(); out.flush() }

    override def close(): Unit = { drain(); out.close() }
  }

  private final class Reader(in: InputStream) extends DeserializationStream {
    private val buf = new Array[Byte](BufferSize)
    private var pos = 0
    private var lim = 0

    /** false at the end of the input */
    private def fill(): Boolean = {
      pos = 0; lim = math.max(in.read(buf), 0)
      lim > 0
    }

    private def byte(): Int = {
      if (pos == lim && !fill()) throw new StreamCorruptedException("block message truncated")
      val b = buf(pos); pos += 1
      b & 0xFF
    }

    private def varint(): Long = {
      var x = 0L; var shift = 0; var b = 0x80
      while ((b & 0x80) != 0) {
        if (shift > 63) throw new StreamCorruptedException("block message varint too long")
        b = byte(); x |= (b & 0x7FL) << shift; shift += 7
      }
      x
    }

    private def int(): Int = { val z = varint().toInt; (z >>> 1) ^ -(z & 1) }
    private def long(): Long = { val z = varint(); (z >>> 1) ^ -(z & 1) }

    private def double(): Double = {
      var b = 0L; var k = 0
      while (k < 8) { b = (b << 8) | byte(); k += 1 }
      java.lang.Double.longBitsToDouble(b)
    }

    private def longs(): Array[Long] = {
      val n = varint().toInt - 1
      if (n < 0) null else {
        val a = new Array[Long](n)
        var k = 0
        while (k < n) { a(k) = long(); k += 1 }
        a
      }
    }

    private def ints(): Array[Int] = {
      val n = varint().toInt - 1
      if (n < 0) null else {
        val a = new Array[Int](n)
        var k = 0
        while (k < n) { a(k) = int(); k += 1 }
        a
      }
    }

    /** The next record; EOFException at the end of the input, which
     * ends [[asKeyValueIterator]]. */
    override def readObject[T: ClassTag](): T = {
      if (pos == lim && !fill()) throw new EOFException
      (byte() match {
        case TagInt => Int.box(int())
        case TagEdgeSlots => new EdgeSlots(longs(), longs())
        case TagGhostAttrs => new GhostAttrs(longs(), longs(), ints(), ints())
        case TagMoves => new Moves(int(), longs(), longs(), double(), long())
        case TagSameSets =>
          val ids = longs()
          new SameSets(ids, Array.fill(varint().toInt)(longs()))
        case tag => throw new StreamCorruptedException(s"unknown block message tag $tag")
      }).asInstanceOf[T]
    }

    override def close(): Unit = in.close()
  }
}

/** One partition's job result: its community-stat partial (per
 * community: members, summed same-community degree, summed external
 * degree) plus the carried WCC_V sum and move count. */
private[wcc] final class Partial(val cIds: Array[Long], val sums: Array[Long],
    val wcc: Double, val moved: Long) extends Serializable

/**
 * Co-partitioned vertex state of the WCC loops (ROADMAP D3): a
 * `HashPartitioner` pair RDD over the pruned core holding ONE cached
 * [[VertexBlock]] per partition — the layout of GraphX's vertex
 * partitions, without per-vertex objects. Vertex v lives in partition
 * `part.getPartition(v)`; a block is keyed by its partition index,
 * which the same partitioner maps to itself.
 *
 * Every block is built from vertices and id-only edge slots, each
 * vertex's attributes shipped once per partition holding it as a ghost
 * ([[RefineState.blocks]]). A state is built in one job: by
 * [[RefineState.seed]] from a labeled `Graph`, or — in IDWCC — by the
 * clustering-coefficient seeding itself
 * ([[InitialPartition.refineSeed]]), whose supersteps run on the same
 * blocks and whose converged generation is handed over as is, so no
 * `Graph` is built between the prune and the final labels.
 *
 * [[step]] advances a generation with ONE Spark job of at most three
 * stages:
 *  - A scores this generation's WCC_V under the broadcast stats, takes
 *    every vertex's [[DistributedWCC.bestMovementCompact]] decision and
 *    sends the new labels of moved vertices to the partitions holding
 *    their neighbors;
 *  - B applies them and ships each vertex's same-community neighbor
 *    array once per target partition (never once per neighbor, so a
 *    hub costs at most one copy per partition);
 *  - C intersects the arrays with [[SortedIntersect]].
 * The job result is, per partition, the next generation's stats
 * partial and the WCC_V sum of this one, folded on the driver in
 * partition order — bit-reproducible, exactly once. Without triangle
 * counting (the IDWCC loop never scores WCC) the step ends after B.
 *
 * @param stats   community stats of this generation
 * @param wccPrev WCC_V sum of the generation this one was moved from
 *                (0 for a seed state)
 * @param moved   vertices whose label changed building this one
 */
final class RefineState private[wcc] (
    private[wcc] val blocks: RDD[(Int, VertexBlock)],
    private[wcc] val part: HashPartitioner,
    val stats: Map[Long, CommunityData], private[graft] val wccPrev: Double,
    private[graft] val moved: Long) {
  import RefineState._

  /** Global WCC of this generation under its own stats: one job over
   * the cached blocks (needs triangle counts). */
  private[wcc] def wcc(vertexCount: Long): Double = {
    val bStats = blocks.sparkContext.broadcast(stats)
    val sums = blocks.sparkContext.runJob(blocks,
      (it: Iterator[(Int, VertexBlock)]) => wccSum(it.next()._2, bStats.value))
    bStats.destroy()
    foldInOrder(sums) / vertexCount
  }

  /** The next generation, built by one job (see the class doc).
   * `score` adds this generation's WCC_V sum to the result (its
   * triangle counts must exist); `countTriangles` runs stage C;
   * `cache` caches the new generation's blocks for their owner. */
  private[graft] def step(globalCC: Double, vertexCount: Long, score: Boolean,
      countTriangles: Boolean, cache: Cache): RefineState = {
    val sc = blocks.sparkContext
    val bStats = sc.broadcast(stats)
    val p = part
    val moves = exchange(blocks.mapPartitions { it =>
      val (pid, b) = it.next()
      val s = bStats.value
      val wcc = if (score) wccSum(b, s) else 0.0
      sendMoves(pid, b.adj, b.label, decide(b, s, globalCC, vertexCount), wcc,
        p.numPartitions)
    }, p)
    val moved = blocks.zipPartitions(moves, preservesPartitioning = true)(applyMoves)
    val next = cache(if (countTriangles) withTriangles(moved, p) else moved)
    try {
      val (cs, wcc, n) = merge(sc.runJob(next, partialOf _))
      new RefineState(next, p, cs, wcc, n)
    } finally bStats.unpersist(blocking = false)
  }

  /** The vertices after one more movement, without building a
   * generation — the final fixed-5 iteration, which only feeds the
   * graft-back. Lazy: the caller's action runs stage A, and closing
   * `scope` drops the stats broadcast it reads. */
  private[wcc] def movedVertices(globalCC: Double, vertexCount: Long,
      scope: Fixpoint.CacheScope): RDD[(VertexId, VertexData)] = {
    val bStats = scope.broadcast(blocks.sparkContext, stats)
    verticesOf(blocks)(decide(_, bStats.value, globalCC, vertexCount))
  }

  /** this generation's vertices, under [[part]] */
  private[wcc] def vertices: RDD[(VertexId, VertexData)] = verticesOf(blocks)(_.label)

  /** this generation's labels, under [[part]] */
  private[wcc] def labels: RDD[(VertexId, Long)] = labelsOf(blocks)(_.label)

  /** labels of the generation this one was moved from */
  private[wcc] def prevLabels: RDD[(VertexId, Long)] = labelsOf(blocks)(_.prevLabel)
}

private[graft] object RefineState {

  /** Caches a new generation's blocks for their owner as a lineage
   * cut, so the job that builds them is the last to see the stages
   * before them: [[in]] a scope, or in one round of a loop, which
   * releases them by its rule. */
  type Cache = RDD[(Int, VertexBlock)] => RDD[(Int, VertexBlock)]

  def in(scope: Fixpoint.CacheScope): Cache = scope.cut(_)

  def in(round: Fixpoint.Loop#Round): Cache = round.cut(_)

  /** The seed generation of `graph`, its blocks cached by `cache`: one
   * job that builds the blocks (adjacency, labels, same-community
   * degrees and, with `countTriangles`, the triangle counts) from its
   * vertices and edges and returns their stats. */
  def seed(graph: Graph[VertexData, Int], countTriangles: Boolean,
      cache: Cache): RefineState = {
    val part = new HashPartitioner(graph.vertices.getNumPartitions)
    val base = refineBlocks(graph.vertices, pairsOf(graph.edges), part, Ship.Labels)
    val blocks = cache(if (countTriangles) withTriangles(base, part) else base)
    val (cs, _, _) = merge(blocks.sparkContext.runJob(blocks, partialOf _))
    new RefineState(blocks, part, cs, 0.0, 0L)
  }

  /** `graph` relabeled by `labels`, cut in `scope` and its vertices
   * materialized — the one GraphX step of a refinement: handing the
   * result back. Its edges are cut by the job that first reads them.
   * The null type evidence keeps `graph`'s edges as they are, without
   * GraphX's ship of the changed vertices: a stage every read of the
   * edges ([[seed]]) would pay and no block build needs. */
  def toGraph(graph: Graph[VertexData, Int], labels: RDD[(VertexId, Long)],
      scope: Fixpoint.CacheScope): Graph[VertexData, Int] = {
    val g = scope.cut(graph.outerJoinVertices(labels) { (_, vd, l: Option[Long]) =>
      l match {
        case Some(c) if c != vd.cId => vd.copy(cId = c)
        case _ => vd
      }
    }(implicitly, implicitly, null))
    g.vertices.count()
    g
  }

  /** per vertex of `blocks`: its id and `f` of its block */
  private[wcc] def labelsOf(blocks: RDD[(Int, VertexBlock)])(
      f: VertexBlock => Array[Long]): RDD[(VertexId, Long)] =
    blocks.mapPartitions({ it =>
      val b = it.next()._2
      val l = f(b)
      Iterator.range(0, l.length).map(i => (b.adj.ids(i), l(i)))
    }, preservesPartitioning = true)

  /** per vertex of `blocks`: its [[VertexData]] labeled by `f` of its block */
  private def verticesOf(blocks: RDD[(Int, VertexBlock)])(
      f: VertexBlock => Array[Long]): RDD[(VertexId, VertexData)] =
    blocks.mapPartitions({ it =>
      val b = it.next()._2
      val l = f(b)
      val a = b.adj
      Iterator.range(0, l.length).map(i => (a.ids(i), VertexData(a.ids(i), a.t(i), a.vt(i), l(i))))
    }, preservesPartitioning = true)

  /** `edges` as (src, dst) id pairs */
  private[wcc] def pairsOf(edges: RDD[Edge[Int]]): RDD[(Long, Long)] =
    edges.map(e => (e.srcId, e.dstId))

  /** What a block build ships of each ghost beyond its id: nothing (every
   * ghost label 0), its label, or its label, t and vt ([[SeedRanks]]). */
  private[wcc] sealed trait Ship
  private[wcc] object Ship {
    case object Ids extends Ship; case object Labels extends Ship; case object Ranks extends Ship
  }

  /** The refinement blocks of `vertices` and their edges `pairs`: the
   * adjacency, labels and same-community degrees, no triangle counts. */
  private[wcc] def refineBlocks(vertices: RDD[(VertexId, VertexData)],
      pairs: RDD[(Long, Long)], part: HashPartitioner, ship: Ship): RDD[(Int, VertexBlock)] =
    blocks(vertices, pairSlots(pairs, part), part, ship) { (adj, label, ghostLabel) =>
      new VertexBlock(adj, label, ghostLabel, ownDegrees(adj, label, ghostLabel), null, null,
        0.0, 0L)
    }

  /** The one block build over the edge `slots`, co-partitioned under
   * `part` (each edge end at its vertex's partition, as [[pairSlots]]
   * places them): each partition sends its `vertices`' attributes once
   * to every other partition holding a slot to them ([[GhostAttrs]],
   * none for [[Ship.Ids]]) and builds its block once for `f`
   * ([[build]]). With `vpred`, only its vertices are built. */
  private[wcc] def blocks[T: ClassTag](vertices: RDD[(VertexId, VertexData)],
      slots: RDD[(Int, EdgeSlots)], part: HashPartitioner, ship: Ship,
      vpred: Option[VertexData => Boolean] = None)(
      f: (Adjacency, Array[Long], Array[Long]) => T): RDD[(Int, T)] = {
    val placed = if (vertices.partitioner.contains(part)) vertices else vertices.partitionBy(part)
    val verts = vpred.fold(placed)(p => placed.filter(v => p(v._2)))
    val ranks = ship == Ship.Ranks
    val prune = vpred.isDefined
    if (ship == Ship.Ids)
      verts.zipPartitions(slots, preservesPartitioning = true)(build(part, _, _, null, ranks,
        prune)(f))
    else {
      val attrs = exchange(verts.zipPartitions(slots)(sendGhostAttrs(part, _, _, ranks)), part)
      verts.zipPartitions(slots, attrs, preservesPartitioning = true) { (vIt, sIt, aIt) =>
        build(part, vIt, sIt, aIt.map(_._2).toArray, ranks, prune)(f)
      }
    }
  }

  /** `msgs` delivered to their target partitions under `part`, on
   * [[BlockCodec]]: the one exchange of every block message. */
  private[wcc] def exchange[M <: BlockMessage : ClassTag](msgs: RDD[(Int, M)],
      part: HashPartitioner): RDD[(Int, M)] =
    new ShuffledRDD[Int, M, M](msgs, part).setSerializer(BlockCodec)

  /** Each pair (s, d) as the slot (s, d) at s's partition and (d, s)
   * at d's, as id-only [[EdgeSlots]] — only at the endpoints `at`
   * accepts. */
  private[wcc] def pairSlots(pairs: RDD[(Long, Long)], part: HashPartitioner,
      at: Long => Boolean = _ => true): RDD[(Int, EdgeSlots)] =
    exchange(pairs.mapPartitions { it =>
      val self = new Array[ArrayBuilder.ofLong](part.numPartitions)
      val nbr = new Array[ArrayBuilder.ofLong](part.numPartitions)
      def add(u: Long, v: Long): Unit = {
        val q = part.getPartition(u)
        if (self(q) == null) { self(q) = new ArrayBuilder.ofLong; nbr(q) = new ArrayBuilder.ofLong }
        self(q) += u; nbr(q) += v
      }
      it.foreach { case (s, d) => if (at(s)) add(s, d); if (at(d)) add(d, s) }
      Iterator.range(0, part.numPartitions).filter(self(_) != null).map(q =>
        (q, new EdgeSlots(self(q).result(), nbr(q).result())))
    }, part)

  /** [[build]] calls in this JVM, where a local-mode job runs its tasks */
  private[wcc] val builds = new java.util.concurrent.atomic.AtomicLong()

  /** A partition's [[GhostAttrs]] to each other partition: its vertices
   * with a slot from there (a slot at a vertex not here is left to the
   * build), ascending, with their label and, with `ranks`, t and vt. */
  private def sendGhostAttrs(part: HashPartitioner, vIt: Iterator[(VertexId, VertexData)],
      sIt: Iterator[(Int, EdgeSlots)], ranks: Boolean): Iterator[(Int, GhostAttrs)] = {
    val pid = TaskContext.getPartitionId()
    val vs = vIt.toArray
    val ids = byId(vs)
    val to = new Array[ArrayBuilder.ofLong](part.numPartitions)
    sIt.foreach { case (_, s) =>
      var k = 0
      while (k < s.self.length) {
        val q = part.getPartition(s.nbr(k))
        val i = if (q == pid) -1 else java.util.Arrays.binarySearch(ids, s.self(k))
        if (i >= 0) { if (to(q) == null) to(q) = new ArrayBuilder.ofLong; to(q) += i }
        k += 1
      }
    }
    Iterator.range(0, part.numPartitions).filter(to(_) != null).map { q =>
      val is = distinctSorted(to(q).result()).map(_.toInt)
      (q, new GhostAttrs(is.map(ids), is.map(vs(_)._2.cId),
        if (ranks) is.map(vs(_)._2.t) else null, if (ranks) is.map(vs(_)._2.vt) else null))
    }
  }

  /** sorts `vs` by id; their ids, ascending */
  private def byId(vs: Array[(VertexId, VertexData)]): Array[Long] = {
    java.util.Arrays.sort(vs, Ordering.by((v: (VertexId, VertexData)) => v._1))
    vs.map(_._1)
  }

  /** One partition's block for `f`: the adjacency, own labels and ghost
   * labels of its vertices and id-only slots, duplicate slots collapsed.
   * `attrs` are the [[GhostAttrs]] sent to it (null: ghost labels 0, a
   * slot's remote end unchecked); with `ranks` the adjacency carries
   * [[SeedRanks]]. A slot at an endpoint that is neither a vertex here nor
   * a ghost sent here is dropped with `prune`, and fails the build without. */
  private[wcc] def build[T](part: HashPartitioner, vIt: Iterator[(VertexId, VertexData)],
      sIt: Iterator[(Int, EdgeSlots)], attrs: Array[GhostAttrs], ranks: Boolean,
      prune: Boolean)(f: (Adjacency, Array[Long], Array[Long]) => T): Iterator[(Int, T)] = {
    builds.incrementAndGet()
    val pid = TaskContext.getPartitionId()
    val vs = vIt.toArray
    val ids = byId(vs)
    val n = ids.length
    val slots = sIt.map(_._2).toArray
    def eachSlot(g: (Long, Long) => Unit): Unit = slots.foreach { s =>
      var k = 0
      while (k < s.self.length) { g(s.self(k), s.nbr(k)); k += 1 }
    }
    val sent = if (attrs == null) null else distinctSorted(attrs.flatMap(_.ids))
    // per slot: its vertex's local index, or -1 when the slot is dropped
    val at = new Array[Int](slots.iterator.map(_.self.length).sum)
    val offs = new Array[Int](n + 1)
    var x = 0
    eachSlot { (u, v) =>
      val li = java.util.Arrays.binarySearch(ids, u)
      val known = li >= 0 && (
        if (part.getPartition(v) == pid) java.util.Arrays.binarySearch(ids, v) >= 0
        else sent == null || java.util.Arrays.binarySearch(sent, v) >= 0)
      if (!known && !prune) throw new IllegalArgumentException(s"edge slot ($u, $v) at " +
        s"partition $pid: an endpoint is neither a vertex there nor a ghost it was sent")
      at(x) = if (known) li else -1
      if (known) offs(li + 1) += 1
      x += 1
    }
    var i = 0
    while (i < n) { offs(i + 1) += offs(i); i += 1 }
    var nbrs = new Array[Long](offs(n))
    val cursor = java.util.Arrays.copyOf(offs, n)
    x = 0
    eachSlot { (_, v) =>
      if (at(x) >= 0) { nbrs(cursor(at(x))) = v; cursor(at(x)) += 1 }
      x += 1
    }
    // sort each vertex's neighbors and collapse duplicates in place
    var w = 0; var start = 0
    i = 0
    while (i < n) {
      val end = offs(i + 1)
      java.util.Arrays.sort(nbrs, start, end)
      offs(i) = w
      var j = start
      while (j < end) {
        if (j == start || nbrs(j) != nbrs(j - 1)) { nbrs(w) = nbrs(j); w += 1 }
        j += 1
      }
      start = end
      i += 1
    }
    offs(n) = w
    if (w < nbrs.length) nbrs = java.util.Arrays.copyOf(nbrs, w)
    val ghosts = distinctSorted(nbrs.filter(part.getPartition(_) != pid))
    val ghostLabel = new Array[Long](ghosts.length)
    val ghostT = if (ranks) new Array[Int](ghosts.length) else null
    val ghostVt = if (ranks) new Array[Int](ghosts.length) else null
    if (attrs != null) attrs.foreach { a =>
      var k = 0
      while (k < a.ids.length) {
        val g = java.util.Arrays.binarySearch(ghosts, a.ids(k))
        if (g >= 0) {
          ghostLabel(g) = a.labels(k)
          if (ranks) { ghostT(g) = a.t(k); ghostVt(g) = a.vt(k) }
        }
        k += 1
      }
    }
    val ref = new Array[Int](nbrs.length)
    i = 0
    while (i < n) {
      var j = offs(i)
      while (j < offs(i + 1)) {
        ref(j) =
          if (part.getPartition(nbrs(j)) == pid) java.util.Arrays.binarySearch(ids, nbrs(j))
          else ~java.util.Arrays.binarySearch(ghosts, nbrs(j))
        j += 1
      }
      i += 1
    }
    val t = vs.map(_._2.t)
    val vt = vs.map(_._2.vt)
    val rank = if (!ranks) null else {
      val ghostCc = Array.tabulate(ghosts.length)(g => VertexData.cc(ghostT(g), ghostVt(g)))
      val cc = Array.tabulate(n)(k => VertexData.cc(t(k), vt(k)))
      val up = new Array[Boolean](nbrs.length)
      i = 0
      while (i < n) {
        var j = offs(i)
        while (j < offs(i + 1)) {
          val r = ref(j)
          up(j) =
            if (r >= 0) rankGt(cc(r), vt(r), ids(r), cc(i), vt(i), ids(i))
            else rankGt(ghostCc(~r), ghostVt(~r), ghosts(~r), cc(i), vt(i), ids(i))
          j += 1
        }
        i += 1
      }
      new SeedRanks(cc, ghostCc, ghostVt, up)
    }
    val adj = new Adjacency(ids, t, vt, offs, nbrs, ref, ghosts,
      ghosts.map(part.getPartition), rank)
    Iterator((pid, f(adj, vs.map(_._2.cId), ghostLabel)))
  }

  /** The seeding's total order on (cc, vt, id), on primitives: cc is
   * never NaN or -0.0 ([[VertexData.cc]] of non-negative counts), so
   * plain comparisons equal [[VertexData.ordering]]. */
  @inline private[wcc] def rankGt(cc1: Double, vt1: Int, id1: Long,
      cc2: Double, vt2: Int, id2: Long): Boolean =
    cc1 > cc2 || (cc1 == cc2 && (vt1 > vt2 || (vt1 == vt2 && id1 > id2)))

  private def localIndex(ids: Array[Long], v: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, v)
    require(i >= 0, s"vertex $v is not in its hash partition's vertex set")
    i
  }

  private def distinctSorted(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var w = 0; var k = 0
    while (k < a.length) {
      if (w == 0 || a(k) != a(w - 1)) { a(w) = a(k); w += 1 }
      k += 1
    }
    java.util.Arrays.copyOf(a, w)
  }

  private[wcc] def ownDegrees(adj: Adjacency, label: Array[Long],
      ghostLabel: Array[Long]): Array[Int] = {
    val own = new Array[Int](adj.n)
    var i = 0
    while (i < adj.n) {
      var c = 0; var j = adj.offs(i)
      while (j < adj.offs(i + 1)) {
        val r = adj.ref(j)
        if ((if (r >= 0) label(r) else ghostLabel(~r)) == label(i)) c += 1
        j += 1
      }
      own(i) = c
      i += 1
    }
    own
  }

  /** WCC_V summed over one block in ascending vertex id order */
  private def wccSum(b: VertexBlock, stats: Map[Long, CommunityData]): Double = {
    var s = 0.0; var i = 0
    while (i < b.adj.n) {
      val vd = b.vertex(i)
      s += WCCMetric.computeWccV(vd, stats(vd.cId), b.own(i), b.tri(i))
      i += 1
    }
    s
  }

  /** Every vertex's movement decision: its neighbor labels sorted and
   * run-length encoded into the compact (cId, count) arrays. */
  private def decide(b: VertexBlock, stats: Map[Long, CommunityData],
      globalCC: Double, vertexCount: Long): Array[Long] = {
    val adj = b.adj
    val next = b.label.clone()
    var maxDeg = 0; var i = 0
    while (i < adj.n) { maxDeg = math.max(maxDeg, adj.deg(i)); i += 1 }
    val scratch = new Array[Long](maxDeg)
    i = 0
    while (i < adj.n) {
      val d = adj.deg(i)
      if (d > 0) {
        var k = 0
        while (k < d) { scratch(k) = b.nbrLabel(adj.offs(i) + k); k += 1 }
        java.util.Arrays.sort(scratch, 0, d)
        var uniq = 1; k = 1
        while (k < d) { if (scratch(k) != scratch(k - 1)) uniq += 1; k += 1 }
        val cIds = new Array[Long](uniq)
        val counts = new Array[Int](uniq)
        var u = 0; cIds(0) = scratch(0); k = 0
        while (k < d) {
          if (scratch(k) != cIds(u)) { u += 1; cIds(u) = scratch(k) }
          counts(u) += 1
          k += 1
        }
        next(i) = DistributedWCC.bestMovementCompact(b.vertex(i), cIds, counts,
          stats, globalCC, vertexCount).cId
      }
      i += 1
    }
    next
  }

  /** Stage A's output: the self message (the vertices whose label
   * differs between `from` and `to`, plus the partition's WCC_V sum
   * and move count), then one message per other partition holding a
   * neighbor of such a vertex. */
  private[wcc] def sendMoves(pid: Int, adj: Adjacency, from: Array[Long],
      to: Array[Long], wcc: Double, numParts: Int): Iterator[(Int, Moves)] = {
    val ids = new Array[ArrayBuilder.ofLong](numParts)
    val labs = new Array[ArrayBuilder.ofLong](numParts)
    def add(q: Int, v: Long, l: Long): Unit = {
      if (ids(q) == null) { ids(q) = new ArrayBuilder.ofLong; labs(q) = new ArrayBuilder.ofLong }
      ids(q) += v; labs(q) += l
    }
    val stamp = new Array[Int](numParts)
    var moved = 0L
    var i = 0
    while (i < adj.n) {
      if (to(i) != from(i)) {
        moved += 1
        add(pid, adj.ids(i), to(i))
        var j = adj.offs(i)
        while (j < adj.offs(i + 1)) {
          val r = adj.ref(j)
          if (r < 0) {
            val q = adj.ghostPart(~r)
            if (stamp(q) != i + 1) { stamp(q) = i + 1; add(q, adj.ids(i), to(i)) }
          }
          j += 1
        }
      }
      i += 1
    }
    def result(b: ArrayBuilder.ofLong) =
      if (b == null) Array.emptyLongArray else b.result()
    Iterator((pid, new Moves(pid, result(ids(pid)), result(labs(pid)), wcc, moved))) ++
      Iterator.range(0, numParts).filter(q => q != pid && ids(q) != null).map(q =>
        (q, new Moves(pid, ids(q).result(), labs(q).result(), 0.0, 0L)))
  }

  /** Stage B: the next generation's labels and same-community degrees */
  private def applyMoves(bIt: Iterator[(Int, VertexBlock)],
      mIt: Iterator[(Int, Moves)]): Iterator[(Int, VertexBlock)] = {
    val (pid, b) = bIt.next()
    val adj = b.adj
    val label = b.label.clone()
    val ghostLabel = b.ghostLabel.clone()
    var wcc = 0.0; var moved = 0L
    mIt.foreach { case (_, m) =>
      val self = m.src == pid
      if (self) { wcc = m.wcc; moved = m.moved }
      var k = 0
      while (k < m.ids.length) {
        if (self) label(localIndex(adj.ids, m.ids(k))) = m.labels(k)
        else ghostLabel(java.util.Arrays.binarySearch(adj.ghosts, m.ids(k))) = m.labels(k)
        k += 1
      }
    }
    Iterator((pid, new VertexBlock(adj, label, ghostLabel,
      ownDegrees(adj, label, ghostLabel), null, b.label, wcc, moved)))
  }

  /** Stages B (ship) and C (intersect): `blocks` with triangle counts */
  private def withTriangles(blocks: RDD[(Int, VertexBlock)],
      part: HashPartitioner): RDD[(Int, VertexBlock)] =
    sameCommonCounts(blocks, part) { (b, common) =>
      val adj = b.adj
      val tri = new Array[Int](adj.n)
      var i = 0
      while (i < adj.n) {
        var c = 0; var j = adj.offs(i)
        while (j < adj.offs(i + 1)) { c += common(j); j += 1 }
        // each triangle is seen from both of its other edges at i
        tri(i) = c / 2
        i += 1
      }
      new VertexBlock(adj, b.label, b.ghostLabel, b.own, tri, b.prevLabel, b.wccPrev, b.moved)
    }

  /** Stages B and C of a triangle count over `blocks`: B ships every
   * vertex's same-community neighbor array once to each other partition
   * holding a same-community neighbor of it (never once per neighbor,
   * so a hub costs at most one copy per partition); C intersects the
   * two ends' arrays of every same-community slot with
   * [[SortedIntersect]] and hands `f` each block with its per-slot
   * counts of common same-community neighbors (0 on a slot across
   * communities). With one label on every vertex the counts are the
   * edges' triangle supports ([[TriangleStats]]). */
  private[wcc] def sameCommonCounts[T: ClassTag](blocks: RDD[(Int, VertexBlock)],
      part: HashPartitioner)(f: (VertexBlock, Array[Int]) => T): RDD[(Int, T)] = {
    val same = exchange(blocks.mapPartitions { it =>
      val (pid, b) = it.next()
      val adj = b.adj
      val ids = new Array[ArrayBuilder.ofLong](part.numPartitions)
      val sets = new Array[ArrayBuilder.ofRef[Array[Long]]](part.numPartitions)
      val stamp = new Array[Int](part.numPartitions)
      var i = 0
      while (i < adj.n) {
        var s: Array[Long] = null
        var j = adj.offs(i)
        while (j < adj.offs(i + 1)) {
          val r = adj.ref(j)
          if (r < 0 && b.ghostLabel(~r) == b.label(i)) {
            val q = adj.ghostPart(~r)
            if (stamp(q) != i + 1) {
              stamp(q) = i + 1
              if (s == null) s = b.sameNbrs(i)
              if (ids(q) == null) {
                ids(q) = new ArrayBuilder.ofLong; sets(q) = new ArrayBuilder.ofRef[Array[Long]]
              }
              ids(q) += adj.ids(i); sets(q) += s
            }
          }
          j += 1
        }
        i += 1
      }
      Iterator.range(0, part.numPartitions).filter(q => q != pid && ids(q) != null)
        .map(q => (q, new SameSets(ids(q).result(), sets(q).result())))
    }, part)
    blocks.zipPartitions(same, preservesPartitioning = true) { (bIt, sIt) =>
      val (pid, b) = bIt.next()
      val adj = b.adj
      val remote = new Array[Array[Long]](adj.ghosts.length)
      sIt.foreach { case (_, s) =>
        var k = 0
        while (k < s.ids.length) {
          remote(java.util.Arrays.binarySearch(adj.ghosts, s.ids(k))) = s.sets(k)
          k += 1
        }
      }
      val local = Array.tabulate(adj.n)(b.sameNbrs)
      val common = new Array[Int](adj.nbrs.length)
      var i = 0
      while (i < adj.n) {
        var j = adj.offs(i)
        while (j < adj.offs(i + 1)) {
          if (b.nbrLabel(j) == b.label(i)) {
            val r = adj.ref(j)
            common(j) = SortedIntersect.count(local(i), if (r >= 0) local(r) else remote(~r))
          }
          j += 1
        }
        i += 1
      }
      Iterator((pid, f(b, common)))
    }
  }

  /** The job-result function: a block's stats partial and carried sums */
  private def partialOf(it: Iterator[(Int, VertexBlock)]): Partial = partial(it.next()._2)

  /** a block's stats partial (none while its same-community degrees
   * are unknown) and carried sums */
  private[wcc] def partial(b: VertexBlock): Partial = {
    if (b.own == null)
      return new Partial(Array.emptyLongArray, Array.emptyLongArray, b.wccPrev, b.moved)
    val m = new java.util.HashMap[Long, Array[Long]]()
    var i = 0
    while (i < b.adj.n) {
      var a = m.get(b.label(i))
      if (a == null) { a = new Array[Long](3); m.put(b.label(i), a) }
      a(0) += 1; a(1) += b.own(i); a(2) += b.adj.deg(i) - b.own(i)
      i += 1
    }
    val cIds = new Array[Long](m.size)
    val sums = new Array[Long](3 * m.size)
    var k = 0
    m.forEach { (c, a) =>
      cIds(k) = c; System.arraycopy(a, 0, sums, 3 * k, 3); k += 1
    }
    new Partial(cIds, sums, b.wccPrev, b.moved)
  }

  /** Driver fold of the per-partition results, in partition order:
   * community stats (integer sums: a(c) is half the summed
   * same-community degree, every internal edge being seen from both
   * ends), the WCC_V sum and the move count. */
  private[wcc] def merge(parts: Array[Partial]): (Map[Long, CommunityData], Double, Long) = {
    val m = new java.util.HashMap[Long, Array[Long]]()
    parts.foreach { p =>
      var k = 0
      while (k < p.cIds.length) {
        val a = m.get(p.cIds(k))
        if (a == null) m.put(p.cIds(k), java.util.Arrays.copyOfRange(p.sums, 3 * k, 3 * k + 3))
        else { a(0) += p.sums(3 * k); a(1) += p.sums(3 * k + 1); a(2) += p.sums(3 * k + 2) }
        k += 1
      }
    }
    val cs = Map.newBuilder[Long, CommunityData]
    m.forEach((c, a) => cs += ((c, CommunityData(a(0).toInt, (a(1) / 2).toDouble, a(2).toInt))))
    (cs.result(), foldInOrder(parts.map(_.wcc)), parts.map(_.moved).sum)
  }

  private def foldInOrder(xs: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < xs.length) { s += xs(i); i += 1 }
    s
  }
}
