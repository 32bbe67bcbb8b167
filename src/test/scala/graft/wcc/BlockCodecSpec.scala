package graft.wcc

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, StreamCorruptedException}

import graft.SparkSpec
import org.apache.spark.HashPartitioner

/** [[BlockCodec]], the wire format of the block exchanges: every
 * message type round-trips value for value (null arrays stay null,
 * doubles keep their bits), a stream of records ends cleanly at EOF,
 * and a shuffle through [[RefineState.exchange]] delivers on both
 * shuffle-writer paths. */
class BlockCodecSpec extends SparkSpec {
  import BlockCodecSpec.view

  private val extremes = Array(Long.MinValue, -1L, 0L, 1L, 127L, 128L, Long.MaxValue)

  private val records: Seq[(Int, BlockMessage)] = Seq(
    0 -> new EdgeSlots(extremes, extremes.reverse),
    1 -> new EdgeSlots(Array(3L, 4L), Array(-9L, 9L)),
    2 -> new EdgeSlots(null, Array(4L)),
    3 -> new EdgeSlots(Array.emptyLongArray, Array.emptyLongArray),
    10 -> new GhostAttrs(extremes, Array.fill(7)(-300L),
      Array(Int.MinValue, -1, 0, 1, 63, 64, Int.MaxValue), Array(-5, 5, -64, 64, 0, 7, -7)),
    11 -> new GhostAttrs(Array(3L, 4L), Array(-2L, Long.MaxValue), null, null),
    12 -> new GhostAttrs(Array.emptyLongArray, Array.emptyLongArray, Array.emptyIntArray,
      Array.emptyIntArray),
    Int.MaxValue -> new Moves(7, extremes, extremes, -0.0, Long.MaxValue),
    5 -> new Moves(-1, Array.emptyLongArray, Array.emptyLongArray, Double.NaN, Long.MinValue),
    6 -> new Moves(0, Array(1L), Array(2L), 1234.5678e-9, 0L),
    7 -> new SameSets(extremes, Array.fill(7)(extremes)),
    8 -> new SameSets(Array(1L, 2L), Array(Array.emptyLongArray, Array(-1L, 0L))),
    9 -> new SameSets(Array.emptyLongArray, Array.empty[Array[Long]]))

  private def written(body: org.apache.spark.serializer.SerializationStream => Unit): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = BlockCodec.newInstance().serializeStream(bytes)
    body(out)
    out.close()
    bytes.toByteArray
  }

  test("every message type round-trips value for value") {
    val inst = BlockCodec.newInstance()
    records.foreach { case (k, m) =>
      assert(view(inst.deserialize[Any](inst.serialize[Any](m))) === view(m))
      assert(inst.deserialize[Any](inst.serialize[Any](k)) === k)
    }
  }

  test("a stream of keyed records reads back in order and ends cleanly at EOF") {
    val bytes = written(out => records.foreach { case (k, m) => out.writeKey(k); out.writeValue(m) })
    val back = BlockCodec.newInstance().deserializeStream(new ByteArrayInputStream(bytes))
      .asKeyValueIterator.toSeq
    assert(back.map { case (k, m) => (k, view(m)) } === records.map { case (k, m) => (k, view(m)) })
    assert(BlockCodec.newInstance().deserializeStream(new ByteArrayInputStream(Array.emptyByteArray))
      .asKeyValueIterator.isEmpty)
  }

  test("a record cut short fails instead of ending the stream") {
    val bytes = written(_.writeObject(records.head._2))
    val in = BlockCodec.newInstance()
      .deserializeStream(new ByteArrayInputStream(bytes.take(bytes.length - 1)))
    intercept[StreamCorruptedException](in.readObject[Any]())
  }

  test("an unknown record type fails loudly and names its class") {
    val e = intercept[IllegalArgumentException](written(_.writeObject("a string")))
    assert(e.getMessage.contains("java.lang.String"), e.getMessage)
  }

  test("exchange delivers every message on both shuffle-writer paths") {
    val sc = spark.sparkContext
    // 8 target partitions take the bypass-merge writer, 257 (above
    // spark.shuffle.sort.bypassMergeThreshold = 200) the sort writer
    Seq(8, 257).foreach { n =>
      val part = new HashPartitioner(n)
      val msgs = (0 until n by 3).map(q =>
        (q, new Moves(q, Array(q.toLong, -q.toLong, Long.MinValue), Array(q * 7L, 1L, Long.MaxValue),
          q / 3.0, q.toLong)))
      val got = RefineState.exchange(sc.parallelize(msgs, 4), part)
        .mapPartitionsWithIndex((pid, it) => it.map { case (q, m) => (pid, q, view(m)) })
        .collect().sortBy(_._2).toSeq
      assert(got === msgs.map { case (q, m) => (q, q, view(m)) })
    }
  }
}

object BlockCodecSpec {
  /** a message as comparable values: arrays as Options of Seqs, the
   * double as its raw bits */
  private def view(x: Any): Any = {
    def seq[A](a: Array[A]) = Option(a).map(_.toSeq)
    x match {
      case s: EdgeSlots => ("slots", seq(s.self), seq(s.nbr))
      case a: GhostAttrs => ("ghosts", seq(a.ids), seq(a.labels), seq(a.t), seq(a.vt))
      case m: Moves => ("moves", m.src, seq(m.ids), seq(m.labels),
        java.lang.Double.doubleToRawLongBits(m.wcc), m.moved)
      case s: SameSets => ("same", seq(s.ids), s.sets.toSeq.map(seq(_)))
      case other => other
    }
  }
}
