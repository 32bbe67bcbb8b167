package graft.ops

import graft.SparkSpec
import graft.graph.GraphAlgs

/** SCC peel loop: exact agreement with a driver-side iterative
 * Kosaraju on a seeded random digraph and on the g_scc fixture
 * derivation, plus the structural invariants (labels are min
 * members; sizes consistent). */
class SccSpec extends SparkSpec {

  /** Iterative Kosaraju (explicit stacks — no recursion depth
   * limit): returns vid -> min member of its SCC. */
  private def kosaraju(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val fwd = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val rev = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val visited = scala.collection.mutable.Set.empty[Long]
    val order = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (s <- verts if !visited.contains(s)) {
      // iterative post-order DFS
      val stack = scala.collection.mutable.Stack[(Long, Int)]((s, 0))
      visited += s
      while (stack.nonEmpty) {
        val (v, i) = stack.pop()
        val out = fwd.getOrElse(v, Seq.empty)
        if (i < out.length) {
          stack.push((v, i + 1))
          val w = out(i)
          if (!visited.contains(w)) { visited += w; stack.push((w, 0)) }
        } else order += v
      }
    }
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    for (s <- order.reverseIterator if !comp.contains(s)) {
      val members = scala.collection.mutable.ArrayBuffer(s)
      comp(s) = s
      val stack = scala.collection.mutable.Stack(s)
      while (stack.nonEmpty) {
        val v = stack.pop()
        for (w <- rev.getOrElse(v, Seq.empty)
             if !comp.contains(w)) {
          comp(w) = s; members += w; stack.push(w)
        }
      }
      val m = members.min
      members.foreach(v => comp(v) = m)
    }
    comp.toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val got = GraphAlgs.sccDetDF(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = kosaraju(edges)
    val sizes = want.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(got.keySet === want.keySet)
    for ((v, (s, n)) <- got) {
      assert(s === want(v), s"vertex $v: scc $s, want ${want(v)}")
      assert(n === sizes(want(v)), s"vertex $v: size $n")
    }
  }

  test("sccDetDF equals Kosaraju on a seeded random digraph") {
    val rnd = new scala.util.Random(20260815L)
    // ~2 out-edges/vertex: giant SCC + tail, plus isolated cycles
    val n = 400
    val edges = (Seq.tabulate(2 * n)(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
      // a planted 5-cycle on high ids, disconnected from the rest
      (0 until 5).map(i => (1000L + i, 1000L + (i + 1) % 5)))
      .filter { case (a, b) => a != b }.distinct
    check(edges)
  }

  test("sccDetDF handles a pure DAG (all singletons) and a 2-cycle") {
    check(Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 4L)))
  }

  test("sccDetDF converges on a high-diameter SCC far below the old depth guard") {
    import spark.implicits._
    // a directed 3000-cycle: one SCC of diameter 2999 — plain
    // min-propagation needs ~3000 inner rounds and tripped the
    // maxInner=200 guard; interleaved label pointer jumping
    // (every 2nd round) converges in O(log n). maxInner stays 200:
    // passing AT ALL proves the escape.
    val n = 3000
    val cycle = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
    val got = GraphAlgs.sccDetDF(cycle.toDF("src", "dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === n)
    assert(got.forall { case (_, s, sz) => s == 0L && sz == n.toLong })
  }

  test("dagLevelsDF computes longest-path layering; loud on a cycle") {
    import spark.implicits._
    // diamond + a long tail: levels are longest paths, not BFS hops
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (1L, 5L), (10L, 11L))
    val lv = GraphAlgs.dagLevelsDF(dag.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lv === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L,
      5L -> 4L, 10L -> 1L, 11L -> 2L))
    // the tripped guard releases everything the loop cached
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException] {
      GraphAlgs.dagLevelsDF(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
        maxIter = 10)
    }
    assert(ex.getMessage.contains("cycle"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("sccDetDF on the g_scc fixture at sf0.001 matches Kosaraju") {
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = raw.as("a").join(raw.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").cast("long").as("src"),
        col("b.l_partkey").cast("long").as("dst")).distinct()
      .withColumn("h", md5(concat(col("src").cast("string"), lit("-"),
        col("dst").cast("string"))))
      .where(substring(col("h"), 1, 1) === "0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val edges = (pairs.map { case (s, d, h) =>
      if (h(1) < '8') (s, d) else (d, s)
    } ++ pairs.filter(_._3(2) == '0').map { case (s, d, h) =>
      if (h(1) < '8') (d, s) else (s, d)
    }).toSeq.distinct
    assert(edges.nonEmpty)
    check(edges)
  }
}
