package graft.queries

import graft.SparkSpec
import graft.graph.GraphAlgs

/** Deterministic Luby MIS: independence + maximality on real data,
 * and exact (vid, round) agreement with a sequential replay of the
 * same md5-priority knockout rounds. */
class MisSpec extends SparkSpec {

  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Sequential replay: per round, every undecided vertex whose
   * (md5, vid) precedes all undecided neighbors' joins; members and
   * their neighbors leave the undecided set. */
  private def sequentialLuby(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
    edges.foreach { case (a, b) =>
      adj(a) = adj.getOrElse(a, Set.empty) + b
      adj(b) = adj.getOrElse(b, Set.empty) + a
    }
    val pr = adj.keys.map(v => v -> md5hex(v.toString)).toMap
    var undecided = adj.keySet.toSet
    val out = scala.collection.mutable.Map[Long, Long]()
    var round = 0L
    while (undecided.nonEmpty) {
      round += 1
      val joined = undecided.filter(v => adj(v).forall(u =>
        !undecided.contains(u) ||
          pr(v) < pr(u) || (pr(v) == pr(u) && v < u)))
      joined.foreach(v => out(v) = round)
      undecided = undecided -- joined -- joined.flatMap(adj)
      assert(round <= 100, "sequential replay not converging")
    }
    out.toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val df = edges.toDF("src", "dst")
    val got = GraphAlgs.misDetDF(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

    // exact trajectory agreement with the sequential replay
    assert(got === sequentialLuby(edges))

    // independence: no edge inside the MIS
    val mis = got.keySet
    assert(!edges.exists { case (a, b) => mis(a) && mis(b) })

    // maximality: every non-member vertex has an MIS neighbor
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    adj.keys.filterNot(mis).foreach { v =>
      assert(adj(v).exists(mis), s"non-member $v has no MIS neighbor")
    }
  }

  test("mis on a path, a clique, and a star") {
    check(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    check(for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b))
    check((2L to 30L).map(v => (1L, v)))
  }

  test("mis loud on an exhausted round budget, with nothing left cached") {
    // a 40-vertex path needs more than one knockout round
    val path = (1L until 40L).map(v => (v, v + 1)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException](GraphAlgs.misDetDF(path, maxIter = 1))
    assert(ex.getMessage.contains("raise maxIter"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("mis on the sf0.001 co-purchase graph: replay, independence, maximality") {
    val e = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .selectExpr("l_orderkey AS o", "l_partkey AS p")
    val edges = e.as("a").join(e.as("b"), "o")
      .where($"a.p" < $"b.p")
      .select($"a.p".cast("long").as("src"), $"b.p".cast("long").as("dst"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    check(edges)
  }
}
