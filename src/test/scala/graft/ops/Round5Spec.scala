package graft.ops

import graft.SparkSpec
import graft.graph.{EdgeOps, GraphAlgs}
import org.apache.spark.sql.functions._

class Round5Spec extends SparkSpec {

  import spark.implicits._

  // ---- coreness hub safety -----------------------------------------

  test("coreness on a hub star stays correct (receiver-clipped histograms)") {
    // star: hub 0 with 40 leaves, plus a triangle {100,101,102}
    // hanging off leaf 1. Round-0 state for each leaf is a clipped
    // 2-slot histogram, NOT a hub-degree-sized array (the 10x Zipf
    // probe OOMed the old value-indexed combiner at deg≈200k) —
    // asserted here by value: hub and leaves are 1-core, triangle 2.
    val star = (1L to 40L).map(l => (0L, l))
    val tri = Seq((100L, 101L), (100L, 102L), (101L, 102L), (1L, 100L))
    val g = EdgeOps.toGraph((star ++ tri).toDF("src", "dst"))
    val core = GraphAlgs.coreness(g).vertices.collect().toMap
    assert(core(0L) == 1 && core(40L) == 1 && core(1L) == 1)
    assert(core(100L) == 2 && core(101L) == 2 && core(102L) == 2)
  }

  test("coreness on a clique-plus-pendant graph") {
    // triangle {1,2,3} + pendant 4-1: triangle has coreness 2, pendant 1
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
      .toDF("src", "dst")
    val g = EdgeOps.toGraph(edges)
    val core = GraphAlgs.coreness(g).vertices.collect().toMap
    assert(core(1L) == 2 && core(2L) == 2 && core(3L) == 2 && core(4L) == 1)
  }

  // ---- multi-source BFS --------------------------------------------

  test("multiSourceBfs agrees with per-source bfsHops") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 6L), (7L, 8L))
      .toDF("src", "dst")
    val g = EdgeOps.toGraph(edges)
    val sources = Array(1L, 7L)
    val multi = GraphAlgs.multiSourceBfs(g, sources, maxHops = 10)
      .vertices.collect().toMap
    sources.zipWithIndex.foreach { case (s, i) =>
      val single = GraphAlgs.bfsHops(g, s, maxHops = 10).vertices.collect().toMap
      multi.foreach { case (vid, ds) =>
        val expected = single(vid)
        val got = if (ds(i) == Int.MaxValue) Long.MaxValue else ds(i).toLong
        assert(got == expected, s"vid=$vid source=$s")
      }
    }
  }

  test("multiSourceBfsRDD frontier loop agrees with the Pregel form") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 6L), (7L, 8L))
      .toDF("src", "dst")
    val g = EdgeOps.toGraph(edges)
    val sources = Array(1L, 7L)
    val pregel = GraphAlgs.multiSourceBfs(g, sources, maxHops = 10)
      .vertices.collect().toMap
      // the RDD form only carries touched vertices
      .filter { case (_, ds) => ds.exists(_ != Int.MaxValue) }
    val (state, scope) = GraphAlgs.multiSourceBfsRDD(g, sources, maxHops = 10)
    val rdd = state.collect().toMap
    scope.close()
    assert(rdd.keySet === pregel.keySet)
    rdd.foreach { case (vid, ds) =>
      assert(ds.toSeq === pregel(vid).toSeq, s"vid=$vid")
    }
    // maxHops cap semantics match the Pregel superstep budget
    val (capped, scope2) = GraphAlgs.multiSourceBfsRDD(g, Array(1L), maxHops = 2)
    val cm = capped.collect().toMap
    scope2.close()
    assert(cm(3L)(0) === 2 && !cm.contains(4L))
  }

  // ---- resource allocation -----------------------------------------

  test("resourceAllocation sums 1/deg over common neighbors") {
    // square 1-2-3-4-1 plus diagonal 1-3: edge (1,3) has common
    // neighbors 2 and 4, each with degree 2 -> RA = 1.0
    val canon = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("src", "dst")
    val ra = GraphAlgs.resourceAllocation(canon, EdgeOps.symmetrize(canon))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(ra((1L, 3L)) == ((2L, 1.0)))
    // edge (1,2): common neighbor 3 (degree 3) -> RA = 1/3
    assert(ra((1L, 2L))._1 == 1L)
    assert(math.abs(ra((1L, 2L))._2 - 0.333333) < 1e-9)
  }

  // ---- winnowing ---------------------------------------------------

  test("winnowed fingerprints: shared long substring yields a shared fingerprint") {
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 shared words > w+k-1=8
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon zeta eta theta"),
      (2L, s"$shared completely different suffix words here now ok")
    ).toDF("doc_id", "text")
    val fp = TextOps.winnowedFingerprints(docs, k = 4, w = 5)
    val byDoc = fp.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet)
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty,
      "winnowing guarantee: substrings of >= w+k-1 tokens share a fingerprint")
  }

  test("SHUFFLE_HASH hint steers the join strategy") {
    val df = graft.queries.Round5Queries.joinHints(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"expected ShuffledHashJoin in:\n${plan.take(600)}")
  }

  test("range-partitioned write produces disjoint sorted files") {
    val r = graft.queries.Round5Queries
      .rangePartitionedWrite(spark, "/root/testdata/sf0.001").head()
    assert(r.getLong(0) === 4L, "4 non-empty range files")
    assert(r.getLong(2) === 0L, "no overlapping file ranges")
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // a broadcastable creation side suppresses the rule (broadcast
      // joins don't need a runtime filter) — force the shuffle path
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // selective dimension (1 order priority) joined to the fact scan
      val dim = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      // disable broadcast so the join is shuffle-based (bloom filters
      // target shuffle joins; a broadcast join would not need one)
      val joined = fact.hint("MERGE")
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter") ||
        plan.contains("might_contain"),
        s"expected a runtime bloom filter in:\n${plan.take(1500)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("observe() emits accumulated metrics matching the batch aggregate") {
    import org.apache.spark.sql.functions._
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var row: Option[org.apache.spark.sql.Row] = None
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = {
        qe.observedMetrics.get("stats").foreach(r => row = Some(r))
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .observe("stats", count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      val expectN = df.count()
      // listener fires asynchronously after the action completes
      var waited = 0
      while (listener.row.isEmpty && waited < 10000) { Thread.sleep(100); waited += 100 }
      val m = listener.row.getOrElse(fail("observe metrics never arrived"))
      assert(m.getAs[Long]("n") === expectN)
      assert(m.getAs[Long]("chars") ===
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .agg(sum(col("n_chars"))).head().getLong(0))
    } finally spark.listenerManager.unregister(listener)
  }

  test("winnowing density is ~2/(w+1) and never selects outside the hash set") {
    val words = (1 to 300).map(i => s"w${(i * 7919) % 97}").mkString(" ")
    val docs = Seq((1L, words)).toDF("doc_id", "text")
    val n = TextOps.winnowedFingerprints(docs, k = 4, w = 5).count()
    // 297 shingles, expected ~2/6*293 distinct-ish window mins; loose bounds
    assert(n > 20 && n < 200, s"selected $n fingerprints")
  }
}
