package graft.streaming

import graft.SparkSpec
import graft.queries.RelationalQueries
import graft.wcc.{GraphFixtures, IncrementalWCC}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamOpsSpec extends SparkSpec {

  test("streaming hourly counts equal the batch aggregation") {
    val sfDir = "/root/testdata/sf0.001"
    val streamed = StreamOps.hourlyEventCounts(spark, sfDir).collect()
    val batch = RelationalQueries.eventsHourly(spark, sfDir).collect()
    assert(streamed.length === batch.length)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("rocksdb state-store twin equals the default-backend result and restores the conf") {
    val sfDir = "/root/testdata/sf0.001"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val rocks = StreamOps.hourlyEventCountsRocksDB(spark, sfDir).collect()
    assert(spark.conf.getOption(key) === before,
      "provider conf must be restored after the RocksDB-backed query")
    val default = StreamOps.hourlyEventCounts(spark, sfDir).collect()
    assert(rocks.map(_.toSeq).toSeq === default.map(_.toSeq).toSeq)
  }

  test("streaming watermarked dedup equals batch distinct per key") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val streamed = StreamOps.streamingDedup(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming helpers are re-invocable in one session (unique sinks, cleaned dirs)") {
    val sfDir = "/root/testdata/sf0.001"
    val first = StreamOps.hourlyEventCounts(spark, sfDir).collect()
    val second = StreamOps.hourlyEventCounts(spark, sfDir).collect()
    assert(first.map(_.toSeq).toSeq === second.map(_.toSeq).toSeq)
  }

  test("stream-stream range join equals the batch range join") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val streamed = StreamOps.streamStreamJoin(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    // batch leg: normalize ts the same way the library does (nanos
    // Long or micros TIMESTAMP_NTZ, depending on the generator)
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val e = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("us", expr("ts div 1000"))
      case _ =>
        raw.withColumn("us",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)))
    })
    val p = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("us").as("pus"))
    val v = e.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("vid"), col("us").as("vus"))
    val batch = p.join(v, Seq("user_id"))
      .where(col("vus") <= col("pus") && col("vus") >= col("pus") - 3600L * 1000000)
      .select(col("pid"), col("vid"), (col("pus") - col("vus")).as("gap"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("foreachBatch incremental WCC matches the driver-loop result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // bulk triangle {1,2,3}, streamed batch adds triangle {3,4,5}
    val bulk = GraphFixtures.graphOf(spark, Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val init = IncrementalWCC.prepare(bulk)

    val stream = MemoryStream[(Long, Long)]
    stream.addData((3L, 4L), (4L, 5L), (3L, 5L))
    val edgesDf = stream.toDF().toDF("src", "dst")
    // both folds start from `init`: the first must not release it (a
    // released state is a lineage cut that cannot be recomputed)
    val streamedState = StreamOps.incrementalWcc(edgesDf, init, releaseInitial = false)

    val loopState = IncrementalWCC.run(init,
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.graphx.Edge(3L, 4L, 1),
        org.apache.spark.graphx.Edge(4L, 5L, 1),
        org.apache.spark.graphx.Edge(3L, 5L, 1))))

    val a = streamedState.graph.vertices.collect().map { case (id, vd) => (id, vd.cId) }.sortBy(_._1)
    val b = loopState.graph.vertices.collect().map { case (id, vd) => (id, vd.cId) }.sortBy(_._1)
    assert(a.toSeq === b.toSeq)
  }

  test("s_wcc_incremental emits identical rows with the whole-region shortcut on and off") {
    // VERDICT r15 item 3: bench runs set graft.stream.wccShortcut=off
    // (honest fold timing) while verify leaves it unset (memoized
    // twin) — pin the two paths row-identical so the bench-honesty
    // gate can never drift from the verify path. The runtime
    // anti-join guard checks content per run; this spec pins the
    // cross-path identity permanently.
    val sfDir = "/root/testdata/sf0.001"
    val key = "graft.stream.wccShortcut"
    val before = sys.props.get(key)
    def rows(): Seq[(Long, Long)] =
      StreamOps.incrementalWccStream(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    try {
      sys.props.remove(key)
      val withShortcut = rows()
      sys.props(key) = "off"
      val withoutShortcut = rows()
      assert(withShortcut.nonEmpty)
      assert(withShortcut === withoutShortcut)
    } finally {
      sys.props.remove(key)
      before.foreach(sys.props(key) = _)
    }
  }

  test("s_wcc_incremental file-source twin equals the batch replay") {
    val sfDir = "/root/testdata/sf0.001"
    // both fold the SAME session-memoized bulk state (not consumed:
    // releaseInput=false), so this also exercises state sharing
    val streamed = StreamOps.incrementalWccStream(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val batch = graft.queries.GraphQueries.wccIncremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("s_stream_ann per-batch retrieval equals the batch cell probe") {
    val sfDir = "/root/testdata/sf0.001"
    val streamed = StreamOps.annRetrieveStream(spark, sfDir).collect()
      .map(_.toSeq)
    val batch = graft.ops.Similarity
      .ivfTopK(spark.read.parquet(s"$sfDir/embeddings.parquet"))
      .withColumn("rank", org.apache.spark.sql.functions.col("rank").cast("long"))
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("s_stream_semdedup drains to the batch answer across all three comparison legs") {
    val sfDir = "/root/testdata/sf0.001"
    val out = StreamOps.semDedupStream(spark, sfDir).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    assert(out.nonEmpty && out.length % 3 === 0)
    val (a, rest) = out.partition(_._1 < 200000L)
    val (b, c) = rest.partition(_._1 < 300000L)
    assert(a.length === b.length && b.length === c.length)
    // group B (reversed vectors — novel directions) is KEPT
    assert(b.forall { case (_, dup, kept) => kept && dup.isEmpty })
    // group A (near-copies of corpus vectors) dies against the
    // STATIC pool with dup_of = the corpus source id — except the
    // few arrivals whose re-quantization (different max_abs after
    // the +0.1 shift) lands them in a different k-means cell than
    // their source: SemDeDup's cluster bucketing never compares
    // cross-cell pairs (the documented approximation), so those few
    // are kept. Same for group C against the ACCUMULATED STATE from
    // an earlier micro-batch (dup_of = the group-B id).
    for (g <- Seq(a, c)) {
      assert(g.filterNot(_._3).forall { case (id, dup, _) =>
        dup.contains(id - 100000L) })
      assert(g.count(_._3) <= g.length / 10,
        "cross-cell misses must stay the rare exception in the fixture")
    }
  }

  test("update-mode mapGroupsWithState running state equals the batch aggregate") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runningUserState(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("value")) * 1e4 + 0.5) / 1e4).as("s"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.toSeq === batch.toSeq)
  }

  test("checkpointed stop-and-resume equals the batch aggregate (no recount, no double count)") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val resumed = StreamOps.checkpointedResume(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("value")) * 1e4 + 0.5) / 1e4).as("s"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(resumed.toSeq === batch.toSeq)
  }

  test("drainExitCleanup removes file-sink temp trees once results are materialized") {
    val sfDir = "/root/testdata/sf0.001"
    // flush trees left behind by earlier tests so the counts below
    // are this test's own
    StreamOps.drainExitCleanup()
    val rows = StreamOps.fileSinkRoundtrip(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // result is materialized -> draining now is safe and removes the
    // sink's output + checkpoint trees (ADVICE r16: without a drain
    // they persist for the whole process lifetime). ">= 2", not
    // "== 2" (ADVICE r17): the two trees named by the contract are
    // fileSinkRoundtrip's parquet OUTPUT dir and its CHECKPOINT dir;
    // a query that later registers more trees (or a parallel suite)
    // must not fail this spec spuriously — the leak signal is "fewer
    // than the two this call just registered".
    assert(StreamOps.drainExitCleanup() >= 2)
    // idempotence: valid because this project's suites share one JVM
    // and run SEQUENTIALLY (SparkSpec contract) — under parallel
    // suites this would be as racy as the == 2 it replaced
    assert(StreamOps.drainExitCleanup() == 0) // queue drained, idempotent
  }

  test("statePartitionsFor: floor 8, one store per 1M keys, capped") {
    // the measured rule (PERF r18): bounded drains resolve to the
    // floor; width grows with state volume for cluster memory fit
    assert(StreamOps.statePartitionsFor(0) == 8)
    assert(StreamOps.statePartitionsFor(16384) == 8)
    assert(StreamOps.statePartitionsFor(1L << 20) == 8)
    assert(StreamOps.statePartitionsFor(9L << 20) == 9)
    assert(StreamOps.statePartitionsFor(100L << 20) == 100)
    assert(StreamOps.statePartitionsFor(Long.MaxValue / 2) == (1 << 15))
    // overflow guard (ADVICE r18): the old (keys + Max - 1) ceiling
    // add wrapped negative near Long.MaxValue and returned the FLOOR
    assert(StreamOps.statePartitionsFor(Long.MaxValue) == (1 << 15))
    assert(StreamOps.statePartitionsFor(Long.MaxValue - 1) == (1 << 15))
    // RocksDB throughput term (PERF r24): per-batch rows per store is
    // a second widening trigger, independent of key count; 64k
    // rows/store budget, default 0 changes nothing
    assert(StreamOps.statePartitionsFor(16384, 0) == 8)
    assert(StreamOps.statePartitionsFor(12000, 1500000) == 23)
    assert(StreamOps.statePartitionsFor(9L << 20, 1L << 16) == 9)
    assert(StreamOps.statePartitionsFor(0, Long.MaxValue) == (1 << 15))
  }

  test("withShufflePartitions: same-thread nesting stacks; cross-thread overlap fails loudly") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // same-thread nesting (the RocksDB wrap composes the narrowing):
    // inner scope restores to the outer scope's value, outer to before
    StreamOps.withShufflePartitions(spark, 8) {
      assert(spark.conf.get(key) == "8")
      StreamOps.withShufflePartitions(spark, 6) {
        assert(spark.conf.get(key) == "6")
      }
      assert(spark.conf.get(key) == "8")
    }
    assert(spark.conf.get(key) == before)
    // cross-thread overlap (ADVICE r17): a second scope on the same
    // session from another thread must fail LOUDLY, not silently run
    // someone else's query at the narrowed width
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      StreamOps.withShufflePartitions(spark, 8) {
        entered.countDown(); release.await()
      })
    holder.start()
    entered.await()
    try {
      val e = intercept[IllegalStateException] {
        StreamOps.withShufflePartitions(spark, 8) { fail("must not enter") }
      }
      assert(e.getMessage.contains("concurrent withShufflePartitions"))
    } finally { release.countDown(); holder.join() }
    assert(spark.conf.get(key) == before)
  }

  test("stream-stream left outer join: inner matches plus watermark-gated null rows") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val rows = StreamOps.streamStreamLeftOuter(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val inner = StreamOps.streamStreamJoin(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // every inner match appears, null rows only for unmatched purchases
    assert(inner.subsetOf(rows.toSet))
    val nulls = rows.filter(_._2 == -1L).map(_._1).toSet
    assert(nulls.intersect(inner.map(_._1)).isEmpty)
    assert(rows.length >= inner.size)
  }
}
