package graft.streaming

import graft.graph.EdgeOps
import graft.wcc.IncrementalWCC
import org.apache.spark.graphx.Edge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/**
 * Streaming surface (SURVEY.md §2.9).
 *
 * The reference's "stream" is a simulated micro-batch replay of a
 * bounded file with driver-held state between batches
 * (`CSVGraph.scala:47-103`) — `IncrementalWCC.testStream` is the
 * faithful driver-loop port. This module adds the idiomatic
 * Structured Streaming wrappers:
 *
 *  - `incrementalWcc`: `foreachBatch` sink folding micro-batches of
 *    edges into the same `IncrementalWCC.run` state machine the
 *    driver loop uses (state lives on the driver across batches,
 *    like the reference's `itGraph`/`cStats`);
 *  - `hourlyEventCounts`: event-time tumbling-window aggregation over
 *    the events table, runnable as a real streaming query (memory
 *    sink, complete mode) with identical results to the batch form.
 */
object StreamOps {

  /** Memory-sink names are per-call unique so re-invocation in one
   * session never collides with an earlier query's sink table. The
   * sink tables are deliberately never dropped: the returned
   * DataFrames read them LAZILY, so dropping would invalidate live
   * results. Retention is bounded by the harness shape — Verify and
   * each Bench run use a FRESH session and run each query once, so a
   * session holds at most one (small, aggregate-sized) result copy
   * per streaming query; a long-lived interactive session calling
   * these repeatedly should materialize and drop. */
  private val callSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Expose the single events parquet file through a throwaway
   * directory (the streaming file source only lists directories).
   * One file => AvailableNow drains it as ONE micro-batch, which is
   * what gives flatMapGroupsWithState cross-batch event-time order
   * for free; `assertSingleFile` makes that contract explicit. */
  private def stagedEventsDir(sfDir: String): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    require(java.nio.file.Files.isRegularFile(src),
      s"$src must be a single parquet file — multi-file inputs would " +
        "drain as several micro-batches with no cross-batch order guarantee")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.createSymbolicLink(dir.resolve("events.parquet"), src)
    dir
  }

  private def cleanup(dir: java.nio.file.Path): Unit = {
    try {
      java.nio.file.Files.deleteIfExists(dir.resolve("events.parquet"))
      java.nio.file.Files.deleteIfExists(dir)
    } catch {
      // best-effort: nio wraps some IO failures in UncheckedIOException
      // (a RuntimeException) — neither may escape a finally block and
      // clobber the method's real result
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
  }

  /** ONE process-wide shutdown hook deleting every registered temp
   * tree — a per-call `sys.addShutdownHook` would register a fresh
   * hook THREAD per invocation and pin every closure's paths for the
   * JVM lifetime (review r16). Paths whose query results must stay
   * readable for the session (file-sink outputs are read LAZILY by
   * the returned DataFrame) are registered here instead of deleted
   * inline. */
  private val exitCleanupPaths =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val exitCleanupHook: Unit = {
    sys.addShutdownHook {
      var p = exitCleanupPaths.poll()
      while (p != null) { cleanupTree(p); p = exitCleanupPaths.poll() }
    }
    ()
  }
  private def cleanupOnExit(paths: java.nio.file.Path*): Unit = {
    exitCleanupHook
    paths.foreach(exitCleanupPaths.add)
  }

  /** Drain the exit-cleanup queue NOW (ADVICE r16): file-sink temp
   * trees (output + checkpoint dirs) otherwise accumulate on disk
   * for the whole process lifetime, which is fine for the
   * fresh-session Verify/Bench harness but not for a long-lived
   * interactive session. CONTRACT: DataFrames returned by the
   * file-sink queries read their parquet LAZILY — materialize
   * (collect/write/cache+count) every result you still need BEFORE
   * draining, or its next action fails on the deleted files.
   * Returns the number of trees deleted. */
  def drainExitCleanup(): Int = {
    var n = 0
    var p = exitCleanupPaths.poll()
    while (p != null) { cleanupTree(p); n += 1; p = exitCleanupPaths.poll() }
    n
  }

  /** Per-operator state-store sizing rule (VERDICT r17 item 4: the
   * r17 narrowing was a constant; this is the measured rule it was a
   * special case of). For a stateful streaming query, shuffle
   * partitions = state-store INSTANCES, so size to STATE VOLUME:
   * one store per [[MaxKeysPerStore]] expected distinct state keys,
   * floored at 8 (amortizes the per-store open/commit constant that
   * dominates bounded drains) — the floor keeps every current s_*
   * drain at the r17-verified width. Growth table (ScaleProbe
   * `stream-state`, 8 micro-batches, windowed agg, local[32]):
   * at 2.4M events the narrow drain wins ~20% wall at every key
   * cardinality (8.0 vs 9.9 s at 2.4k keys) and at 12M events /
   * 12M keys the two widths are wall-NEUTRAL (21.5 vs 20.3 s at
   * 1.5M keys per store) while the narrow run peaks 6 GiB LOWER
   * (16.1 vs 22.3 GiB — per-store map copies and commit snapshots
   * scale with instance count). So locally the open/commit constant
   * never hands over to a width win; the reason to widen at cluster
   * scale is per-store FIT — a store's state must sit in one
   * executor's memory and its commit inside a task's time budget —
   * which is exactly what the keys-per-store divisor expresses. */
  private[streaming] def statePartitionsFor(approxStateKeys: Long,
      approxBatchRows: Long = 0L): Int = {
    // divide-then-round-up (ADVICE r18): the ceiling-divide written as
    // (keys + Max - 1) / Max overflows Long for keys near Long.MaxValue,
    // flipping byVolume negative so an astronomically large estimate
    // would get the FLOOR instead of the cap
    def ceilDiv(n: Long, d: Long): Long = n / d + (if (n % d != 0) 1L else 0L)
    val byVolume = ceilDiv(approxStateKeys, MaxKeysPerStore)
    // RocksDB throughput term (PERF round-24): at 12M events the wide
    // drain beat the narrow one ~20-25% under RocksDB at EVERY key
    // cardinality including 12k keys — the per-BATCH commit work
    // (memtable flush + SST churn scales with the rows a store
    // ingests per batch, and parallelizes across instances) is a
    // second widening trigger independent of state volume. Measured
    // bracket: 190k rows/store/batch clearly narrow-loses, 47k wins;
    // 64k splits it conservatively. The heap provider never showed
    // this (its per-batch cost is memory copies that the narrow drain
    // amortizes better). HONESTY NOTE (review r19): no drain in this
    // library currently passes the parameter — every s_* source is a
    // bounded sf-table drain whose batches sit far below the budget,
    // so the term resolves to the floor anyway; it encodes the
    // measured cluster rule for a RocksDB deployment with real event
    // rates and is pinned by StreamOpsSpec, and the default 0 keeps
    // every existing drain's width byte-identical.
    val byThroughput = ceilDiv(approxBatchRows, MaxBatchRowsPerStore)
    math.max(8L, math.min(1L << 15, math.max(byVolume, byThroughput))).toInt
  }

  /** Measured-safe per-store key budget: the 10x probe ran 1.5M keys
   * per store without a wall or heap cliff; 1M keeps margin for
   * fatter values (session windows, top-k lists) than the probe's
   * (count, sum) pairs. */
  private val MaxKeysPerStore = 1L << 20

  /** RocksDB per-batch ingest budget per store instance (PERF
   * round-24): above ~190k rows/store/batch the narrow drain measured
   * ~20-25% slower at every key cardinality; 47k/store measured
   * fastest. 64k sits conservatively inside the bracket. */
  private val MaxBatchRowsPerStore = 1L << 16

  /** State-store partition count for the bounded stateful drains:
   * the state of every s_* query here is key-cardinality-bounded and
   * tiny (at most tens of thousands of keys), so the rule resolves
   * to its floor — 8 stores; sources and sinks stay at full width,
   * only the stateful exchange narrows. */
  private val StreamStatePartitions = statePartitionsFor(16384)

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set
   * to `n`, restoring the previous value after. For STATEFUL
   * streaming queries the shuffle partition count IS the state-store
   * instance count (a stream-stream join keeps FOUR stores per
   * partition), so a bounded local drain at the session default of
   * 32 pays 128 store open/commit cycles per micro-batch for state
   * that fits in a handful — at cluster scale the same knob is sized
   * to state volume, not left at the relational default. Values are
   * partition-count independent for the queries this wraps (set
   * semantics / per-key folds). Session-global like the RocksDB
   * provider flip: relies on the harness's strictly-sequential
   * query execution. */
  private[streaming] def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    // Guard rails (ADVICE r17): the narrowing is session-global, so a
    // concurrent scope on the SAME session would run someone else's
    // query at n and the restore would clobber a concurrent setter.
    // Overlap from another thread fails LOUDLY here instead of
    // silently mis-sizing both queries; same-thread nesting (the
    // RocksDB wrap composes this) stays legal — the inner scope
    // restores to the outer scope's value like a stack.
    val me = Thread.currentThread()
    val owner = narrowScopeOwner.putIfAbsent(spark, me)
    if (owner != null && (owner ne me))
      throw new IllegalStateException(
        s"concurrent withShufflePartitions scopes on one SparkSession " +
          s"(held by thread '${owner.getName}') — the session-global " +
          "narrowing requires sequential stateful drains; clone the " +
          "session (spark.newSession()) for concurrent streaming work")
    val outermost = owner == null
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally {
      // restore-don't-clobber: if some concurrent setter changed the
      // value mid-scope (not detectable at entry when it holds no
      // scope of its own), keep ITS value and say so, loudly.
      // Restore BEFORE releasing the owner slot (review r18): the
      // reverse order opens a window where a second thread legally
      // enters, reads the still-narrowed value as its "previous", and
      // either gets clobbered by our late restore or later "restores"
      // the session to the narrowed width permanently.
      val cur = spark.conf.get(key)
      if (cur == n.toString) spark.conf.set(key, prev)
      else System.err.println(s"[graft-stream] $key changed mid-scope " +
        s"($n -> $cur) by a concurrent setter — NOT restoring to $prev")
      if (outermost) narrowScopeOwner.remove(spark)
    }
  }

  /** Active [[withShufflePartitions]] scope owner per session (see
   * the guard above). Entries are removed when the outermost scope
   * exits, so the map stays one-entry-per-live-drain. */
  private val narrowScopeOwner =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Thread]()

  /** Start-and-drain a bounded stateful streaming query under the
   * narrowed state-store partitioning ([[StreamStatePartitions]]),
   * running `cleanupFn` whether or not the drain — or the START —
   * succeeds (review r17: a throwing `start` must still release the
   * staging temp tree). ONE definition so the narrowing cannot be
   * forgotten on a new drain site. `start` is by-name: the partition
   * count is read when the query starts, so the start must happen
   * inside the conf wrap. Returns the drained query (observe-metric
   * consumers read progress off it). Drains whose scope is wider
   * than start+await (the state-reader's post-drain store read, the
   * resume pair's two drains under one setting) keep their bespoke
   * wraps. */
  private def drainNarrow(spark: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)(
      cleanupFn: => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withShufflePartitions(spark, StreamStatePartitions) {
      try {
        val q = start
        q.awaitTermination()
        q
      } finally cleanupFn
    }

  /** Run `body` with the RocksDB state-store provider set on the
   * session, restoring the previous value after. transformWithState
   * requires RocksDB, and the provider class is only readable from
   * the SESSION conf, so the flip is session-global: this assumes no
   * OTHER streaming query starts on the same session concurrently
   * (Verify/Bench run queries strictly sequentially — the harness
   * contract). If concurrent execution is ever enabled, scope the
   * provider per-query or serialize the transformWithState queries. */
  private def withRocksDbProvider[T](spark: SparkSession)(body: => T): T = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // every RocksDB query here also narrows its stateful exchange:
    // one RocksDB INSTANCE (native allocation + SST churn) per
    // partition is the dominant per-query constant on a bounded drain
    try withShufflePartitions(spark, StreamStatePartitions)(body)
    finally prevProvider match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None => spark.conf.unset(providerKey)
    }
  }

  /** Best-effort recursive delete for checkpoint trees (RocksDB/HDFS
   * state files nest several levels deep). */
  private def cleanupTree(dir: java.nio.file.Path): Unit = {
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    } catch {
      // Files.walk's iterator wraps IO failures in UncheckedIOException
      // (a RuntimeException): catching bare IOException let a racing
      // state-maintenance thread (RocksDB async work right after
      // awaitTermination) turn this best-effort delete, called from
      // finally blocks, into the method's thrown result (review r16)
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
  }

  /** Fold a stream of (src, dst) edge batches into incremental WCC
   * state. Returns the final state after draining the (bounded)
   * stream. The caller provides the initial state from
   * `IncrementalWCC.prepare`; `releaseInitial = false` leaves that
   * state's graph cached (for callers folding from a shared,
   * session-memoized bulk state). Each fold releases the state it
   * folded from (the initial one only with `releaseInitial`) and all
   * else it cached besides the new state, so of the states the fold
   * makes only the final one stays cached. */
  def incrementalWcc(edges: DataFrame, initial: IncrementalWCC.State,
      releaseInitial: Boolean = true): IncrementalWCC.State = {
    @volatile var state = initial
    val q = edges.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val canon = EdgeOps.canonicalize(batch)
        val rdd = canon.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
        if (!rdd.isEmpty()) state = IncrementalWCC.run(state, rdd,
          releaseInput = releaseInitial || (state ne initial))
      }
      .start()
    q.awaitTermination()
    state
  }

  /** `s_wcc_incremental` (VERDICT r10 item 6): the idiomatic G9 mode
   * SURVEY §2.9 sketches — a Structured Streaming file source drained
   * by `Trigger.AvailableNow` whose `foreachBatch` sink folds each
   * micro-batch of edges through the `IncrementalWCC.run` state
   * machine, exactly like a production deployment would consume an
   * edge feed. The stream-region canonical edges (same
   * floor(maxId * 0.8) split rule as the driver-loop twin) are staged
   * as ONE parquet file, so AvailableNow delivers them as ONE
   * micro-batch and the final grafted labels are the same
   * single-batch replay the shared DuckDB oracle (`incrReplayCte`)
   * predicts for `g_wcc_incremental`. The expensive bulk prepare is
   * the session-memoized state shared with the batch twin
   * ([[graft.queries.WccQueries.idwccShared]]), so the first fold
   * keeps its input state (`releaseInput = false`). */
  def incrementalWccStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (initial, streamEdges) = graft.queries.WccQueries.idwccShared(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-idwcc-stream")
    try {
      val staged = dir.resolve("edges").toString
      streamEdges.coalesce(1).write.mode("overwrite").parquet(staged)
      val src = spark.readStream
        .schema(StructType(Seq(
          StructField("src", LongType), StructField("dst", LongType))))
        .parquet(staged)
      @volatile var state = initial
      val q = src.writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val canon = EdgeOps.canonicalize(batch).cache()
          if (canon.count() > 0)
            state = IncrementalWCC.run(state,
              canon.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1)),
              releaseInput = state ne initial)
          canon.unpersist(blocking = false)
          ()
        }
        .start()
      q.awaitTermination()
      // materialize the labels on the driver before the staging dir
      // (part of the result's lineage via the checkpointless source)
      // is deleted — #bulk-vertices rows of two longs, micro-sized
      val rows = state.graph.vertices
        .map { case (id, vd) => (id, vd.cId) }.collect().toSeq
      if (state ne initial) {
        state.graph.unpersistVertices(blocking = false)
        state.graph.edges.unpersist(blocking = false)
      }
      spark.createDataFrame(rows).toDF("vid", "cid").orderBy("vid")
    } finally cleanupTree(dir)
  }

  /** `s_stream_ann`: per-micro-batch ANN retrieval against a
   * persisted static index — the on-arrival enrichment / near-dup
   * lookup shape of a streaming ingestion pipeline. The
   * cell-partitioned IVF index is built once
   * ([[graft.ops.Similarity.ivfIndexBuild]], the batch side); the
   * query vectors are staged as four parquet files drained with
   * `maxFilesPerTrigger=1`, so the query genuinely runs multi-batch,
   * and each `foreachBatch` probes the static index through the
   * broadcast cell join + window top-k (window functions are legal
   * inside foreachBatch's batch context, unlike on a streaming
   * frame). Each query id arrives in exactly one micro-batch and
   * scoring touches only the static index, so the drained union is
   * row-identical to the batch probe — `p_ann_ivf`'s oracle predicts
   * it. Per-batch results collect to the driver (k rows per arriving
   * query — bounded by the batch size, never the corpus). */
  def annRetrieveStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-sann")
    try {
      val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val idxDir = dir.resolve("index").toString
      Similarity.ivfIndexBuild(embs, idxDir)
      val qDir = dir.resolve("queries").toString
      embs.where(col("vec_id") % 10 === 0)
        .repartition(4).write.mode("overwrite").parquet(qDir)
      val schema = spark.read.parquet(qDir).schema
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(qDir)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = Similarity.ivfIndexSearch(spark, idxDir,
            Similarity.ivfQuerySide(batch, queryMod = 1)).collect()
          out.synchronized {
            out ++= rows.map(r =>
              (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getDouble(3)))
          }
          ()
        }
        .start()
      q.awaitTermination()
      spark.createDataFrame(out.toSeq)
        .toDF("query_id", "rank", "neighbor_id", "score")
        .orderBy("query_id", "rank")
    } finally cleanupTree(dir)
  }

  /** `s_stream_semdedup`: online SEMANTIC dedup-on-ingest — the
   * shape a crawl pipeline runs as data arrives: assign each arriving
   * embedding to the STATIC k-means cells (no retraining), check it
   * against the static corpus AND every previously SEEN arrival of
   * the same cell with the exact-integer cosine rule of
   * [[graft.ops.Similarity.semDedup]], and keep it iff nothing
   * lower-id matched. The state carries every seen arrival (kept or
   * not) — exactly the batch rule "duplicate iff ANY lower-id
   * cluster-mate matches", so the drained output is the batch answer
   * by construction, not by fixture coincidence.
   *
   * The arrival fixture is three staged files drained oldest-first
   * (`maxFilesPerTrigger=1`, mtimes forced apart) so the query
   * genuinely runs multi-batch AND the decisions exercise all three
   * comparison legs: group A (near-copies of corpus vectors) dies
   * against the STATIC pool, group B (reversed vectors — novel
   * directions) is KEPT, and group C (near-copies of group B) dies
   * against the ACCUMULATED STATE from an earlier micro-batch —
   * except the few arrivals whose re-quantization (the +0.1 shift
   * changes max_abs) lands them in a different k-means cell than
   * their twin: cluster bucketing never compares cross-cell pairs
   * (SemDeDup's documented approximation), so those are kept, on
   * both engines alike.
   * Arrivals are staged in ascending vec_id order, so "lower id" is
   * always already seen and the drained output equals one batch pass
   * over corpus + arrivals — which is what the DuckDB oracle
   * computes.
   *
   * At 100 TB the survivor state is a cell-partitioned table (the
   * persisted-IVF layout) and each micro-batch's check is a
   * broadcast-batch join against the arrivals' cells only; here the
   * state is driver-held (arrivals are fixture-bounded) but the
   * per-batch check runs as the same cluster-keyed join. */
  def semDedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-semdd")
    try {
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      // the batch twin's overflow guard, on the SAME shared tau
      // constants: without it a wider-embedding fixture would wrap
      // the Long cosine test and corrupt keep/drop silently here
      // while semDedup fails loudly (review r16)
      Similarity.requireSemDedupDims(base,
        Similarity.SemDedupTauNum, Similarity.SemDedupTauDen, "semDedupStream")
      val (_, centroids) = Similarity.kmeansDetWithCentroids(base)
      // one projection (optimization r21): the k-means final
      // assignment IS the argmin against the returned centroids, so
      // the pool carries qs/n2/cluster from a single scan instead of
      // re-deriving the assignment lineage and joining signedQs on
      // vec_id — value-identical (deterministic argmin, same rows)
      val pool0 = Similarity.signedQsWithCell(base, centroids).cache()
      pool0.count()
      try {

      // stage the three arrival groups as one file each, mtimes
      // forced apart so FileStreamSource drains them in id order
      def shifted(c: org.apache.spark.sql.Column) =
        concat(array(element_at(c, 1) + lit(0.1)),
          slice(c, 2, Int.MaxValue))
      // cached: the three group writes below would otherwise each
      // re-scan the embeddings parquet (optimization r21)
      val src7 = base.where(col("vec_id") % 7 === 0).cache()
      val groups = Seq(
        src7.select((col("vec_id") + 100000L).as("vec_id"),
          shifted(col("embedding")).as("embedding")),
        src7.select((col("vec_id") + 200000L).as("vec_id"),
          reverse(col("embedding")).as("embedding")),
        src7.select((col("vec_id") + 300000L).as("vec_id"),
          shifted(reverse(col("embedding"))).as("embedding")))
      val arrDir = dir.resolve("arrivals")
      java.nio.file.Files.createDirectories(arrDir)
      groups.zipWithIndex.foreach { case (g, i) =>
        val tmp = dir.resolve(s"stage$i").toString
        g.coalesce(1).write.mode("overwrite").parquet(tmp)
        // Files.list holds an open DirectoryStream; findFirst
        // short-circuits without exhausting it, so close explicitly
        // or every staged group leaks a directory handle (review r16)
        val listing = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        val part = try listing
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally listing.close()
        val target = arrDir.resolve(f"arrivals_$i%03d.parquet")
        java.nio.file.Files.move(part, target)
        java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }

      src7.unpersist(blocking = false)
      val schema = spark.read.parquet(arrDir.toString).schema
      val seen = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Seq[Long], Long)]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Option[Long], Boolean)]
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(arrDir.toString)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // qs/n2/cell in one shuffle-free projection over the
          // arrival batch (see signedQsWithCell): the old shape paid
          // a second quantization pass plus a vec_id join per batch
          val arrived = Similarity.signedQsWithCell(batch, centroids)
            .cache()
          val stateDf =
            if (seen.isEmpty) pool0
            else pool0.unionAll(spark.createDataFrame(seen.toSeq)
              .toDF("vec_id", "cluster", "qs", "n2"))
          // comparison side: static pool + every seen arrival + the
          // batch's own lower ids (the a_id < b_id predicate handles
          // the within-batch leg on the unioned frame)
          val cmp = stateDf.unionAll(arrived)
          val a = cmp.select(col("cluster"), col("vec_id").as("a_id"),
            col("qs").as("a_qs"), col("n2").as("a_n2"))
          val b = arrived.select(col("cluster"), col("vec_id").as("b_id"),
            col("qs").as("b_qs"), col("n2").as("b_n2"))
          // the arrival side is micro-batch-sized by construction:
          // broadcast it so the state side never exchanges (the
          // cluster-keyed BHJ the 100 TB shape runs), and skip AQE's
          // per-batch re-derivation of the same choice
          val dup = a.join(broadcast(b), Seq("cluster"))
            .where(col("a_id") < col("b_id"))
            .withColumn("dot", aggregate(
              zip_with(col("a_qs"), col("b_qs"), (x, y) => x * y),
              lit(0L), (s, x) => s + x))
            .where(col("dot") > 0L &&
              lit(Similarity.SemDedupTauDen) * col("dot") * col("dot") >=
                lit(Similarity.SemDedupTauNum) * col("a_n2") * col("b_n2"))
            .groupBy(col("b_id").as("vec_id"))
            .agg(min(col("a_id")).as("dup_of"))
          val rows = arrived.join(broadcast(dup), Seq("vec_id"), "left")
            .select(col("vec_id"), col("cluster"), col("dup_of"), col("qs"), col("n2"))
            .collect()
          out.synchronized {
            rows.foreach { r =>
              val dupOf = if (r.isNullAt(2)) None else Some(r.getLong(2))
              out += ((r.getLong(0), r.getLong(1), dupOf, dupOf.isEmpty))
              seen += ((r.getLong(0), r.getLong(1),
                r.getSeq[Long](3), r.getLong(4)))
            }
          }
          arrived.unpersist(blocking = false)
          ()
        }
        .start()
      q.awaitTermination()
      spark.createDataFrame(out.toSeq)
        .toDF("vec_id", "cluster", "dup_of", "kept")
        .orderBy("vec_id")
      // pool0 released on EVERY exit: a failed streaming query must
      // not leave the cached corpus pinned for the session
      } finally pool0.unpersist(blocking = false)
    } finally cleanupTree(dir)
  }

  final case class SessionEvent(user_id: Long, event_id: Long, us: Long, value: Double)

  /** Minimal (user, type) projection for the MapState counter query. */
  final case class TypedEvent(user_id: Long, event_type: String)
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long, sum: Double)
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, sum_value: Double)

  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  /**
   * Stateful gap-based sessionization via flatMapGroupsWithState —
   * the KeyValueGroupedDataset custom-state surface (SURVEY.md §2.9's
   * idiomatic extension). A new event beyond the gap closes the open
   * session inline; each user's final (still-open) session stays in
   * state, so the emitted rows are exactly "every session except each
   * user's last" — which is what the DuckDB oracle computes.
   *
   * Within-batch events are sorted by (us, event_id); cross-batch
   * event-time order is the caller's contract (the bounded
   * AvailableNow drain processes everything in order here).
   */
  def sessionizeStream(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}

    val name = s"graft_stream_sessions_${callSeq.incrementAndGet()}"
    val dir = stagedEventsDir(sfDir)
    val src = eventsStream(spark, dir.toString)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[SessionEvent]

    def handle(userId: Long, events: Iterator[SessionEvent],
        state: GroupState[OpenSession]): Iterator[ClosedSession] = {
      val sorted = events.toSeq.sortBy(e => (e.us, e.event_id))
      val out = Seq.newBuilder[ClosedSession]
      var open = state.getOption
      sorted.foreach { e =>
        open match {
          case Some(s) if e.us - s.lastUs < SessionGapUs =>
            open = Some(OpenSession(s.startUs, e.us, s.n + 1, s.sum + e.value))
          case Some(s) =>
            out += ClosedSession(userId, s.startUs, s.lastUs + SessionGapUs, s.n, s.sum)
            open = Some(OpenSession(e.us, e.us, 1, e.value))
          case None =>
            open = Some(OpenSession(e.us, e.us, 1, e.value))
        }
      }
      open.foreach(state.update)
      out.result().iterator
    }

    val sessions = src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(handle)

    drainNarrow(spark)(sessions.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())(cleanup(dir))
    spark.table(name)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"),
        (floor(col("sum_value") * 1e4 + 0.5) / 1e4).as("sum_value"))
      .orderBy("user_id", "start_us")
  }

  /** Streaming exact dedup: watermarked dropDuplicates on
   * (user_id, event_type) — the streaming form of keep-first dedup
   * with bounded state (keys older than the watermark are evicted,
   * which is what makes the operator viable on an unbounded stream;
   * the bounded drain here never reaches eviction, so the final table
   * equals the batch distinct and the DuckDB oracle applies). */
  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_dedup_${callSeq.incrementAndGet()}"
    val dir = stagedEventsDir(sfDir)
    val src = eventsStream(spark, dir.toString)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")
    drainNarrow(spark)(src.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())(cleanup(dir))
    spark.table(name)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  /**
   * dropDuplicatesWithinWatermark (Spark 3.5+): unlike
   * dropDuplicates, the event-time column is NOT part of the dedup
   * key and state for a key is evicted once the watermark passes its
   * first-seen event time — the API that makes at-least-once sources
   * (retried writes carry fresh timestamps) dedupable with bounded
   * state. On the drained bounded stream every duplicate key lands
   * inside one batch, so the result equals the batch distinct —
   * the oracle contract. */
  def streamingDedupWithinWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_dedup_ww_${callSeq.incrementAndGet()}"
    val dir = stagedEventsDir(sfDir)
    val src = eventsStream(spark, dir.toString)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    drainNarrow(spark)(src.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())(cleanup(dir))
    spark.table(name)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_types"))
      .orderBy("user_id")
  }

  /** Stream-static enrichment join: the event stream joins the
   * customer dimension (static frame, broadcast by the planner) —
   * the standard streaming enrichment shape; per-batch the static
   * side is re-read, so slowly-changing dims pick up updates. The
   * drained complete-mode aggregate equals the batch join. */
  def streamStaticEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_enrich_${callSeq.incrementAndGet()}"
    val dir = stagedEventsDir(sfDir)
    val customers = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val src = eventsStream(spark, dir.toString)
      .join(customers, col("user_id") === col("c_custkey"))
    val agg = src.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        (floor(sum(col("value")) * 1e4 + 0.5) / 1e4).as("sum_value"))
    drainNarrow(spark)(agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())(cleanup(dir))
    spark.table(name).orderBy("c_mktsegment")
  }

  /** Stream-stream inner join with event-time range condition and
   * watermarks on BOTH sides (the state-bounding contract: rows older
   * than watermark + range are evicted from join state). Purchases
   * join each view by the same user within the preceding hour; the
   * drained bounded run equals the batch range join, which is what
   * the oracle computes. */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_join_${callSeq.incrementAndGet()}"
    val dir = stagedEventsDir(sfDir)
    def src = eventsStream(spark, dir.toString)
    val views = src.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val purchases = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
    drainNarrow(spark)(joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())(cleanup(dir))
    spark.table(name).orderBy("purchase_id", "view_id")
  }

  /** GENUINELY multi-batch foreachBatch fold: the events table is
   * re-laid-out as four parquet files and streamed with
   * maxFilesPerTrigger=1, so the query drains in four micro-batches
   * whose per-user partial aggregates are merged into running state
   * across batches — the upsert-sink shape (in production the merge
   * target is a state/Delta table; here an in-memory map stands in,
   * bounded by the user-id cardinality, NOT by the stream length).
   * foreachBatch is at-least-once: a batch may be re-delivered after
   * a failure, so the additive count merge guards on batchId and
   * skips batches it has already applied (the standard idempotent-
   * foreachBatch pattern; a real upsert sink would persist the last
   * applied batchId transactionally with the data). Only count and
   * max fold across batches — both are order- and
   * batching-insensitive, so the result equals the batch aggregate
   * no matter how the files split. Returns the top-k users by
   * (event count, user_id). */
  def multiBatchTopUsers(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val tag = callSeq.incrementAndGet()
    val dir = java.nio.file.Files.createTempDirectory(s"graft-stream-mb$tag")
    normTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir.toString)
    val state = scala.collection.mutable.HashMap.empty[Long, (Long, Double)]
    val applied = scala.collection.mutable.HashSet.empty[Long]
    var batches = 0
    drainNarrow(spark)(eventsStream(spark, dir.toString, maxFilesPerTrigger = 1)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (applied.add(batchId)) {
          batches += 1
          // distributed per-batch partial aggregate; only the per-user
          // summary rows (user-cardinality-sized) reach the driver merge
          batch.groupBy("user_id")
            .agg(count(lit(1)).as("n"), max(col("value")).as("mx"))
            .collect()
            .foreach { r =>
              val (n0, m0) = state.getOrElse(r.getLong(0), (0L, Double.MinValue))
              state(r.getLong(0)) = (n0 + r.getLong(1), math.max(m0, r.getDouble(2)))
            }
        }
      }
      .start())(cleanupTree(dir))
    System.err.println(s"[graft-stream] multiBatchTopUsers drained $batches batches")
    val top = state.toSeq
      .map { case (u, (n, mx)) => (u, n, math.floor(mx * 1e4 + 0.5) / 1e4) }
      .sortBy { case (u, n, _) => (-n, u) }
      .take(k)
    spark.createDataFrame(top).toDF("user_id", "n_events", "max_value")
      .orderBy(col("n_events").desc, col("user_id"))
  }

  /** Append-mode watermarked tumbling-window aggregation: a window
   * only emits once the watermark passes its end, so the drained
   * bounded run emits exactly the windows whose end <= final
   * watermark (max event time - 1h) — the state-eviction semantics
   * that keep a windowed aggregation bounded on an unbounded stream,
   * and a deterministic subset the batch oracle can express. */
  def hourlyEventCountsAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_hourly_append_${callSeq.incrementAndGet()}"
    val dir = stagedEventsDir(sfDir)
    val src = eventsStream(spark, dir.toString)
      .withWatermark("ts", "1 hour")
    val agg = src
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("value")) * 1e4 + 0.5) / 1e4).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))
    drainNarrow(spark)(agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())(cleanup(dir))
    spark.table(name).orderBy("hour", "event_type")
  }

  /** [[hourlyEventCountsAppend]] through Spark's EXACTLY-ONCE
   * parquet FileStreamSink — the production streaming sink: each
   * micro-batch's files are committed atomically to the
   * `_spark_metadata` manifest keyed by batch id, so a retried batch
   * can never double its rows, and `spark.read.parquet` over the
   * output honors the manifest (uncommitted files are invisible).
   * Append mode + watermark emits exactly the closed windows, so
   * the read-back table shares s_stream_hourly_append's oracle.
   * Output + checkpoint trees are removed on JVM exit (the returned
   * DataFrame stays file-backed for the harness to consume). */
  def fileSinkRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedEventsDir(sfDir)
    val outDir = java.nio.file.Files.createTempDirectory("graft-fsink-out")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-fsink-ckpt")
    // the returned DataFrame reads the sink output LAZILY — the trees
    // must outlive this call, so they join the process-wide exit list
    cleanupOnExit(outDir, ckptDir)
    val src = eventsStream(spark, dir.toString)
      .withWatermark("ts", "1 hour")
    val agg = src
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("value")) * 1e4 + 0.5) / 1e4).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))
    drainNarrow(spark)(agg.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckptDir.toString)
      .trigger(Trigger.AvailableNow())
      .start())(cleanup(dir))
    spark.read.parquet(outDir.toString).orderBy("hour", "event_type")
  }

  /** The events table's ts arrives as LongType (parquet
   * TIMESTAMP(NANOS) under nanosAsLong) or TIMESTAMP_NTZ (parquet
   * timestamp[us] without a zone) depending on how the generator
   * wrote it; a streaming reader's declared schema must match the
   * file's physical type, so probe it with a batch footer read
   * instead of hardcoding. */
  private def eventsSchema(spark: SparkSession, path: String): StructType =
    spark.read.parquet(path).schema

  /** Normalize events.ts to session-local TIMESTAMP (the session
   * zone is pinned to UTC in every entrypoint) — same contract as
   * RelationalQueries.events on the batch side. */
  private def normTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** readStream over a staged events dir: declared schema = actual
   * file schema, ts normalized to TIMESTAMP. */
  private def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    var r = spark.readStream.schema(eventsSchema(spark, dir))
    if (maxFilesPerTrigger > 0)
      r = r.option("maxFilesPerTrigger", maxFilesPerTrigger)
    normTs(r.parquet(dir))
  }

  /**
   * Spark 4 state data source (format "statestore"): drain a
   * per-user streaming aggregation with AvailableNow, then re-open
   * the query's checkpointed RocksDB/HDFS state store as a plain
   * DataFrame — the state-debugging / reprocessing surface (no sink
   * ever saw these rows; they come straight from the store).
   *
   * The aggregate pair (count, max) is batching-insensitive, so the
   * drained state equals the batch aggregate — the oracle contract.
   * The state rows are bounded by the distinct-key count; they are
   * materialized before the checkpoint directory is deleted (at
   * cluster scale the reader is a real scan — partitioned by store
   * partition — and would be consumed lazily instead).
   */
  def stateStoreReader(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedEventsDir(sfDir)
    val ckpt = java.nio.file.Files.createTempDirectory(
      s"graft-stream-ssr${callSeq.incrementAndGet()}")
    try withShufflePartitions(spark, StreamStatePartitions) {
      val q = eventsStream(spark, dir.toString)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        // every partition must be consumed or Spark 4's state-store
        // commit validation fails the batch; count() drains them all
        .foreachBatch { (batch: DataFrame, _: Long) => batch.count(); () }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val state = spark.read.format("statestore").load(ckpt.toString)
      val rows = state
        // the value struct carries the aggregation buffer, named by
        // aggregate function ("count", "max"), not by output alias
        .select(col("key.user_id").as("user_id"),
          col("value.count").as("n_events"),
          col("value.max").as("max_value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.floor(r.getDouble(2) * 1e4 + 0.5) / 1e4))
      spark.createDataFrame(rows.toSeq)
        .toDF("user_id", "n_events", "max_value")
        .orderBy("user_id")
    } finally { cleanup(dir); cleanupTree(ckpt) }
  }

  /** Real Structured Streaming query: tumbling 1h event-time windows
   * over the events parquet, drained synchronously into a memory
   * sink. Complete mode -> the final table equals the batch
   * aggregation, so the DuckDB oracle for the batch query applies. */
  def hourlyEventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_hourly_${callSeq.incrementAndGet()}"
    val dir = stagedEventsDir(sfDir)
    val src = eventsStream(spark, dir.toString)
    val agg = src
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("value")) * 1e4 + 0.5) / 1e4).as("sum_value"))
    drainNarrow(spark)(agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())(cleanup(dir))
    spark.table(name).orderBy("hour", "event_type")
  }

  /** [[hourlyEventCounts]] twin running its aggregation state in the
   * ROCKSDB state store provider (rocksdbjni ships in Spark's jars)
   * — the disk-backed backend that keeps streaming state viable once
   * it outgrows executor memory at 100 TB scale
   * (HDFSBackedStateStore holds each partition's full state map
   * on-heap). The provider changes only WHERE state lives, never
   * the values, so the drained table equals the batch aggregate and
   * shares s_stream_hourly's oracle. (The transformWithState
   * queries already exercise RocksDB on their write path — this
   * twin covers the classic windowed-aggregation state under it.) */
  def hourlyEventCountsRocksDB(spark: SparkSession, sfDir: String): DataFrame =
    withRocksDbProvider(spark)(hourlyEventCounts(spark, sfDir))

  /** [[stateStoreReader]] twin over a ROCKSDB-backed checkpoint: the
   * aggregation state is WRITTEN under the RocksDB provider, then
   * re-read through the Spark 4 state data source — proving the
   * reader across providers (the checkpoint records which provider
   * produced it). Same contract and oracle as s_state_reader. */
  def stateStoreReaderRocksDB(spark: SparkSession, sfDir: String): DataFrame =
    withRocksDbProvider(spark)(stateStoreReader(spark, sfDir))

  final case class RunningAgg(n: Long, sum: Double)
  final case class RunningRow(user_id: Long, n_events: Long, sum_value: Double)

  /**
   * mapGroupsWithState in UPDATE mode across FORCED multiple
   * micro-batches (events re-laid-out as 4 files, maxFilesPerTrigger
   * = 1): per-user running (count, sum) state is folded batch over
   * batch and the group's refreshed state row is re-emitted on every
   * batch that touches it — the canonical update-mode stateful
   * surface, complementing flatMapGroupsWithState/Append
   * (`sessionizeStream`). The final state per user is the emitted row
   * with the highest running count (the count is strictly monotone),
   * which equals the batch per-user aggregate — what the oracle
   * computes. State is user-cardinality-bounded, never
   * stream-length-bounded.
   */
  def runningUserState(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, GroupState}

    val name = s"graft_stream_running_${callSeq.incrementAndGet()}"
    val tag = callSeq.incrementAndGet()
    val dir = java.nio.file.Files.createTempDirectory(s"graft-stream-rs$tag")
    normTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir.toString)

    def fold(userId: Long, events: Iterator[SessionEvent],
        state: GroupState[RunningAgg]): RunningRow = {
      var s = state.getOption.getOrElse(RunningAgg(0L, 0.0))
      // deterministic within-batch fold order (iterator order is
      // partition-dependent); the oracle only sees the rounded total
      events.toSeq.sortBy(e => (e.us, e.event_id))
        .foreach(e => s = RunningAgg(s.n + 1, s.sum + e.value))
      state.update(s)
      RunningRow(userId, s.n, s.sum)
    }

    val rows = eventsStream(spark, dir.toString, maxFilesPerTrigger = 1)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fold)

    drainNarrow(spark)(rows.toDF().writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())(cleanupTree(dir))
    // final state = the monotone-max running count per user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    spark.table(name)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("user_id"), col("n_events"),
        (floor(col("sum_value") * 1e4 + 0.5) / 1e4).as("sum_value"))
      .orderBy("user_id")
  }

  /**
   * NATIVE streaming sessionization: `session_window` with a
   * watermark in append mode — the declarative counterpart of the
   * custom `flatMapGroupsWithState` path (`sessionizeStream`); state
   * is engine-managed and sessions emit once the watermark passes
   * their end (last event + gap). The drained run therefore yields
   * exactly the sessions whose end the final watermark (ms-truncated
   * max event time - 1h) has passed — what the oracle's
   * island-building CTE computes.
   */
  def sessionWindowStream(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_swin_${callSeq.incrementAndGet()}"
    val dir = stagedEventsDir(sfDir)
    val src = eventsStream(spark, dir.toString)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        (floor(sum(col("value")) * 1e4 + 0.5) / 1e4).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"), col("sum_value"))
    drainNarrow(spark)(agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())(cleanup(dir))
    spark.table(name).orderBy("user_id", "start_us")
  }

  /**
   * Checkpointed stop-and-resume: TWO separate streaming queries
   * share one checkpoint location. Run 1 drains the first half of
   * the events (update-mode per-type aggregation, foreachBatch
   * upsert sink); the second half is then added to the source
   * directory and run 2 starts FRESH against the same checkpoint —
   * the file-source offset log skips the already-committed file and
   * the state store resumes the running aggregates, so run 2 emits
   * CUMULATIVE totals for the keys it touches. The upsert map after
   * both runs equals the batch aggregate — which only holds if
   * recovery really resumed state rather than recounting or
   * double-counting (the exactly-once restart contract every
   * production pipeline leans on).
   */
  def checkpointedResume(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = callSeq.incrementAndGet()
    val dir = java.nio.file.Files.createTempDirectory(s"graft-stream-ck$tag")
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-stream-ckpt$tag")
    val ev = normTs(spark.read.parquet(s"$sfDir/events.parquet"))
    ev.where(col("event_id") % 2 === 0)
      .repartition(1).write.mode("append").parquet(dir.toString)

    val state = scala.collection.mutable.HashMap.empty[String, (Long, Double)]
    def runOnce(): Unit = {
      val q = eventsStream(spark, dir.toString)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach { r =>
            state(r.getString(0)) = (r.getLong(1), r.getDouble(2))
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // one wrap across BOTH drains: a checkpointed query must resume
    // with the partition count it was created with (state is laid
    // out per-partition), so the narrow setting spans stop + resume
    try withShufflePartitions(spark, StreamStatePartitions) {
      runOnce()
      ev.where(col("event_id") % 2 === 1)
        .repartition(1).write.mode("append").parquet(dir.toString)
      runOnce()
    } finally Seq(dir, ckpt).foreach(cleanupTree)
    val rows = state.toSeq.map { case (t, (n, s)) =>
      (t, n, math.floor(s * 1e4 + 0.5) / 1e4) }
    spark.createDataFrame(rows).toDF("event_type", "n", "sum_value")
      .orderBy("event_type")
  }

  /**
   * Stream-stream LEFT OUTER interval join: purchases keep state
   * until the watermark proves no matching view can still arrive,
   * then emit with a null match. The drained bounded run therefore
   * yields every inner match PLUS the unmatched purchases whose
   * event time the final watermark (max event time, ms-truncated,
   * minus 1h) has passed — exactly what the oracle computes
   * (unmatched purchases still inside the watermark horizon are
   * legitimately withheld: the engine cannot yet rule out a match).
   * Null view ids surface as -1 to keep the hash type-stable.
   */
  def streamStreamLeftOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_louter_${callSeq.incrementAndGet()}"
    val dir = stagedEventsDir(sfDir)
    def src = eventsStream(spark, dir.toString)
    val views = src.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val purchases = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        coalesce(col("view_id"), lit(-1L)).as("view_id"))
    drainNarrow(spark)(joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())(cleanup(dir))
    spark.table(name).orderBy("purchase_id", "view_id")
  }

  /** Per-user running aggregate row emitted by the
   * [[transformWithStateRunning]] processor: the explicit-state
   * (`ValueState`) counterpart of [[runningUserState]]'s
   * mapGroupsWithState fold. */
  final case class TwsRow(user_id: Long, n_events: Long, sum_value: Double)

  /**
   * Spark 4 `transformWithState` (the StatefulProcessor arbitrary-
   * state API, successor of mapGroupsWithState): per-user running
   * (count, sum) kept in an explicit `ValueState`, one refreshed row
   * emitted per touched group per micro-batch. Requires the RocksDB
   * state store provider — set for this query and restored after —
   * which is also the store that scales: state lives off-heap/on-disk
   * per partition instead of in executor heap maps, so per-key state
   * survives 100 TB-scale key cardinality. The final table's
   * monotone-max row per user equals the batch aggregate, which is
   * what the oracle computes.
   */
  def transformWithStateRunning(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
      TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    val name = s"graft_stream_tws_${callSeq.incrementAndGet()}"
    val tag = callSeq.incrementAndGet()
    val dir = java.nio.file.Files.createTempDirectory(s"graft-stream-tws$tag")
    normTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir.toString)

    class RunningProcessor extends StatefulProcessor[Long, SessionEvent, TwsRow] {
      @transient private var agg: ValueState[RunningAgg] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        agg = getHandle.getValueState[RunningAgg]("agg",
          Encoders.product[RunningAgg], TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
          timerValues: TimerValues): Iterator[TwsRow] = {
        var s = if (agg.exists()) agg.get() else RunningAgg(0L, 0.0)
        // deterministic within-batch fold order (iterator order is
        // partition-dependent); the oracle only sees the rounded total
        rows.toSeq.sortBy(e => (e.us, e.event_id))
          .foreach(e => s = RunningAgg(s.n + 1, s.sum + e.value))
        agg.update(s)
        Iterator.single(TwsRow(key, s.n, s.sum))
      }
    }

    withRocksDbProvider(spark) {
      val rows = eventsStream(spark, dir.toString, maxFilesPerTrigger = 1)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .as[SessionEvent]
        .groupByKey(_.user_id)
        .transformWithState(new RunningProcessor,
          TimeMode.None(), OutputMode.Update(), Encoders.product[TwsRow])

      val q = rows.toDF().writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally cleanupTree(dir)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    spark.table(name)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("user_id"), col("n_events"),
        (floor(col("sum_value") * 1e4 + 0.5) / 1e4).as("sum_value"))
      .orderBy("user_id")
  }

  /** Row emitted by [[transformWithStateTopList]]: the running top-3
   * values per user plus the monotone seen-count used to select the
   * final state row. */
  final case class TwsTopRow(user_id: Long, n_seen: Long,
      top1: Double, top2: Double, top3: Double)

  /**
   * `transformWithState` with LIST state: the running top-3 event
   * values per user, maintained as a bounded `ListState` (the
   * engine-managed collection state the old GroupState API lacked).
   * The top-3 multiset is arrival-order-insensitive — it only
   * improves monotonically — so the drained final state equals the
   * batch per-user top-3, which is what the oracle computes.
   */
  def transformWithStateTopList(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{ListState, OutputMode,
      StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    val name = s"graft_stream_twstop_${callSeq.incrementAndGet()}"
    val tag = callSeq.incrementAndGet()
    val dir = java.nio.file.Files.createTempDirectory(s"graft-stream-twstop$tag")
    normTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir.toString)

    class TopProcessor extends StatefulProcessor[Long, SessionEvent, TwsTopRow] {
      @transient private var top: ListState[Double] = _
      @transient private var seen: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        top = getHandle.getListState[Double]("top",
          Encoders.scalaDouble, TTLConfig.NONE)
        seen = getHandle.getValueState[Long]("seen",
          Encoders.scalaLong, TTLConfig.NONE)
      }
      override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
          timerValues: TimerValues): Iterator[TwsTopRow] = {
        val cur = if (top.exists()) top.get().toArray else Array.empty[Double]
        val vals = rows.map(_.value).toArray
        val next = (cur ++ vals).sorted(Ordering[Double].reverse).take(3)
        top.put(next)
        val n = (if (seen.exists()) seen.get() else 0L) + vals.length
        seen.update(n)
        def at(i: Int) = if (i < next.length) next(i) else -1.0
        Iterator.single(TwsTopRow(key, n, at(0), at(1), at(2)))
      }
    }

    withRocksDbProvider(spark) {
      val rows = eventsStream(spark, dir.toString, maxFilesPerTrigger = 1)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .as[SessionEvent]
        .groupByKey(_.user_id)
        .transformWithState(new TopProcessor,
          TimeMode.None(), OutputMode.Update(), Encoders.product[TwsTopRow])

      val q = rows.toDF().writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally cleanupTree(dir)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_seen").desc)
    spark.table(name)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("user_id"),
        (floor(col("top1") * 1e4 + 0.5) / 1e4).as("top1"),
        (floor(col("top2") * 1e4 + 0.5) / 1e4).as("top2"),
        (floor(col("top3") * 1e4 + 0.5) / 1e4).as("top3"))
      .orderBy("user_id")
  }

  /**
   * Streaming observe(): named metrics accumulated on the stream
   * itself and surfaced through StreamingQueryProgress.observedMetrics
   * — the zero-extra-pass monitoring surface (row counts / quality
   * sums ride the micro-batch, no second aggregation job). The
   * single-file AvailableNow drain is one batch, so the batch's
   * observed metrics equal the whole table's — the oracle contract.
   */
  def streamObserve(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_obs_${callSeq.incrementAndGet()}"
    val dir = stagedEventsDir(sfDir)
    val src = eventsStream(spark, dir.toString)
      .observe("graft_metrics",
        count(lit(1)).as("n_rows"),
        sum(col("value")).as("sum_value"),
        expr("count_if(value > 250.0)").as("n_big"))
    // the observed metrics ride the SOURCE-side tasks (pre-shuffle),
    // so the narrowed stateful exchange cannot move their values
    val q = drainNarrow(spark)(
      src.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start())(cleanup(dir))
    val metrics = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("graft_metrics")))
      .lastOption
      .getOrElse(throw new IllegalStateException("observed metrics missing"))
    spark.createDataFrame(Seq((
      metrics.getAs[Long]("n_rows"),
      math.floor(metrics.getAs[Double]("sum_value") * 1e4 + 0.5) / 1e4,
      metrics.getAs[Long]("n_big"))))
      .toDF("n_rows", "sum_value", "n_big")
  }

  /** Row emitted by [[transformWithStateMapCounts]]: one per-type
   * counter from the user's MapState, plus the monotone per-user
   * total used to select each (user, type)'s final row. */
  final case class TwsMapRow(user_id: Long, event_type: String,
      n_type: Long, n_user: Long)

  /**
   * `transformWithState` with MAP state: per-user event-type counters
   * kept in an engine-managed `MapState[String, Long]` — point
   * lookups and per-entry updates against the store instead of
   * deserializing a whole map per event (the reason MapState exists;
   * with RocksDB each entry is its own store key, so a hot user's
   * map never round-trips through the executor heap as one blob).
   * Each batch emits the touched user's full counter map; the final
   * (max n_user) emission per (user, type) equals the batch
   * group-by count, which is what the oracle computes.
   */
  def transformWithStateMapCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{MapState, OutputMode,
      StatefulProcessor, TTLConfig, TimeMode, TimerValues}
    import org.apache.spark.sql.Encoders

    val name = s"graft_stream_twsmap_${callSeq.incrementAndGet()}"
    val tag = callSeq.incrementAndGet()
    val dir = java.nio.file.Files.createTempDirectory(s"graft-stream-twsmap$tag")
    normTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir.toString)

    class MapProcessor extends StatefulProcessor[Long, TypedEvent, TwsMapRow] {
      @transient private var counts: MapState[String, Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        counts = getHandle.getMapState[String, Long]("counts",
          Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
          timerValues: TimerValues): Iterator[TwsMapRow] = {
        rows.foreach { e =>
          val cur = if (counts.containsKey(e.event_type))
            counts.getValue(e.event_type) else 0L
          counts.updateValue(e.event_type, cur + 1L)
        }
        val entries = counts.iterator().toArray
        val total = entries.map(_._2).sum
        entries.iterator.map { case (t, n) => TwsMapRow(key, t, n, total) }
      }
    }

    withRocksDbProvider(spark) {
      val rows = eventsStream(spark, dir.toString, maxFilesPerTrigger = 1)
        .select(col("user_id"), col("event_type"))
        .as[TypedEvent]
        .groupByKey(_.user_id)
        .transformWithState(new MapProcessor,
          TimeMode.None(), OutputMode.Update(), Encoders.product[TwsMapRow])

      val q = rows.toDF().writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally cleanupTree(dir)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy(col("n_user").desc)
    spark.table(name)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("user_id"), col("event_type"), col("n_type"))
      .orderBy("user_id", "event_type")
  }
}
