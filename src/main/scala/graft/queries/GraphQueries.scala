package graft.queries

import graft.graph.EdgeOps
import graft.wcc._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Graph-shaped oracle-checked queries over the harness tables
 * (SURVEY.md §2 operators S2/S3, G1/G2/G3, A1/A2/A3, F1/F8 — plus
 * the non-SQL-expressible Pregel pipeline as rows-only entries).
 *
 * The shared input is the deterministic co-purchase graph (parts
 * co-occurring in an order, `EdgeOps.coPurchaseEdges`) so the DuckDB
 * oracle can derive the identical edge set in SQL.
 */
object GraphQueries {

  /** Synthetic deterministic community assignment used by the
   * community-stat queries so the oracle can replicate it: cid = vid % 100. */
  private val SyntheticModulus = 100L

  /** Shared-artifact memo: Verify/Bench run every query in one
   * session and most graph queries share the co-purchase edge set,
   * the GraphX graph, and the triangle statistics — build each once
   * per (session, sfDir). [[SessionMemo]] weak-keys on the session so
   * a stopped-and-recreated session never gets handed artifacts bound
   * to a dead SparkContext. */
  private def memoize[T](spark: SparkSession, key: String)(f: => T): T =
    SessionMemo.memoize(spark, key)(f)

  /** Canonical (src < dst, distinct) co-purchase edges — a projection
   * of [[weightedEdges]], so the whole graph suite performs the
   * lineitem self-join exactly once per (session, sfDir): the
   * groupBy-count behind the weighted surface is the same shuffle as
   * the distinct it replaces. */
  private[graft] def canonEdges(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"canon:$sfDir") {
      val df = weightedEdges(spark, sfDir)
        .select(col("src"), col("dst")).cache(); df.count(); df
    }

  /** Partition count for the iterative graph surfaces, sized by EDGE
   * COUNT (matchingDetDF's idiom: max(8, min(input partitions,
   * E/250k))) instead of inheriting the shuffle width. Measured
   * (PERF.md round-19): per-superstep/iteration cost at bench SFs is
   * task DISPATCH, not data — the sf0.1 co-purchase graph (1.19M
   * edges) on 32 shuffle partitions carries ~37k edges/task, and
   * re-sizing to 8 cut the WCC family 12-21% per row with the
   * one-pass-heavy rows flat. At cluster scale the min() hands
   * control back to the input's own partitioning (data/128MB >>
   * E/250k never binds there). `-Dgraft.graph.parts=N` overrides for
   * A/B probes. The det-family trajectories are partition-count
   * independent by design (blocked folds, integer recurrences) —
   * re-pinned by the full sf0.01 oracle sweep after this change. */
  private def graphPartsFor(edges: DataFrame): Int =
    partsFor(edges.rdd.getNumPartitions, edges.count())

  /** The sizing rule on a raw (partition count, edge count) pair, for
   * surfaces whose edge set is a SUBSET of a cached DataFrame (e.g.
   * the idwccShared bulk region — ADVICE r15: sizing the bulk graph
   * from the FULL canonical count was inconsistent with the stated
   * per-surface idiom). `edgeCount` is by-name so the prop override
   * skips the count entirely. */
  private[graft] def partsFor(numParts: Int, edgeCount: => Long): Int =
    sys.props.get("graft.graph.parts").map(_.toInt).getOrElse {
      math.max(8, math.min(numParts, (edgeCount / 250000L).toInt))
    }

  private def graphParts(spark: SparkSession, sfDir: String): Int =
    graphPartsFor(canonEdges(spark, sfDir))

  private def graph(spark: SparkSession, sfDir: String) =
    memoize(spark, s"graph:$sfDir") {
      val g = EdgeOps.toGraph(canonEdges(spark, sfDir),
        graphParts(spark, sfDir)); g.cache()
      g.numVertices; g
    }

  private def tri(spark: SparkSession, sfDir: String): TriangleStats.Result =
    memoize(spark, s"tri:$sfDir") {
      TriangleStats.run(graph(spark, sfDir)) // run() caches both surfaces
    }

  /** Pregel seeding phase, shared by `g_wcc_initial_partition` and
   * (as a precomputed input) the `g_wcc_partition` flagship. */
  private def init(spark: SparkSession, sfDir: String) =
    memoize(spark, s"init:$sfDir") {
      InitialPartition.run(tri(spark, sfDir).pruned)
    }

  def symmetrizedEdges(spark: SparkSession, sfDir: String): DataFrame =
    EdgeOps.symmetrize(canonEdges(spark, sfDir))
      .orderBy("src", "dst")

  def degrees(spark: SparkSession, sfDir: String): DataFrame =
    EdgeOps.degrees(EdgeOps.symmetrize(canonEdges(spark, sfDir)))
      .orderBy("vid")

  def adjacency(spark: SparkSession, sfDir: String): DataFrame =
    EdgeOps.adjacencyStr(EdgeOps.symmetrize(canonEdges(spark, sfDir)))
      .orderBy("vid")

  /** G1: per-vertex triangle counts (vertices in >=1 triangle). */
  def triangles(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = tri(spark, sfDir).fullStats
      .filter(_._2._1 > 0)
      .map { case (id, (t, _)) => (id, t.toLong) }
    spark.createDataFrame(stats).toDF("vid", "t").orderBy("vid")
  }

  /** F1: clustering coefficient (t, vt, cc) for triangle vertices. */
  def clusteringCoefficient(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = tri(spark, sfDir).fullStats
      .filter(_._2._1 > 0)
      .map { case (id, (t, vt)) => (id, t.toLong, vt.toLong) }
    spark.createDataFrame(stats).toDF("vid", "t", "vt")
      .withColumn("cc", floor(
        when(col("vt") < 2, 0.0)
          .otherwise(lit(2.0) * col("t") / (col("vt") * (col("vt") - 1))) * 1e9 + 0.5) / 1e9)
      .orderBy("vid")
  }

  private def withSyntheticPartition(spark: SparkSession, sfDir: String) =
    graph(spark, sfDir)
      .mapVertices((id, _) => VertexData(id, 0, 0, id % SyntheticModulus))

  /** A1/F8: community stats (r, a, b) under the synthetic partition. */
  def communityStats(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = CommunityOps.computeCommunityStats(withSyntheticPartition(spark, sfDir))
    spark.createDataFrame(stats.toSeq.map { case (c, cd) =>
      (c, cd.r.toLong, cd.a, cd.b.toLong)
    }).toDF("cid", "r", "a", "b").orderBy("cid")
  }

  /** A3: per-(vertex, neighbor-community) edge counts, exploded. */
  def vertexCommunityDegrees(spark: SparkSession, sfDir: String): DataFrame = {
    val deg = CommunityOps.vertexCommunityDegrees(withSyntheticPartition(spark, sfDir))
      .flatMap { case (id, m) => m.map { case (c, n) => (id, c, n.toLong) } }
    spark.createDataFrame(deg).toDF("vid", "cid", "deg").orderBy("vid", "cid")
  }

  /** The seed partition's pipeline evaluation (seed vertex-block
   * state, stats, global WCC — `_3` is the seed WCC) — iteration 0 of
   * the refinement loop AND the `claimed` side of the seeding value
   * check, memoized so a session running both pays the two jobs once.
   * The refinement run it is handed to owns the cached blocks'
   * release. */
  private def seedEval(spark: SparkSession, sfDir: String):
      (graft.wcc.RefineState, Map[Long, CommunityData], Double) =
    memoize(spark, s"seedEval:$sfDir") {
      DistributedWCC.seedEvaluation(init(spark, sfDir),
        graph(spark, sfDir).numVertices)
    }

  /** Full batch DWCC, memoized so the flagship rows and the
   * invariant certificate share one run per (session, sfDir). */
  private def wccOut(spark: SparkSession, sfDir: String) =
    memoize(spark, s"wccOut:$sfDir") {
      DistributedWCC.run(graph(spark, sfDir),
        precomputedStats = Some(tri(spark, sfDir)),
        precomputedInit = Some(init(spark, sfDir)),
        precomputedSeedEval = Some(seedEval(spark, sfDir)))
    }

  /** G4+G5 flagship (not SQL-expressible — rows-only check): full
   * batch DWCC partition of the co-purchase graph. */
  def wccPartition(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = wccOut(spark, sfDir).graph.vertices
      .map { case (id, vd) => (id, vd.cId) }
    spark.createDataFrame(rows).toDF("vid", "cid").orderBy("vid")
  }

  /** Flagship invariant certificate — brings the DWCC partition into
   * the oracle gate (the per-vertex labels stay rows-only, the
   * fixpoint is not SQL-expressible): exact vertex count from the
   * oracle; booleans certified by Spark and stated TRUE — every
   * input vertex labeled exactly once (graft-back completeness),
   * every triangle-free vertex a singleton (prune semantics), the
   * final WCC strictly positive, and at least one real (>= 2-member)
   * community found. Shares the memoized run with g_wcc_partition. */
  def wccCertified(spark: SparkSession, sfDir: String): DataFrame = {
    val out = wccOut(spark, sfDir)
    val nVertices = graph(spark, sfDir).numVertices
    val labels = out.graph.vertices.map { case (id, vd) => (id, vd.cId) }.cache()
    val nLabeled = labels.count()
    // exact-value invariant the oracle recomputes independently in
    // SQL: the pruned-out singleton count = vertices outside the
    // triangle core (VERDICT r8 item 4 — certificates carry
    // SQL-computed values, not only stated TRUEs)
    val nPrunedSingletons = out.triangleStats
      .filter { case (_, (t, _)) => t == 0 }.count()
    val prunedSingletonOk = out.triangleStats
      .filter { case (_, (t, _)) => t == 0 }
      .leftOuterJoin(labels)
      .map { case (id, (_, cid)) => cid.contains(id) }
      .fold(true)(_ && _)
    val maxCommunity = labels.map { case (_, cid) => (cid, 1L) }
      .reduceByKey(_ + _).map(_._2).fold(0L)(math.max)
    labels.unpersist(blocking = false)
    spark.createDataFrame(Seq((
      nVertices, nPrunedSingletons, nLabeled == nVertices, prunedSingletonOk,
      out.bestWcc > 0.0, maxCommunity >= 2L)))
      .toDF("n_vertices", "n_pruned_singletons", "partition_total_ok",
        "pruned_singleton_ok", "wcc_positive", "has_community")
  }

  /** Value-level certificate for the flagship: recompute the global
   * WCC of the emitted (vid, cid) partition through a fully
   * independent DataFrame path ([[WccCheck]] — raw edges + labels
   * only, no shared code with the GraphX pipeline) and certify that
   * it equals the claimed `bestWcc` to 1e-9. Closes the last
   * rows-only trust gap of the DWCC surface: the fixpoint is not
   * SQL-expressible, but the WCC value of the FIXED partition is. */
  /** The WCC checks' shared per-edge common-neighbor counts,
   * memoized per (session, sfDir): the flagship and seeding value
   * checks verify DIFFERENT partitions of the SAME graph, so the
   * expensive full-graph stage of the independent recompute is paid
   * once. Independence from the pipeline under test is preserved —
   * the counts come from WccCheck's own DataFrame path, never from
   * TriangleStats. */
  private def wccCheckCnt(spark: SparkSession, sfDir: String): DataFrame =
    wccCheckStages(spark, sfDir)._1

  /** The checks' second shared label-independent stage: the distinct
   * triangles ([[WccCheck.triangleRows]], one row per triangle) each
   * check's intra-community triangle counts join against. */
  private def wccCheckTriangles(spark: SparkSession, sfDir: String): DataFrame =
    wccCheckStages(spark, sfDir)._2

  /** Both stages derive from ONE memoized adjacency scaffold
   * ([[WccCheck.sharedStages]]) — separate memos paid the
   * symmetrize + collect_list + double-join build twice. */
  private def wccCheckStages(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) =
    memoize(spark, s"wccCheckStages:$sfDir") {
      WccCheck.sharedStages(canonEdges(spark, sfDir))
    }

  /** The checks' third shared label-independent stage: per-vertex
   * full-graph (t, vt) aggregated from the shared common-neighbor
   * counts ([[WccCheck.vertexTvt]]). */
  private def wccCheckTvt(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"wccCheckTvt:$sfDir") {
      val df = WccCheck.vertexTvt(wccCheckCnt(spark, sfDir)).cache()
      df.count(); df
    }

  /** One deterministic global-WCC fold per distinct LABEL SET per
   * session (VERDICT r11 order #2, closing r10 order #5): the
   * flagship and seeding value checks verify partitions that
   * COINCIDE at the gate scale (the refinement loop rejects every
   * movement, so the flagship IS the seeding graft) — the second
   * caller proves set-equality with one cheap count + anti-join and
   * reuses the fold instead of re-enumerating triangles. Distinct
   * label sets (any scale where refinement accepts) still fold
   * independently, so the certificate's meaning is unchanged. */
  private def wccCheckValue(spark: SparkSession, sfDir: String,
      labels: DataFrame): Double = {
    val ref = memoize(spark, s"wccCheckVal:$sfDir") {
      new java.util.concurrent.atomic.AtomicReference[List[(DataFrame, Long, Double)]](Nil)
    }
    val labelsC = labels.cache()
    val n = labelsC.count()
    // the set-equality proof below (equal counts + empty prev\labels
    // anti-join) implies frame equality only for vid-UNIQUE frames —
    // enforce the invariant rather than assume it (a duplicate-vid
    // caller would otherwise get a silently wrong certificate value)
    require(labelsC.select("vid").distinct().count() == n,
      "wccCheckValue: labels must be vid-unique")
    val hit = ref.get().collectFirst { case (prev, pn, v)
      if pn == n && prev.join(labelsC, Seq("vid", "cid"), "left_anti").isEmpty => v }
    hit match {
      case Some(v) =>
        labelsC.unpersist(blocking = false); v
      case None =>
        val v = WccCheck.globalWccOfPartitionDet(canonEdges(spark, sfDir), labelsC,
          precomputedCnt = Some(wccCheckCnt(spark, sfDir)),
          precomputedTriangles = Some(wccCheckTriangles(spark, sfDir)),
          precomputedTvt = Some(wccCheckTvt(spark, sfDir)))
        // keep the 2 most recent label sets (the flagship + seeding
        // checks are the expected distinct partitions per sfDir);
        // unpersist evicted frames so the list cannot grow unbounded
        // over a long session
        ref.updateAndGet { prev =>
          val (keep, evict) = ((labelsC, n, v) :: prev).splitAt(2)
          evict.foreach(_._1.unpersist(blocking = false))
          keep
        }
        v
    }
  }

  def wccPartitionWccCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val out = wccOut(spark, sfDir)
    val labels = spark.createDataFrame(
      out.graph.vertices.map { case (id, vd) => (id, vd.cId) }).toDF("vid", "cid")
    val recomputed = wccCheckValue(spark, sfDir, labels)
    val nVertices = graph(spark, sfDir).numVertices
    // wcc_round: the recomputed WCC VALUE (1e-9-rounded, scaled to a
    // BIGINT) — the oracle recomputes it from its own seeding-replay
    // labels through the identical blocked deterministic fold, so
    // the hash compares the metric itself, not a stated boolean
    spark.createDataFrame(Seq((
      nVertices,
      math.floor(recomputed * 1e9 + 0.5).toLong,
      math.abs(recomputed - out.bestWcc) <= 1e-9,
      recomputed > 0.0 && recomputed <= 1.0)))
      .toDF("n_vertices", "wcc_round", "wcc_recompute_ok", "wcc_in_unit")
  }

  /** Value-level certificate for the SEEDING phase, mirroring
   * [[wccPartitionWccCheck]]: the pipeline's own evaluation of the
   * seed partition (community stats + global WCC on the seeded core
   * — the same machinery that scores the refinement loop's
   * iteration 0) must agree to 1e-9 with a fully independent
   * DataFrame recomputation ([[WccCheck]]) from nothing but the
   * emitted labels (core labels + pruned-out singletons, the Output
   * graft-back contract) and the raw canonical edges. Rides the
   * memoized seeding run — no extra Pregel work. */
  def wccInitialPartitionWccCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val ig = init(spark, sfDir)
    val nVertices = graph(spark, sfDir).numVertices
    // the pipeline's own score of the seed partition — the memoized
    // iteration-0 evaluation the refinement run also starts from
    val claimed = seedEval(spark, sfDir)._3
    val labels = spark.createDataFrame(
      graph(spark, sfDir).vertices.leftOuterJoin(
        ig.vertices.map { case (id, vd) => (id, vd.cId) })
        .map { case (id, (_, c)) => (id, c.getOrElse(id)) }).toDF("vid", "cid")
    val recomputed = wccCheckValue(spark, sfDir, labels)
    spark.createDataFrame(Seq((
      nVertices,
      math.floor(recomputed * 1e9 + 0.5).toLong,
      math.abs(recomputed - claimed) <= 1e-9,
      recomputed > 0.0 && recomputed <= 1.0)))
      .toDF("n_vertices", "wcc_round", "wcc_recompute_ok", "wcc_in_unit")
  }

  /** G4 alone (rows-only): partition after the Pregel seeding phase. */
  def wccInitialPartition(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = init(spark, sfDir).vertices.map { case (id, vd) => (id, vd.cId) }
    spark.createDataFrame(rows).toDF("vid", "cid").orderBy("vid")
  }

  /** Seeding-phase invariant certificate: the initial partition
   * labels exactly the triangle core (every vertex with t > 0 —
   * the prune keeps precisely those, SURVEY §2.2 P4), labels come
   * from the core's own vertex ids (each community's seed is a
   * center vertex), and seeding already forms real groups. Oracle:
   * exact triangle-core size via the SQL triangle join + booleans
   * TRUE. */
  def wccInitialCertified(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = init(spark, sfDir).vertices
      .map { case (id, vd) => (id, vd.cId) }.cache()
    val nLabeled = labels.count()
    val nCore = tri(spark, sfDir).fullStats.filter(_._2._1 > 0).count()
    val coreIds = tri(spark, sfDir).fullStats.filter(_._2._1 > 0)
      .map { case (id, _) => (id, ()) }
    val strays = labels.map { case (_, cid) => (cid, ()) }.distinct()
      .leftOuterJoin(coreIds)
      .filter { case (_, (_, hit)) => hit.isEmpty }.count()
    val maxGroup = labels.map { case (_, cid) => (cid, 1L) }
      .reduceByKey(_ + _).map(_._2).fold(0L)(math.max)
    // the oracle recomputes the community count from its own
    // seeding-fixpoint replay (seedReplayCte) — an independent
    // SQL-computed value, not a stated TRUE
    val nCommunities = labels.map(_._2).distinct().count()
    labels.unpersist(blocking = false)
    spark.createDataFrame(Seq((
      nCore, nCommunities, nLabeled == nCore, strays == 0L, maxGroup >= 2L)))
      .toDF("n_core", "n_communities", "coverage_ok", "labels_in_core_ok",
        "has_group")
  }

  /** Memoized staging directory per (session, purpose, sfDir),
   * deleted on JVM exit: repeated sweeps reuse one directory (the
   * writers run mode=overwrite) instead of accumulating on-disk
   * copies of the edge set per invocation. */
  private[queries] def stagingDir(spark: SparkSession, key: String): String =
    memoize(spark, s"staging:$key") {
      val dir = java.nio.file.Files.createTempDirectory("graft-stage")
      sys.addShutdownHook {
        import java.nio.file.{Files, Path}
        import scala.jdk.CollectionConverters._
        if (Files.exists(dir)) {
          val all = Files.walk(dir).iterator().asScala.toSeq
          all.sortBy((p: Path) => -p.getNameCount)
            .foreach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
        }
      }
      dir.toString
    }

  /** S1+S6: CSV sink + edge-list source round trip — write the
   * canonical edge set as a space-delimited CSV (the reference's
   * wire format), read it back through the CSV edge-list scan. */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir(spark, s"csv:$sfDir")
    canonEdges(spark, sfDir)
      .write.mode("overwrite").option("sep", " ").csv(dir)
    EdgeOps.loadCsvEdges(spark, dir).orderBy("src", "dst")
  }

  /** S1+S6 variant: JSON-lines sink + source round trip — the
   * interchange format for pipelines that can't emit parquet
   * (declared schema on read; see EdgeOps.loadJsonlEdges). */
  def jsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir(spark, s"jsonl:$sfDir")
    canonEdges(spark, sfDir)
      .write.mode("overwrite").json(dir)
    EdgeOps.loadJsonlEdges(spark, dir).orderBy("src", "dst")
  }

  /** S1+S6 variant: ORC sink + source round trip — the columnar
   * sibling of parquet (same predicate-pushdown / column-pruning
   * behavior through the DataSource V2 scan; the landing format of
   * Hive-lineage warehouses a 100 TB ingest commonly starts from).
   * Declared schema on read, like the JSONL twin. */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir(spark, s"orc:$sfDir")
    canonEdges(spark, sfDir)
      .write.mode("overwrite").orc(dir)
    spark.read.schema("src BIGINT, dst BIGINT").orc(dir).orderBy("src", "dst")
  }

  /** Beyond-reference graph breadth: 10-iteration float PageRank on
   * the co-purchase graph. The per-vertex sums fold contributions
   * in ascending sender-id order ([[graft.graph.GraphAlgs
   * .pagerankFloatRDD]]), so the double ranks are bit-identical
   * across partitionings and runs and the DuckDB oracle replays the
   * exact recurrence with an order-preserving `list(... ORDER BY
   * sender)` fold — the float analogue of the det family's
   * integer-exact contract (the spec additionally asserts the
   * rank-mass invariant). */
  def pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val (rank, scope) =
      graft.graph.GraphAlgs.pagerankFloatRDD(graph(spark, sfDir))
    val rows = rank.map { case (id, r) =>
      (id, math.floor(r * 1e6 + 0.5) / 1e6)
    }
    // materialize BEFORE unpersisting: the DataFrame is lazy, and
    // releasing the loop surfaces first would force a full
    // 10-iteration recompute when the result is evaluated
    val df = spark.createDataFrame(rows).toDF("vid", "rank").cache()
    df.count()
    scope.close()
    df.orderBy("vid")
  }

  /** Deterministic fixed-point PageRank: the reproducible twin of
   * g_pagerank. Ranks live in integer micro-units (rank_0 = 10^6;
   * rank_{k+1} = 150000 + (850000 * Σ_{u∈N(v)} rank_k(u) div deg(u))
   * div 10^6, 10 rounds) — integer sums are order-free, so the
   * result is BIT-IDENTICAL across engines, partitionings, and
   * runs, and the oracle replays the identical recurrence in SQL.
   * Exactly what a training-data pipeline needs when a score must
   * reproduce byte-for-byte between runs. Overflow: a vertex's
   * contribution sum is bounded only by the total rank mass
   * ~10^6·|V| (worst-case concentration onto one hub), so the
   * 850000·sum product runs through GraphAlgs.mulDiv — exact for
   * any sum a Long can hold, which moves the safe bound from
   * |V|~10^7 (raw 64-bit multiply) to |V|~9·10^12; past that the
   * sums themselves addExact-throw rather than corrupt. The DuckDB
   * side sums in HUGEINT and casts back. */
  def pagerankDeterministic(spark: SparkSession, sfDir: String): DataFrame = {
    val (rank, scope) = graft.graph.GraphAlgs.pagerankDetRDD(adjArrays(spark, sfDir))
    val df = spark.createDataFrame(rank).toDF("vid", "rank").cache()
    df.count()
    scope.close()
    df.orderBy("vid")
  }

  /** Personalized PageRank, deterministic integer form: restart
   * mass only on the 5 md5-hash-picked sample roots (the same
   * documented pick as the BFS family), 10 rounds of
   * [[graft.graph.GraphAlgs.pprDetRDD]]'s micro-unit recurrence —
   * the graph-proximity expansion score (seed a trusted doc set,
   * rank everything by proximity) with the det family's
   * byte-reproducibility contract. Oracle replays the recurrence
   * with the seed indicator folded into the edge CTE once. */
  def pprDeterministic(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = bfsSources(spark, sfDir).toSet
    val (rank, scope) = graft.graph.GraphAlgs.pprDetRDD(adjArrays(spark, sfDir), seeds)
    val df = spark.createDataFrame(rank).toDF("vid", "rank").cache()
    df.count()
    scope.close()
    df.orderBy("vid")
  }

  /** G8+G9: incremental IDWCC over the co-purchase graph via the
   * reference's bulk/stream split-and-replay driver loop, replayed
   * exactly by the DuckDB oracle ([[incrReplayCte]] — the last
   * formerly rows-only query of the suite). Memoized so the
   * invariant certificate shares the run. */
  def wccIncremental(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"idwcc:$sfDir") {
      val (state, streamEdges) = idwccShared(spark, sfDir)
      val batch = streamEdges.rdd.map(r =>
        org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), 1))
      val fin = IncrementalWCC.run(state, batch, releaseInput = false)
      val rows = fin.graph.vertices.map { case (id, vd) => (id, vd.cId) }
      val df = spark.createDataFrame(rows).toDF("vid", "cid").orderBy("vid").cache()
      df.count()
      fin.graph.unpersistVertices(blocking = false)
      fin.graph.edges.unpersist(blocking = false)
      df
    }

  /** G8+G9 with microBatchCount = 2 (VERDICT r11 order #1): the SAME
   * driver loop folded over TWO id-range micro-batches — the path
   * where the reference's cross-batch quirks become observable: batch
   * 2's delta update reads the zero-reset (t, vt) baselines batch 1's
   * graft-back wrote, merges onto the BULK edge set (batch 1's edges
   * never persist — each run grafts onto the previous graph's
   * vertex/EDGE set), and classifies border/new against the unchanged
   * bulk universe. Shares the memoized bulk prepare with the
   * single-batch row; the oracle unrolls the replay CTE twice. */
  def wccIncrementalMultibatch(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"idwccMulti:$sfDir") {
      import org.apache.spark.graphx.Edge
      val (state, streamEdges) = idwccShared(spark, sfDir)
      // the driver loop's id-range split (IncrementalWCC.testStream):
      // maxVertex over the canonical graph = max stream endpoint
      // (every edge touching the max-id vertex is a stream edge).
      // A degenerate graph with an EMPTY stream region would make the
      // max aggregate null — guard loudly instead of NPE-ing (the
      // bulk-only result is what a caller should take from
      // g_wcc_partition, not from a zero-batch "incremental" replay).
      val maxRow = streamEdges
        .agg(max(greatest(col("src"), col("dst")))).head()
      require(!maxRow.isNullAt(0),
        "wccIncrementalMultibatch: empty stream region — the id-range " +
          "split left no stream edges; run the batch DWCC instead")
      val maxVertex = maxRow.getLong(0)
      val split = math.floor(maxVertex * 0.8)
      // max(1, ...) in lockstep with the oracle CTE's greatest(1, z)
      val batchSize = math.max(1.0, math.floor((maxVertex - split) / 2))
      var st = state
      (1 to 2).foreach { b =>
        val lower = split + (b - 1) * batchSize
        val higher = if (b == 2) maxVertex + 1.0 else split + b * batchSize
        val batch = streamEdges
          .where((col("src") >= lower || col("dst") >= lower) &&
            col("src") < higher && col("dst") < higher)
          .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
        // the memo owns the shared bulk state; intermediates are ours
        st = IncrementalWCC.run(st, batch, releaseInput = st ne state)
      }
      val rows = st.graph.vertices.map { case (id, vd) => (id, vd.cId) }
      val df = spark.createDataFrame(rows).toDF("vid", "cid").orderBy("vid").cache()
      df.count()
      st.graph.unpersistVertices(blocking = false)
      st.graph.edges.unpersist(blocking = false)
      df
    }

  /** G8+G9, micro-batch shape (VERDICT r14 order #3): ONE genuinely
   * micro batch — the stream edges of the single id window
   * [split, split + z), z = max(1, floor((maxId - split) / 400)) —
   * folded through `IncrementalWCC.run` with `expectDeltaPath = true`,
   * so the fold provably seeds from the state's bulk flags plus its
   * delta triangle pass (`IncrementalWCC.deltaTriangles`)
   * under the driver's DuckDB compare. Shares the session-memoized
   * 0.8-split bulk prepare; the oracle replays the same window as
   * batch 1 of a 400-window split — the delta flags provably equal the
   * from-scratch support flags (IncrementalWCCSpec). */
  def wccIncrementalDelta(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"idwccDelta:$sfDir") {
      import org.apache.spark.graphx.Edge
      val (state, streamEdges) = idwccShared(spark, sfDir)
      val maxRow = streamEdges
        .agg(max(greatest(col("src"), col("dst")))).head()
      require(!maxRow.isNullAt(0),
        "wccIncrementalDelta: empty stream region — the id-range " +
          "split left no stream edges; run the batch DWCC instead")
      val maxVertex = maxRow.getLong(0)
      val split = math.floor(maxVertex * 0.8)
      // window arithmetic in lockstep with the oracle CTE
      // (batches = 400, applyBatches = 1): z = greatest(1, floor(...))
      val z = math.max(1.0, math.floor((maxVertex - split) / 400))
      val batchDf = streamEdges
        .where((col("src") >= split || col("dst") >= split) &&
          col("src") < split + z && col("dst") < split + z)
      // probe BEFORE caching (ADVICE r15: a cache taken ahead of the
      // guard leaked if the require tripped)
      require(batchDf.limit(1).count() == 1,
        s"wccIncrementalDelta: the first id window [$split, ${split + z}) " +
          "holds no stream edges — widen the window (lower the 400 " +
          "divisor) in BOTH this query and its oracle")
      batchDf.cache()
      val batch = batchDf.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
      val fin = IncrementalWCC.run(state, batch, releaseInput = false,
        expectDeltaPath = true)
      val rows = fin.graph.vertices.map { case (id, vd) => (id, vd.cId) }
      val df = spark.createDataFrame(rows).toDF("vid", "cid").orderBy("vid").cache()
      df.count()
      batchDf.unpersist(blocking = false)
      fin.graph.unpersistVertices(blocking = false)
      fin.graph.edges.unpersist(blocking = false)
      df
    }

  /** Shared IDWCC inputs: the bulk-region DWCC state (the expensive
   * ~half of the replay — a full DistributedWCC over the sub-split
   * graph) plus the stream-region canonical edges, memoized so the
   * batch replay (`g_wcc_incremental`) and its Structured Streaming
   * twin (`s_wcc_incremental`, [[graft.streaming.StreamOps
   * .incrementalWccStream]]) fold from ONE bulk prepare per
   * (session, sfDir). The split rule is the driver loop's own
   * (`IncrementalWCC.testStream`): bulk = both endpoints below
   * floor(maxId * 0.8), stream = the rest. Users of the state must
   * pass `releaseInput = false` to `IncrementalWCC.run` — the memo
   * owns the cached state graph. */
  private[graft] def idwccShared(spark: SparkSession, sfDir: String)
      : (IncrementalWCC.State, DataFrame) =
    memoize(spark, s"idwccBulk:$sfDir") {
      import org.apache.spark.graphx.Edge
      val canon = canonEdges(spark, sfDir)
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      val maxVertex = canon.agg(max(greatest(col("src"), col("dst")))).head().getLong(0)
      val split = math.floor(maxVertex * 0.8)
      val bulk = canon.where(col("src") < split && col("dst") < split).rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1))
      bulk.cache()
      // size from the ACTUAL edge set being partitioned (the bulk
      // region, ~64% of the canonical count), the same rule every
      // other surface uses — not the full-graph count (ADVICE r15)
      val state = IncrementalWCC.prepareEdges(bulk, partsFor(bulk.getNumPartitions, bulk.count()))
      bulk.unpersist(blocking = false)
      val streamEdges = canon
        .where(col("src") >= split || col("dst") >= split).cache()
      streamEdges.count()
      (state, streamEdges)
    }

  /** IDWCC invariant certificate: each replayed vertex is labeled
   * exactly once, every labeled vertex is a real vertex of the full
   * co-purchase graph (the replay covers a subset — the reference's
   * split/merge semantics drop nothing it saw, but stream-only
   * regions may enter late), and the stream found at least one real
   * community. Oracle: the full graph's exact vertex count +
   * booleans TRUE. Shares the memoized replay with
   * g_wcc_incremental. */
  def wccIncrementalCertified(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = wccIncremental(spark, sfDir) // (vid, cid), cached
    val nVertices = graph(spark, sfDir).numVertices
    val nLabeled = labels.count()
    val distinctVids = labels.select("vid").distinct().count()
    // The replay grafts its final state onto the BULK graph's vertex
    // set (IncrementalWCC.run graft-back, reference quirk `:56-58`),
    // and the bulk vertex set is pure data arithmetic: endpoints of
    // edges with both ids below floor(maxId * 0.8). The oracle
    // recomputes that count in SQL and this query emits the labeled
    // distinct-vid count under the same column — an exact
    // cross-engine value check on the replay's coverage (VERDICT r8
    // item 3), alongside the Spark-certified set equality.
    val canon = canonEdges(spark, sfDir)
    val maxVertex = canon.agg(max(greatest(col("src"), col("dst")))).head().getLong(0)
    val split = math.floor(maxVertex * 0.8)
    val bulkVerts = canon.where(col("src") < split && col("dst") < split)
      .select(explode(array(col("src"), col("dst"))).as("vid")).distinct().cache()
    val nBulk = bulkVerts.count()
    val coverOk = distinctVids == nBulk &&
      labels.select("vid").distinct()
        .join(bulkVerts, Seq("vid"), "left_anti").count() == 0
    bulkVerts.unpersist(blocking = false)
    val maxCommunity = labels.groupBy("cid").count()
      .agg(max(col("count"))).head().getLong(0)
    spark.createDataFrame(Seq((
      nVertices, distinctVids, nLabeled == distinctVids, coverOk,
      maxCommunity >= 2L)))
      .toDF("n_vertices", "n_bulk_vertices", "labels_unique_ok",
        "labels_cover_bulk_ok", "has_community")
  }

  /** Pregel BFS hop distances from the smallest vertex id (oracle =
   * bounded recursive CTE taking min over walk lengths). */
  def bfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = canonEdges(spark, sfDir)
    val source = edges.agg(min(col("src"))).head().getLong(0)
    graft.graph.GraphAlgs.bfsHopsDF(graph(spark, sfDir), source)
      .orderBy("vid")
  }

  /** Cached weighted adjacency (vid, sorted nbrs, 1/deg weights) —
   * shared by every link-prediction query in the session. */
  private def adjW(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"adjw:$sfDir") {
      val df = graft.graph.GraphAlgs
        .weightedAdjacency(EdgeOps.symmetrize(canonEdges(spark, sfDir))).cache()
      df.count(); df
    }

  /** Resource-Allocation link-prediction index per existing edge
   * (GraphAlgs.resourceAllocation — log-free Adamic-Adar). */
  def resourceAllocation(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.GraphAlgs.resourceAllocationFromAdj(
      canonEdges(spark, sfDir), adjW(spark, sfDir))
      .orderBy("src", "dst")

  /** The 5 BFS sample roots, hash-picked: smallest md5 of the
   * decimal vertex-id string (ties by id) over the canonical source
   * ids. A content-derived rule rather than "5 smallest ids" — the
   * sample is byte-reproducible under resampling, independent of id
   * assignment order, and spread uniformly over the id space instead
   * of clustered at one end (the det-family determinism contract,
   * same derivation the stratified document sampler uses). Both
   * engines hash the identical decimal string, so the oracle
   * replays the exact pick. */
  private[queries] def bfsSources(spark: SparkSession, sfDir: String): Array[Long] =
    canonEdges(spark, sfDir)
      .select(col("src")).distinct()
      .orderBy(md5(col("src").cast("string")), col("src")).limit(5)
      .collect().map(_.getLong(0))

  /** Batched multi-source BFS (one Pregel run, Array-distance
   * attrs) from the 5 hash-picked sample roots; integer-exact
   * summary. */
  def multiBfs(spark: SparkSession, sfDir: String): DataFrame = {
    graft.graph.GraphAlgs.multiSourceBfsDF(graph(spark, sfDir),
      bfsSources(spark, sfDir), maxHops = 8)
      .orderBy("vid")
  }

  /** Distinct 2-hop reach (friends-of-friends minus self and direct
   * neighbors) for the 100 highest-degree hubs. Bounding the start
   * set keeps the Σdeg² wedge expansion proportional to the audited
   * hubs — the unbounded version is exactly the blowup
   * resourceAllocation's merge-scan formulation avoids. */
  def twoHopReach(spark: SparkSession, sfDir: String): DataFrame = {
    val sym = EdgeOps.symmetrize(canonEdges(spark, sfDir))
    val deg = adjW(spark, sfDir).select(col("vid"), size(col("nbrs")).as("degree"))
    val hubs = deg.orderBy(col("degree").desc, col("vid")).limit(100)
    // hub-incident edges, used twice: wedge starts AND the direct-edge
    // exclusion set. Every excluded pair has a ∈ hubs, so the anti
    // join only ever needs these ~Σdeg(hub) rows — shuffling the full
    // doubled edge set there (the previous shape) moved |E| rows to
    // exclude from a hub-rooted pair list (r17)
    val hubEdges = sym
      .join(broadcast(hubs.select(col("vid"))), sym("src") === col("vid"))
      .select(col("src").as("a"), col("dst").as("z"))
    val pairs = hubEdges
      .join(sym.select(col("src").as("z"), col("dst").as("b")), "z")
      .where(col("b") =!= col("a"))
      .select("a", "b").distinct()
    pairs
      .join(hubEdges.select(col("a"), col("z").as("b")), Seq("a", "b"), "left_anti")
      .groupBy("a")
      .agg(count(lit(1)).as("n_two_hop"))
      .join(broadcast(hubs), col("a") === hubs("vid"))
      .select(col("vid"), col("degree").cast("long").as("degree"), col("n_two_hop"))
      .orderBy("vid")
  }

  /** One batched multi-source BFS from the 5 hash-picked sample
   * roots ([[bfsSources]]), reduced to per-root (n_reached,
   * sum_dist, max_dist, harm_sum) — memoized so g_eccentricity,
   * g_closeness, and g_harmonic share a single Pregel run (the
   * per-vertex view, g_multi_bfs, runs its own reduction).
   * harm_sum = Σ_{d>0} 10^9 div d in integer micro-units: Long
   * floor division on positive operands matches DuckDB's `//`, and
   * the sum is order-free, so the harmonic mass ships bit-exact. */
  private def bfs5(spark: SparkSession, sfDir: String): Array[(Long, Long, Long, Long, Long)] =
    memoize(spark, s"bfs5:$sfDir") {
      val sources = bfsSources(spark, sfDir)
      val (state, scope) = graft.graph.GraphAlgs
        .multiSourceBfsRDD(graph(spark, sfDir), sources, maxHops = 8)
      val perRoot = state.flatMap { case (_, ds) =>
        ds.zipWithIndex.collect { case (d, i) if d != Int.MaxValue => (i, d) }
      }.aggregateByKey((0L, 0L, 0, 0L))(
        { case ((n, s, mx, h), d) =>
          (n + 1, s + d, math.max(mx, d), h + (if (d > 0) 1000000000L / d else 0L)) },
        { case ((n1, s1, m1, h1), (n2, s2, m2, h2)) =>
          (n1 + n2, s1 + s2, math.max(m1, m2), h1 + h2) })
        .collect().sortBy(_._1)
      scope.close()
      perRoot.map { case (i, (n, s, mx, h)) => (sources(i), n, s, mx.toLong, h) }
    }

  /** Sampled bounded-horizon betweenness centrality from the 5
   * hash-picked BFS roots at the shared 8-hop horizon
   * (GraphAlgs.sampledBetweennessRDD — Brandes forward sigma + the
   * depth-walked dependency accumulation, ascending-successor-id
   * folds). Value-checked: the oracle replays the identical BFS
   * DAG, integer sigma recurrence, and float fold chain in SQL —
   * bit-identical doubles, zero tolerance at the shared 1e-9
   * rounding. */
  def betweenness(spark: SparkSession, sfDir: String): DataFrame = {
    val (rows, scope) = graft.graph.GraphAlgs.sampledBetweennessRDD(
      graph(spark, sfDir), bfsSources(spark, sfDir), maxHops = 8)
    val out = spark.createDataFrame(rows).toDF("vid", "n_roots", "bc_raw")
      .select(col("vid"), col("n_roots"),
        (floor(col("bc_raw") * 1e9 + 0.5) / 1e9).as("bc"))
      .orderBy("vid")
    val materialized = out.cache()
    materialized.count()
    scope.close()
    materialized
  }

  /** Sampled eccentricity: per BFS root the max bounded hop distance
   * and reach — max(ecc) lower-bounds the graph diameter.
   * Integer-exact. */
  def eccentricity(spark: SparkSession, sfDir: String): DataFrame =
    spark.createDataFrame(
      bfs5(spark, sfDir).map { case (r, n, _, mx, _) => (r, n, mx) }.toSeq)
      .toDF("root", "n_reached", "ecc")
      .orderBy("root")

  /** Sampled closeness centrality: per BFS root the bounded-horizon
   * closeness (n_reached - 1) / sum_dist — the reach-normalized form
   * that is well-defined on disconnected graphs. The integer inputs
   * ship exactly; only the final ratio is floating point. */
  def closeness(spark: SparkSession, sfDir: String): DataFrame =
    spark.createDataFrame(
      bfs5(spark, sfDir).map { case (r, n, s, mx, _) => (r, n, s, mx) }.toSeq)
      .toDF("root", "n_reached", "sum_dist", "ecc")
      .select(col("root"), col("n_reached"), col("sum_dist"),
        floor((col("n_reached") - 1).cast("double") / col("sum_dist") * 1e9 + 0.5)
          ./(1e9).as("closeness"))
      .orderBy("root")

  /** Sampled harmonic centrality: per BFS root the bounded-horizon
   * harmonic mass Σ_{v reached, d>0} 1/d, carried as the integer
   * nano-unit sum Σ 10^9 div d — fully order-free, so the row is
   * bit-exact under the oracle hash with no float tolerance (the
   * well-known advantage of harmonic over closeness on disconnected
   * graphs comes for free: unreached vertices contribute 0). */
  def harmonic(spark: SparkSession, sfDir: String): DataFrame =
    spark.createDataFrame(
      bfs5(spark, sfDir).map { case (r, n, _, _, h) => (r, n, h) }.toSeq)
      .toDF("root", "n_reached", "harm_sum")
      .orderBy("root")

  /** SSSP with a COMPLETE optimality certificate: for positive edge
   * lengths, a distance labeling is THE shortest-path solution iff
   * (a) d(source) = 0, (b) no edge is relaxable
   * (d(v) <= d(u) + len(u,v) for every edge), and (c) every reached
   * non-source vertex has an incoming edge that is TIGHT
   * (d(v) = d(u) + len(u,v)) — Bellman's conditions. The booleans
   * certify (a)-(c) plus reachability closure; the oracle recomputes
   * the exact reachable-set size by SQL recursion and states the
   * certificate TRUE. A wrong fixpoint (early stop, missed
   * relaxation, dropped vertex) flips a boolean or the count.
   * Tolerance 1e-9: min-of-path-sums arrives via different float
   * orders on different partitions. */
  def ssspCertified(spark: SparkSession, sfDir: String): DataFrame = {
    val weighted = weightedEdges(spark, sfDir)
    val source = weighted.agg(min(col("src"))).head().getLong(0)
    val g = memoize(spark, s"weightedGraph:$sfDir") {
      // same edge-count partition sizing as the unweighted graph
      // surface (see graphParts) — the SSSP fixpoint is min over
      // left-folded path sums, partitioning-invariant by design
      val wg = EdgeOps.toWeightedGraph(weighted,
        numPartitions = graphParts(spark, sfDir)); wg.cache()
      wg.numVertices; wg
    }
    val dist = memoize(spark, s"ssspDist:$sfDir") {
      graft.graph.GraphAlgs.ssspWeightedDF(g, source) // cached inside
    }
    val eps = 1e-9
    val lens = weighted.select(col("src"), col("dst"),
        (lit(1.0) / col("w")).as("len"))
    val sym = lens.union(lens.select(col("dst").as("src"),
      col("src").as("dst"), col("len")))
    val du = dist.select(col("vid").as("src"), col("dist").as("du"))
    val dv = dist.select(col("vid").as("dst"), col("dist").as("dv"))
    val joined = sym.join(du, Seq("src"), "left").join(dv, Seq("dst"), "left")
    val agg = joined.agg(
      // closure: an edge from a reached vertex into an unreached one
      // would witness an incomplete fixpoint
      expr(s"count_if(du IS NOT NULL AND dv IS NULL)").as("n_open"),
      // no relaxable edge among reached pairs
      expr(s"count_if(du IS NOT NULL AND dv IS NOT NULL AND dv > du + len + $eps)")
        .as("n_relaxable")).head()
    val tight = joined
      .where(col("du").isNotNull && col("dv").isNotNull &&
        col("dst") =!= source) // the source needs no incoming support
      .groupBy(col("dst"))
      .agg(min(col("du") + col("len") - col("dv")).as("slack"))
      .agg(expr(s"count_if(slack > $eps)").as("n_unsupported")).head()
    val srcOk = dist.where(col("vid") === source)
      .head().getDouble(1) == 0.0
    spark.createDataFrame(Seq((
      dist.count(), srcOk && agg.getLong(0) == 0L,
      agg.getLong(1) == 0L, tight.getLong(0) == 0L)))
      .toDF("n_reached", "closure_ok", "relaxed_ok", "support_ok")
  }

  /** Cached symmetric adjacency arrays under a small fixed
   * partitioner — shared by the deterministic integer fixpoints
   * (pagerank/eigen/label-propagation twins), which all stream it
   * against a per-partition state hash. */
  private def adjArrays(spark: SparkSession, sfDir: String)
      : org.apache.spark.rdd.RDD[(Long, Array[Long])] =
    memoize(spark, s"adjArrays:$sfDir") {
      val adj = graft.graph.GraphAlgs
        .adjacencyArrays(canonEdges(spark, sfDir)).persist()
      adj.count()
      adj
    }

  /** Deterministic integer eigenvector centrality: the reproducible
   * twin of g_eigencentrality. Shifted power iteration in micro
   * units — s_v = x_v + Σ_{u∈N(v)} x_u, then max-normalize by
   * x'_v = (s_v * 10^6) div max(s) — 12 rounds, all integer, so the
   * scores are bit-identical across engines/partitionings and the
   * oracle replays the identical recurrence. The argmax vertex
   * lands on exactly 10^6 every round. Overflow: the s_v * 10^6
   * normalization runs through GraphAlgs.mulDiv (128-bit exact), so
   * hub degree is no longer capped at ~9·10^6 by the raw multiply;
   * sums past Long range addExact-throw rather than corrupt (DuckDB
   * already sums in HUGEINT). */
  def eigenCentralityDeterministic(spark: SparkSession, sfDir: String): DataFrame = {
    val (x, scope) = graft.graph.GraphAlgs.eigenCentralityDetRDD(adjArrays(spark, sfDir))
    val df = spark.createDataFrame(x).toDF("vid", "score").cache()
    df.count()
    scope.close()
    df.orderBy("vid")
  }

  /** Deterministic synchronous label propagation: the value-checked
   * twin of g_label_propagation. 4 fixed rounds; each vertex adopts
   * the most frequent neighbor label with ties broken by SMALLEST
   * label — a total order, so unlike classic LPA (whose tie-break is
   * implementation-defined map-iteration order) the result is exact
   * and the oracle replays it with a row_number window. */
  def labelPropagationDeterministic(spark: SparkSession, sfDir: String): DataFrame = {
    val (lab, scope) = graft.graph.GraphAlgs.labelPropagationDetRDD(adjArrays(spark, sfDir))
    val df = spark.createDataFrame(lab).toDF("vid", "label").cache()
    df.count()
    scope.close()
    df.orderBy("vid")
  }

  /** PageRank mass certificate: GraphX staticPageRank distributes a
   * total rank mass of |V| on a sink-free graph (every vertex of the
   * doubled co-purchase graph has out-edges), and every rank is at
   * least the teleport floor 0.15. The oracle recomputes |V|; the
   * invariant booleans it states TRUE would flip on a broken
   * iteration (lost mass, negative/zero ranks). */
  def pagerankCertified(spark: SparkSession, sfDir: String): DataFrame = {
    val pr = graph(spark, sfDir).staticPageRank(10)
    val stats = pr.vertices.map(_._2)
      .aggregate((0L, 0.0, Double.MaxValue))(
        { case ((n, s, mn), r) => (n + 1, s + r, math.min(mn, r)) },
        { case ((n1, s1, m1), (n2, s2, m2)) => (n1 + n2, s1 + s2, math.min(m1, m2)) })
    pr.unpersistVertices(blocking = false)
    pr.edges.unpersist(blocking = false)
    val (n, mass, minRank) = stats
    // mass_round: the total rank mass rounded to the nearest integer
    // MUST equal |V| exactly (sink-free graph conserves the teleport
    // mass) — the oracle recomputes |V| in SQL under the same column,
    // making the mass-balance invariant a cross-engine value check
    spark.createDataFrame(Seq((
      n, math.round(mass), math.abs(mass - n) <= n * 1e-6, minRank >= 0.15 - 1e-9)))
      .toDF("n_vertices", "mass_round", "mass_ok", "floor_ok")
  }

  /** Data-driven recursive CTE (Spark 4 UnionLoop over a real edge
   * table, vs r_recursive_cte's generated series): bounded 2-hop
   * walk from the smallest vertex, reduced to vertices per minimum
   * hop distance. The same BFS the Pregel surfaces run, expressed
   * purely in SQL recursion on BOTH engines — the capability probe
   * for relational iteration without a driver loop. */
  def recursiveReach(spark: SparkSession, sfDir: String): DataFrame = {
    val sym = EdgeOps.symmetrize(canonEdges(spark, sfDir))
    sym.createOrReplaceTempView("g_rec_edges")
    val root = sym.agg(min(col("src"))).head().getLong(0)
    spark.sql(
      s"""WITH RECURSIVE walk(vid, hop) AS (
         |  SELECT CAST($root AS BIGINT) AS vid, 0 AS hop
         |  UNION ALL
         |  SELECT e.dst, w.hop + 1
         |  FROM walk w JOIN g_rec_edges e ON e.src = w.vid
         |  WHERE w.hop < 2),
         |md AS (SELECT vid, min(hop) AS d FROM walk GROUP BY vid)
         |SELECT d, count(*) AS n_vertices FROM md GROUP BY d ORDER BY d""".stripMargin)
  }

  /** Eigenvector centrality (20 max-normalized power-iteration
   * rounds). The per-vertex sums fold in ascending sender-id order
   * (GraphAlgs.detFoldSums), so the doubles are bit-identical
   * across runs and the oracle replays the (A+I)x / max recurrence
   * exactly; hub dominance and symmetry additionally pinned by
   * Round7Spec. */
  def eigenCentrality(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"eigen:$sfDir") {
      // eigenCentralityDF caches + materializes internally
      graft.graph.GraphAlgs.eigenCentralityDF(graph(spark, sfDir))
        .orderBy("vid")
    }

  /** K-truss (k=4) of the co-purchase graph: iteratively peel
   * canonical edges whose support (triangles through the edge within
   * the surviving subgraph) falls below k-2, to a fixpoint.
   *
   * Each round is one adjacency build (groupBy on the symmetrized
   * survivors) plus two vertex joins feeding the native codegen'd
   * sorted-array `intersect_count` merge scan — the identical plan
   * class as neighborJaccard, never a wedge-enumeration join, so a
   * round costs O(|E| + Σdeg) shuffled rows at any scale.
   *
   * Output is the self-certifying contract (the truss fixpoint is
   * not recursive-CTE-expressible — peeling is non-monotone): the
   * full-graph vertex count and the round-1 survivor count are exact
   * values the oracle recomputes in SQL; the booleans (every
   * surviving edge re-verified at support >= k-2 inside the final
   * edge set; the loop reached its fixpoint) the oracle states as
   * TRUE — a wrong fixpoint flips one and fails the hash compare. */
  def ktruss(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions.intersectCount
    val k = 4
    val nVertices = graph(spark, sfDir).numVertices
    val truss = graft.graph.GraphAlgs.ktrussPeel(canonEdges(spark, sfDir), k)
    val cur = truss.edges.select("src", "dst")
    // re-verify the fixpoint's supports inside the final edge set
    val sym = cur.union(
      cur.select(col("dst").as("src"), col("src").as("dst")))
    val adj = sym.groupBy(col("src").as("vid"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val supportOk = cur.isEmpty || {
      val row = cur
        .join(adj.select(col("vid").as("src"), col("nbrs").as("na")), "src")
        .join(adj.select(col("vid").as("dst"), col("nbrs").as("nb")), "dst")
        .select(intersectCount(col("na"), col("nb")).as("s"))
        .agg(min(col("s"))).head()
      !row.isNullAt(0) && row.getInt(0) >= k - 2
    }
    truss.scope.close()
    spark.createDataFrame(Seq((nVertices, truss.r1Count, supportOk, truss.converged)))
      .toDF("n_vertices", "n_edges_r1", "support_ok", "converged")
  }

  /** Degree assortativity coefficient (Pearson correlation of
   * endpoint degrees over the doubled edge set): every moment is an
   * exact integer sum (degrees and their products stay far below
   * 2^53), so only the final correlation arithmetic is floating
   * point — deterministic on both engines under the shared rounding. */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val sym = EdgeOps.symmetrize(canonEdges(spark, sfDir))
    val deg = EdgeOps.degrees(sym)
    val joined = sym
      .join(deg.select(col("vid").as("src"), col("degree").as("dx")), "src")
      .join(deg.select(col("vid").as("dst"), col("degree").as("dy")), "dst")
    val agg = joined.agg(
      count(lit(1)).as("n"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    agg.select(col("n"),
      (floor((col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy"))) * 1e9 + 0.5) / 1e9)
        .as("assortativity"))
  }

  /** Newman modularity of the synthetic partition (cid = vid % 100):
   * Q = Σ_c (a_c/m − (d_c/2m)²) with m = undirected edge count,
   * a_c = intra-community edges, d_c = total degree of community c.
   * All inputs are integer counts, so the rounded double matches the
   * oracle bit-for-bit. One triplet-shaped join + two tiny
   * aggregations — the standard partition-quality metric computed
   * relationally. */
  def modularity(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = canonEdges(spark, sfDir)
    val m = raw.count().toDouble
    val assign = EdgeOps.symmetrize(raw)
      .groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
      .withColumn("cid", col("vid") % SyntheticModulus)
    val dC = assign.groupBy("cid").agg(sum("deg").as("d_c"))
    val aC = raw
      .withColumn("sc", col("src") % SyntheticModulus)
      .withColumn("dc", col("dst") % SyntheticModulus)
      .where(col("sc") === col("dc"))
      .groupBy(col("sc").as("cid")).agg(count(lit(1)).as("a_c"))
    dC.join(aC, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("a_c"), lit(0L)).as("a_c"), col("d_c"),
        (floor((coalesce(col("a_c"), lit(0L)) / m -
          (col("d_c") / (2 * m)) * (col("d_c") / (2 * m))) * 1e9 + 0.5) / 1e9)
          .as("q_c"))
      .orderBy("cid")
  }

  /** Degree-distribution histogram (the first diagnostic anyone runs
   * on a new graph). */
  def degreeDist(spark: SparkSession, sfDir: String): DataFrame =
    EdgeOps.degrees(EdgeOps.symmetrize(canonEdges(spark, sfDir)))
      .groupBy("degree").agg(count(lit(1)).as("n_vertices"))
      .orderBy("degree")

  /** Average neighbor degree per vertex (degree-assortativity
   * signal); own degree = group size of the doubled edge set. */
  def avgNeighborDegree(spark: SparkSession, sfDir: String): DataFrame = {
    val sym = EdgeOps.symmetrize(canonEdges(spark, sfDir))
    val deg = EdgeOps.degrees(sym)
      .select(col("vid").as("dst"), col("degree").as("nd"))
    sym.join(deg, "dst")
      .groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("degree"),
        (floor(avg(col("nd")) * 1e9 + 0.5) / 1e9).as("avg_nbr_degree"))
      .orderBy("vid")
  }

  /** K-core decomposition via distributed H-index propagation,
   * emitted as the full per-vertex coreness table. The oracle
   * recomputes every coreness independently: the synchronous
   * H-index recurrence h_0 = deg, h_{i+1}(v) = H({h_i(u) : u in
   * N(v)}) is monotonically nonincreasing and converges to the true
   * coreness (Lu et al., Nature Sci. Rep. 2016 — the same theorem
   * the distributed loop rests on), and each round is one window
   * expression in SQL (H-index = max over descending-sorted
   * neighbor values of min(value, position)). Integer-exact on both
   * engines, so the whole decomposition is hash-matched — no stated
   * invariants. */
  def kcore(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.GraphAlgs.corenessDF(graph(spark, sfDir)).orderBy("vid")

  /** Deterministic Luby maximal independent set over the canonical
   * co-purchase edges ([[graft.graph.GraphAlgs.misDetDF]]): (vid,
   * mis_round) for every MIS member, the round tagging WHICH sweep
   * selected it. Oracle = the identical unrolled rounds (md5
   * priorities, knockout, shrink) with the loud unroll-margin guard:
   * zero rows if any vertex is still undecided after the unrolled
   * depth. */
  def mis(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.GraphAlgs.misDetDF(canonEdges(spark, sfDir)).orderBy("vid")

  /** Deterministic Jones–Plassmann coloring over the canonical
   * co-purchase edges ([[graft.graph.GraphAlgs.colorDetDF]]): (vid,
   * color, jp_round) for EVERY vertex — 1-based greedy-mex colors,
   * the round tagging when each vertex committed. Runs on the
   * BACKBONE edge set (co-purchase weight >= 2): on the full
   * co-purchase clique union the greedy schedule's depth is
   * ~n/|MIS| rounds (the graph is dense at every sf — JP equals
   * sequential greedy, and its parallel depth is a property of the
   * data), which no bounded SQL unroll can replay; the backbone is
   * the repo's standard sparse subgraph for depth-bounded fixpoint
   * oracles (g_cc_twophase, g_sssp_weighted). Oracle = the identical
   * unrolled rounds (md5 priorities, per-round independent eligible
   * set, mex over previously-colored neighbors) with the loud
   * unroll-margin guard. */
  def coloring(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.GraphAlgs.colorDetDF(backboneEdges(spark, sfDir)).orderBy("vid")

  /** MIS-driven coloring schedule on the same backbone
   * ([[graft.graph.GraphAlgs.coloringMisDF]]): greedy mex under
   * per-round REFRESHED md5 priorities — the O(log n)-depth
   * schedule for inputs where JP's fixed order builds long
   * decreasing chains (the skew probe's 217 rounds). Oracle =
   * identical unrolled rounds with the round salt inlined. */
  def coloringMis(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.GraphAlgs.coloringMisDF(backboneEdges(spark, sfDir)).orderBy("vid")

  /** Trial-color (Δ+1)-coloring on the same backbone
   * ([[graft.graph.GraphAlgs.coloringTrialDF]]): palette proposals
   * with md5 tie-break — constant per-round commit probability at
   * ANY degree, the genuinely O(log n)-depth schedule of the
   * coloring family. Oracle = identical unrolled rounds (windowed
   * palette pick, same mix arithmetic, same tie-break). */
  def coloringTrial(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.GraphAlgs.coloringTrialDF(backboneEdges(spark, sfDir)).orderBy("vid")

  /** Deterministic greedy maximal matching over the canonical
   * co-purchase edges ([[graft.graph.GraphAlgs.matchingDetDF]]):
   * (src, dst, match_round) for every matched edge. Runs on the FULL
   * graph — the edge-Luby schedule shrinks geometrically on dense
   * inputs too. Oracle = identical unrolled rounds (per-vertex
   * min-key, match iff min at both endpoints, incident knockout)
   * with the loud unroll-margin guard. */
  def matching(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.GraphAlgs.matchingDetDF(canonEdges(spark, sfDir))
      .orderBy("src", "dst")

  /** Strongly connected components over the md5-ORIENTED co-purchase
   * digraph (the co-purchase relation is symmetric, so direction is
   * planted deterministically: keep the 1/16 of canonical pairs
   * whose md5 starts with '0', orient by the hash's 2nd hex char,
   * and make the 1/16 of kept pairs with 3rd char '0' reciprocal —
   * ~7.6k directed edges over ~2k parts at sf0.01, one giant SCC
   * plus a tail of small ones). Sparsified so the ORACLE's
   * transitive-closure replay stays affordable; the algorithm
   * ([[graft.graph.GraphAlgs.sccDetDF]]) never materializes a
   * closure and is probed separately at Zipf scale. */
  private def sccFixtureEdges(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"sccEdges:$sfDir") {
      val h = canonEdges(spark, sfDir)
        .withColumn("h", md5(concat(
          col("src").cast("string"), lit("-"), col("dst").cast("string"))))
        .where(substring(col("h"), 1, 1) === "0")
      def orient(fwd: Boolean) = {
        val cond = substring(col("h"), 2, 1) < "8"
        if (fwd) h.select(
          when(cond, col("src")).otherwise(col("dst")).as("src"),
          when(cond, col("dst")).otherwise(col("src")).as("dst"))
        else h.where(substring(col("h"), 3, 1) === "0").select(
          when(cond, col("dst")).otherwise(col("src")).as("src"),
          when(cond, col("src")).otherwise(col("dst")).as("dst"))
      }
      val df = orient(fwd = true).unionAll(orient(fwd = false))
        .distinct().cache()
      df.count(); df
    }

  private def sccLabels(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"scc:$sfDir") {
      graft.graph.GraphAlgs.sccDetDF(sccFixtureEdges(spark, sfDir))
      // sccDetDF caches and counts its result
    }

  def scc(spark: SparkSession, sfDir: String): DataFrame =
    sccLabels(spark, sfDir).orderBy("vid")

  /** Condensation of the g_scc digraph + longest-path topological
   * levels — the dependency-layering report over the component DAG
   * (which components feed which, and at what depth). Shares the
   * memoized SCC labels; the condensation edge set is one
   * labels-join projection, and the layering is
   * [[graft.graph.GraphAlgs.dagLevelsDF]]'s max-propagation (round
   * count = DAG depth, acyclic by construction of a condensation). */
  def sccCondensation(spark: SparkSession, sfDir: String): DataFrame = {
    val lab = sccLabels(spark, sfDir).select(col("vid"), col("scc"))
    val cedges = sccFixtureEdges(spark, sfDir)
      .join(lab.withColumnRenamed("vid", "src")
        .withColumnRenamed("scc", "scc_src"), "src")
      .join(lab.withColumnRenamed("vid", "dst")
        .withColumnRenamed("scc", "scc_dst"), "dst")
      .where(col("scc_src") =!= col("scc_dst"))
      .select(col("scc_src").as("src"), col("scc_dst").as("dst"))
      .distinct()
    val lvl = graft.graph.GraphAlgs.dagLevelsDF(cedges)
      .withColumnRenamed("vid", "scc")
    val sizes = lab.groupBy("scc").agg(count(lit(1)).as("n_members"))
    // components with no condensation edge (isolated SCCs) sit at level 1
    sizes.join(lvl, Seq("scc"), "left")
      .select(col("scc"), coalesce(col("level"), lit(1L)).as("level"),
        col("n_members"))
      .orderBy("scc")
  }

  /** Per-edge neighborhood Jaccard (link-prediction feature) over
   * the canonical co-purchase edges. */
  def neighborJaccard(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.GraphAlgs.neighborJaccardFromAdj(
      canonEdges(spark, sfDir),
      adjW(spark, sfDir).select(col("vid"), col("nbrs")))
      .orderBy("src", "dst")

  /** Co-purchase "backbone": edges whose endpoints co-occur in >= 2
   * orders. Sparser than the full graph (non-trivial component
   * structure), shared by the component / label-propagation
   * queries. */
  /** Weighted co-purchase edges (w = co-occurrence count, len = 1/w),
   * built ONCE per (session, sfDir): the backbone (w >= 2) for
   * components / label propagation and the SSSP length surface both
   * derive from this single lineitem self-join. */
  private def weightedEdges(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"weightedEdges:$sfDir") {
      val df = EdgeOps.coPurchaseEdgesWeighted(spark, sfDir)
        .withColumn("len", lit(1.0) / col("w")).cache(); df.count(); df
    }

  private def backboneEdges(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"backbone:$sfDir") {
      val df = weightedEdges(spark, sfDir).where(col("w") >= 2)
        .select(col("src"), col("dst")).cache(); df.count(); df
    }

  private def backboneGraph(spark: SparkSession, sfDir: String) =
    memoize(spark, s"backboneGraph:$sfDir") {
      val be = backboneEdges(spark, sfDir)
      val g = EdgeOps.toGraph(be, graphPartsFor(be)); g.cache()
      g.numVertices; g
    }

  /** Backbone edges with integer nano-unit lengths (10^9 div w —
   * floor division, exact on both engines), the MSF input. */
  private[queries] def msfInputEdges(spark: SparkSession, sfDir: String): DataFrame =
    weightedEdges(spark, sfDir).where(col("w") >= 2)
      .select(col("src"), col("dst"),
        expr("CAST(1000000000 div w AS BIGINT)").as("len_nano"))

  /** Minimum spanning forest of the weighted backbone (distributed
   * Borůvka, [[graft.graph.GraphAlgs.boruvkaMsfRDD]]): per
   * component its size, MSF edge count, and minimum edge length.
   * The strict (len, u, v) total order makes the MSF unique, so
   * the output is deterministic across engines and runs. The
   * oracle recomputes the component partition via the recursive
   * reachability fixpoint, predicts n_edges = n_vertices - 1
   * (spanning + acyclic), and checks min_len_nano against the
   * component-wide minimum (the cut property puts each component's
   * global minimum edge in the MSF); full minimality is pinned by
   * MsfSpec's sequential-Kruskal parity. */
  def msf(spark: SparkSession, sfDir: String): DataFrame = {
    val rdd = msfInputEdges(spark, sfDir).rdd
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (msfE, labels, scope) = graft.graph.GraphAlgs.boruvkaMsfRDD(rdd)
    val comp = spark.createDataFrame(labels).toDF("vid", "component").cache()
    val msfDf = spark.createDataFrame(msfE).toDF("src", "dst", "len_nano")
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("n_vertices"))
    val eAgg = msfDf
      .join(comp.withColumnRenamed("vid", "src"), "src")
      .groupBy("component")
      .agg(count(lit(1)).as("n_edges"), min(col("len_nano")).as("min_len_nano"))
    val out = sizes.join(eAgg, "component").orderBy("component").cache()
    out.count()
    comp.unpersist(blocking = false)
    scope.close()
    out
  }

  /** Connected components of the backbone graph, component = min
   * reachable vertex id (GraphX min-label Pregel). Oracle: DuckDB
   * recursive-CTE fixed point over the same edge set. */
  def connectedComponents(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.GraphAlgs.connectedComponentsDF(backboneGraph(spark, sfDir))
      .orderBy("vid")

  /** The same components computed WITHOUT GraphX: alternating
   * large-star / small-star contraction as pure DataFrame rounds
   * (GraphAlgs.connectedComponentsTwoPhase, O(log n) rounds). Shares
   * g_connected_components' oracle — two independent implementations
   * cross-checked against one recursive-CTE fixed point. Memoized
   * per (session, sfDir) so repeated calls don't accumulate cached
   * label partitions; throws if the round budget exhausts before
   * the star-contraction fixpoint (non-converged labels can be
   * silently wrong — never serve them). */
  def connectedComponentsTwoPhase(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"cc2:$sfDir") {
      val r = graft.graph.GraphAlgs.connectedComponentsTwoPhase(backboneEdges(spark, sfDir))
      if (!r.converged) {
        // free the cached (and possibly wrong) labels before failing
        // — otherwise they leak in the block manager with no handle
        r.scope.close()
        throw new IllegalStateException(
          s"two-phase CC: no fixpoint within ${r.rounds} rounds")
      }
      r.labels
    }.orderBy("vid")

  /** Deterministic synchronous label propagation (5 rounds,
   * most-frequent-neighbor-label, ties to smallest) on the backbone
   * graph. Label counts are integers, so the oracle replays the 5
   * rounds exactly as unrolled MATERIALIZED CTEs (argmax via
   * row_number over (count DESC, label ASC)); determinism +
   * tiny-graph semantics additionally pinned by unit tests. */
  def labelPropagation(spark: SparkSession, sfDir: String): DataFrame =
    memoize(spark, s"labelProp:$sfDir") {
      val df = graft.graph.GraphAlgs
        .labelPropagationDF(backboneGraph(spark, sfDir), rounds = 5)
        .orderBy("vid").cache()
      df.count(); df
    }

  /** Label-propagation invariant certificate (completing the
   * certificate program: every rows-only fixpoint has a
   * hash-compared companion): labels drawn from the backbone vertex
   * set, every backbone vertex labeled exactly once, and the
   * propagation found real label groups. Oracle: exact backbone
   * vertex count + booleans TRUE. */
  def labelPropagationCertified(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = labelPropagation(spark, sfDir) // (vid, label)
    val verts = backboneEdges(spark, sfDir)
      .select(col("src")).union(backboneEdges(spark, sfDir).select(col("dst")))
      .distinct().select(col("src").as("vid"))
    val nVertices = verts.count()
    val nLabeled = labels.count()
    val distinctVids = labels.select("vid").distinct().count()
    val strayLabels = labels.select(col("label").as("vid")).distinct()
      .join(verts, Seq("vid"), "left_anti").count()
    val maxGroup = labels.groupBy("label").count()
      .agg(max(col("count"))).head().getLong(0)
    // distinct-label count: the oracle recomputes it from its own
    // 5-round propagation replay — an independent SQL-computed value
    val nLabels = labels.select("label").distinct().count()
    spark.createDataFrame(Seq((
      nVertices, nLabels, nLabeled == nVertices && distinctVids == nVertices,
      strayLabels == 0L, maxGroup >= 2L)))
      .toDF("n_vertices", "n_labels", "coverage_ok", "labels_in_domain_ok",
        "has_group")
  }

  /** Eigenvector-centrality invariant certificate: one score per
   * vertex, max-normalized to exactly 1, every score positive and
   * bounded by 1 — the properties a broken power iteration
   * (oscillation, lost normalization, dropped vertex) violates. */
  def eigenCentralityCertified(spark: SparkSession, sfDir: String): DataFrame = {
    val scores = eigenCentrality(spark, sfDir) // (vid, score) rounded 1e-6
    val nVertices = graph(spark, sfDir).numVertices
    val agg = scores.agg(
      count(lit(1)).as("n"),
      max(col("score")).as("mx"),
      min(col("score")).as("mn"),
      // vertices at the normalization peak (rounded score exactly
      // 1.0) — the oracle recomputes this from its own replay of the
      // power iteration, an independent SQL-computed value
      sum(when(col("score") === 1.0, 1L).otherwise(0L)).as("n_at_max")).head()
    spark.createDataFrame(Seq((
      nVertices, agg.getLong(3), agg.getLong(0) == nVertices,
      agg.getDouble(1) == 1.0, agg.getDouble(2) > 0.0)))
      .toDF("n_vertices", "n_at_max", "coverage_ok", "max_is_one",
        "all_positive")
  }

  /** Weighted single-source shortest paths over the full co-purchase
   * graph with edge length 1/w (strong ties are short) from the
   * smallest vertex id. Value-checked: the oracle unrolls the same
   * Bellman-Ford recurrence in SQL — both engines left-fold path
   * sums, so the converged doubles are bit-identical. Path algebra
   * also pinned by unit tests on a hand-built weighted graph. */
  def ssspWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val weighted = weightedEdges(spark, sfDir)
    val source = weighted.agg(min(col("src"))).head().getLong(0)
    val g = memoize(spark, s"weightedGraph:$sfDir") {
      // same edge-count partition sizing as the unweighted graph
      // surface (see graphParts) — the SSSP fixpoint is min over
      // left-folded path sums, partitioning-invariant by design
      val wg = EdgeOps.toWeightedGraph(weighted,
        numPartitions = graphParts(spark, sfDir)); wg.cache()
      wg.numVertices; wg
    }
    memoize(spark, s"ssspDist:$sfDir") {
      graft.graph.GraphAlgs.ssspWeightedDF(g, source) // cached inside
    }
      .select(col("vid"),
        (floor(col("dist") * 1e6 + 0.5) / 1e6).as("dist"))
      .orderBy("vid")
  }

  /** Global transitivity (clustering coefficient of the whole
   * graph): 3·triangles / wedges, from the SAME memoized triangle
   * statistics the WCC pipeline uses (Σ per-vertex t = 3T) and the
   * degree distribution (wedges = Σ deg·(deg-1)/2). */
  def transitivity(spark: SparkSession, sfDir: String): DataFrame = {
    val sumT = tri(spark, sfDir).fullStats
      .map { case (_, (t, _)) => t.toLong }.sum().toLong
    val deg = EdgeOps.degrees(EdgeOps.symmetrize(canonEdges(spark, sfDir)))
    deg.agg(
      sum((col("degree") * (col("degree") - 1)) / 2).cast("long").as("wedges"))
      .select(lit(sumT).as("sum_t"), col("wedges"),
        (floor(lit(sumT) / col("wedges") * 1e9 + 0.5) / 1e9).as("transitivity"))
  }

  /** Conductance per synthetic community (cut / min(vol, 2m - vol)):
   * the partition-quality metric complementing modularity, one
   * relational pass over the shared edge surfaces. */
  def conductance(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = canonEdges(spark, sfDir)
    val m2 = raw.count().toDouble * 2
    val vol = EdgeOps.symmetrize(raw)
      .groupBy((col("src") % SyntheticModulus).as("cid"))
      .agg(count(lit(1)).as("vol"))
    val cut = raw
      .where(col("src") % SyntheticModulus =!= col("dst") % SyntheticModulus)
      .select(explode(array(col("src") % SyntheticModulus,
        col("dst") % SyntheticModulus)).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("cut"))
    vol.join(cut, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("cut"), lit(0L)).as("cut"), col("vol"),
        (floor(coalesce(col("cut"), lit(0L)) /
          least(col("vol").cast("double"), lit(m2) - col("vol")) * 1e9 + 0.5) / 1e9)
          .as("phi"))
      .orderBy("cid")
  }

  /** Shared oracle CTE defining the identical edge sets in DuckDB. */
  val EdgeCte: String =
    """WITH raw AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), edges AS (
      |  SELECT src, dst FROM raw UNION SELECT dst AS src, src AS dst FROM raw
      |)""".stripMargin

  private val AssignCte: String =
    s""", verts AS (SELECT DISTINCT src AS vid FROM edges),
       |assign AS (SELECT vid, vid % $SyntheticModulus AS cid FROM verts)""".stripMargin

  /** Full co-purchase edge set as MATERIALIZED CTEs (raw + edges) —
   * the iterative float-fixpoint oracles reference `edges` in every
   * unrolled round, and DuckDB 1.0 inlines plain CTEs (the lineitem
   * self-join would otherwise run once per round). */
  /** Shared CTE body of the g_scc / g_scc_condensation oracles (the
   * md5-oriented fixture, a TRUE recursive transitive closure,
   * mutual reachability, min-member labels, sizes). Callers prepend
   * `WITH RECURSIVE`. Sparsified to 1/16 of pairs exactly so the
   * closure stays affordable (~3.8M reach rows at sf0.01). */
  private val SccReplayCtes: String =
    """raw AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |hh AS MATERIALIZED (
      |  SELECT src, dst, md5(src || '-' || dst) AS h FROM raw
      |  WHERE substr(md5(src || '-' || dst), 1, 1) = '0'),
      |dedges AS MATERIALIZED (
      |  SELECT CASE WHEN substr(h, 2, 1) < '8' THEN src ELSE dst END AS src,
      |         CASE WHEN substr(h, 2, 1) < '8' THEN dst ELSE src END AS dst
      |  FROM hh
      |  UNION
      |  SELECT CASE WHEN substr(h, 2, 1) < '8' THEN dst ELSE src END,
      |         CASE WHEN substr(h, 2, 1) < '8' THEN src ELSE dst END
      |  FROM hh WHERE substr(h, 3, 1) = '0'),
      |reach AS (
      |  SELECT src, dst FROM dedges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN dedges e ON e.src = r.dst),
      |verts AS (SELECT src AS vid FROM dedges UNION SELECT dst FROM dedges),
      |mutual AS (
      |  SELECT a.src AS u, a.dst AS v FROM reach a
      |  JOIN reach b ON b.src = a.dst AND b.dst = a.src),
      |lab AS MATERIALIZED (
      |  SELECT v.vid, least(v.vid, coalesce(min(m.v), v.vid)) AS scc
      |  FROM verts v LEFT JOIN mutual m ON m.u = v.vid
      |  GROUP BY v.vid),
      |sz AS MATERIALIZED (SELECT scc, count(*) AS n FROM lab GROUP BY scc)""".stripMargin

  /** Unrolled depth of the g_mis oracle — ~2x the measured sf0.01
   * fixpoint (see the g_mis oracle comment). */
  private val MisUnrollRounds = 16

  /** Unrolled depth of the g_coloring oracle — 2x the measured
   * sf0.01 backbone JP depth of 14 rounds. */
  private val ColorUnrollRounds = 28

  /** Unrolled depth of the g_coloring_mis oracle — 2x the measured
   * sf0.01 backbone fresh-priority depth of 10 rounds. */
  private val ColorMisUnrollRounds = 20

  /** Unrolled depth of the g_coloring_trial oracle — 2x the measured
   * sf0.01 backbone trial-color depth of 4 rounds. */
  private val ColorTrialUnrollRounds = 8

  /** Unrolled depth of the g_matching oracle — 2x the measured
   * sf0.01 edge-Luby depth of 9 rounds. */
  private val MatchUnrollRounds = 18

  private val MatEdgeCte: String =
    """raw AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |edges AS MATERIALIZED (
      |  SELECT src, dst FROM raw UNION SELECT dst AS src, src AS dst FROM raw)""".stripMargin

  /** Float PageRank replayed exactly (shared by `g_pagerank` and the
   * `g_pagerank_certified` mass recompute): the Spark side folds
   * each vertex's contributions in ascending sender-id order
   * (GraphAlgs.pagerankFloatRDD), and list_reduce over
   * list(... ORDER BY e.src) is the same left fold — bit-identical
   * doubles, zero tolerance. Every CTE a round references more than
   * once is MATERIALIZED so DuckDB 1.0's CTE inlining cannot re-run
   * the lineitem self-join per round. Ends at `r10 (vid, rank)`. */
  private lazy val pagerankReplayCtes: String = {
    val rounds = (1 to 10).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT e.dst AS vid,
         |    CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * list_reduce(
         |      list_prepend(CAST(0.0 AS DOUBLE), list(r.rank / e.deg ORDER BY e.src)),
         |      (acc, x) -> acc + x) AS rank
         |  FROM ed e JOIN r${i - 1} r ON r.vid = e.src GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""$MatEdgeCte,
       |deg AS MATERIALIZED (SELECT src AS u, count(*) AS deg FROM edges GROUP BY src),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.u = e.src),
       |r0 AS (SELECT DISTINCT src AS vid, CAST(1.0 AS DOUBLE) AS rank FROM edges),
       |$rounds""".stripMargin
  }

  /** Connected components of the weighted co-purchase backbone as an
   * unrolled hash-to-min fixpoint (min over self + neighbors + the
   * current label's own label = pointer doubling), NOT a recursive
   * (vertex, seed)-pair transitive closure: the pair enumeration is
   * O(Σ component²) — 38 s at sf0.01 in DuckDB 1.0 and quadratic
   * beyond — while hash-to-min is linear work per round and
   * converges in O(log diameter) rounds (measured: fixpoint at 8
   * rounds at sf0.01; 16 unrolled = 2× margin, and the
   * pointer-doubling term covers diameters ~2^16). Every CTE is
   * MATERIALIZED so DuckDB evaluates each round once even though a
   * round references its predecessor three times (DuckDB 1.0
   * inlines non-materialized CTEs — 3 references would cube the
   * plan per round). Ends with `comp(vid, component)`, component =
   * min vertex id, exactly what GraphX min-propagation converges
   * to. `comp` carries the loud unroll-margin guard (same pattern
   * as g_kcore): ZERO rows if round `rounds` still differs from
   * `rounds - 1`, so an exhausted margin on a bigger corpus fails
   * as an unmissable row-count mismatch, never a label-hash one. */
  private def backboneCompCte(rounds: Int = 16): String = {
    val rs = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT v, min(m) AS m FROM (
         |    SELECT v, m FROM l${i - 1}
         |    UNION ALL SELECT e2.dst AS v, l.m
         |      FROM e2 JOIN l${i - 1} l ON l.v = e2.src
         |    UNION ALL SELECT a.v, b.m FROM l${i - 1} a JOIN l${i - 1} b ON b.v = a.m
         |  ) GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""cp AS MATERIALIZED (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |e2 AS MATERIALIZED (SELECT src, dst FROM cp UNION SELECT dst, src FROM cp),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS m FROM e2),
       |$rs,
       |comp AS MATERIALIZED (
       |  SELECT v AS vid, m AS component FROM l$rounds
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM l$rounds a JOIN l${rounds - 1} b
       |    ON a.v = b.v AND a.m <> b.m))""".stripMargin
  }

  /** Exact replay of the clustering-coefficient-seeded initial
   * partition (the flagship's G4 Pregel, `InitialPartition.run`) as
   * unrolled MATERIALIZED CTEs — the pattern that graduated
   * `g_label_propagation`, applied to the seeding fixpoint.
   *
   * Why this is exactly replayable: the loop's state per vertex is
   * just its center flag, and the synchronous recurrence is
   * `center_k(v) = NOT EXISTS higher-ranked neighbor u (by the
   * (cc, vt, vId) total order, reference `VertexData.scala:57-59`)
   * with center_{k-1}(u)`, starting from all-centers; the final
   * label is the highest-ranked fixpoint-center neighbor that
   * outranks self, else self. The message-driven Spark loop equals
   * this recurrence because decisions are pure functions of self +
   * higher-ranked neighbors' flags, and every flag flip of a
   * higher-ranked neighbor is delivered (messages go to strictly
   * lower-ranked neighbors). All decision inputs are integers plus
   * cc = 2.0*t/(vt*(vt-1)) — a single correctly-rounded IEEE
   * division of exact integers, bit-identical across engines, and
   * only COMPARED, never summed.
   *
   * Round count: sf0.01 quiesces at 10 supersteps (= 9 flag
   * generations); 16 unrolled rounds give ~1.8x margin, and extra
   * rounds past the fixpoint are no-ops. Each round's join is
   * frontier-free (full vertex set vs the oriented edge list) —
   * cheap at oracle scale. */
  private def seedReplayCte(rounds: Int = 16): String = {
    val rs = (1 to rounds).map { i =>
      s"""h$i AS (SELECT pe.src AS vid, bool_or(f.flag) AS anyc
         |  FROM pe JOIN f${i - 1} f ON f.vid = pe.dst GROUP BY pe.src),
         |f$i AS MATERIALIZED (SELECT c.vid, NOT coalesce(h.anyc, FALSE) AS flag
         |  FROM core c LEFT JOIN h$i h ON h.vid = c.vid)""".stripMargin
    }.mkString(",\n")
    s"""$MatEdgeCte,
       |sup AS MATERIALIZED (
       |  SELECT r.src, r.dst, count(*) AS c
       |  FROM raw r JOIN edges a ON a.src = r.src
       |             JOIN edges b ON b.src = r.dst AND b.dst = a.dst
       |  GROUP BY r.src, r.dst),
       |supd AS MATERIALIZED (
       |  SELECT src, dst, c FROM sup
       |  UNION ALL SELECT dst AS src, src AS dst, c FROM sup),
       |vstat AS MATERIALIZED (
       |  SELECT src AS vid, CAST(sum(c) // 2 AS BIGINT) AS t, count(*) AS vt,
       |    CASE WHEN count(*) < 2 THEN CAST(0 AS DOUBLE)
       |         ELSE CAST(2 AS DOUBLE) * CAST(sum(c) // 2 AS BIGINT)
       |              / (count(*) * (count(*) - 1)) END AS cc
       |  FROM supd GROUP BY src),
       |core AS MATERIALIZED (SELECT vid FROM vstat WHERE t > 0),
       |pe AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.cc, d.vt, d.vid AS dvid
       |  FROM supd e JOIN vstat s ON s.vid = e.src
       |              JOIN vstat d ON d.vid = e.dst
       |  WHERE d.cc > s.cc OR (d.cc = s.cc AND
       |        (d.vt > s.vt OR (d.vt = s.vt AND d.vid > s.vid)))),
       |f0 AS (SELECT vid, TRUE AS flag FROM core),
       |$rs,
       |best AS MATERIALIZED (SELECT src AS vid, dst AS cid FROM (
       |  SELECT pe.src, pe.dst, row_number() OVER (
       |    PARTITION BY pe.src ORDER BY pe.cc DESC, pe.vt DESC, pe.dvid DESC) AS rn
       |  FROM pe JOIN f$rounds f ON f.vid = pe.dst WHERE f.flag) WHERE rn = 1)""".stripMargin
  }

  /** Independent SQL recomputation of the global WCC VALUE of the
   * emitted flagship partition, mirroring [[graft.wcc.WccCheck]]'s
   * closed-form metric term by term: labels come from the seeding
   * replay's `best` grafted onto the full vertex set (the exact
   * partition `g_wcc_partition` certifies — the refinement loop
   * rejects every movement at the gate scale, and the INITIAL
   * partition's full-universe graft coincides with it by the same
   * Output contract), full-graph t/vt from the replay's own
   * common-neighbor counts (`sup`), intra-community tC/vtC from a
   * second triangle pass over the triangle-pruned same-community
   * edge set, and wcc_v = (tC * vt) / (t * (r - 1 + vt - vtC)) —
   * one correctly-rounded IEEE division of exact integer products
   * per vertex. The global average folds ascending-vid within
   * 65536-id blocks then ascending-block — bit-identical to
   * `WccCheck.globalWccOfPartitionDet`'s blocked fold, so the
   * 1e-9-rounded value hash-matches with zero tolerance. Ends at
   * `wg (g)`, with `wverts`/`wnv` available for the count. */
  private def wccValueReplayCtes: String =
    s"""${seedReplayCte()},
       |wverts AS MATERIALIZED (SELECT DISTINCT src AS vid FROM edges),
       |wlab AS MATERIALIZED (
       |  SELECT v.vid, coalesce(b.cid, v.vid) AS cid
       |  FROM wverts v LEFT JOIN best b ON b.vid = v.vid),
       |wtvt AS MATERIALIZED (
       |  SELECT src AS vid, CAST(sum(c) // 2 AS BIGINT) AS t,
       |    CAST(count(*) FILTER (WHERE c > 0) AS BIGINT) AS vt
       |  FROM supd GROUP BY src),
       |wps AS MATERIALIZED (
       |  SELECT s.src, s.dst FROM sup s
       |  JOIN wlab a ON a.vid = s.src JOIN wlab b ON b.vid = s.dst
       |  WHERE s.c > 0 AND a.cid = b.cid),
       |wpsd AS MATERIALIZED (
       |  SELECT src, dst FROM wps UNION ALL SELECT dst AS src, src AS dst FROM wps),
       |wvtc AS MATERIALIZED (SELECT src AS vid, count(*) AS vtc FROM wpsd GROUP BY src),
       |wcsup AS MATERIALIZED (
       |  SELECT r.src, r.dst, count(*) AS c
       |  FROM wps r JOIN wpsd a ON a.src = r.src
       |             JOIN wpsd b ON b.src = r.dst AND b.dst = a.dst
       |  GROUP BY r.src, r.dst),
       |wtc AS MATERIALIZED (
       |  SELECT vid, CAST(sum(c) // 2 AS BIGINT) AS tc FROM (
       |    SELECT src AS vid, c FROM wcsup
       |    UNION ALL SELECT dst AS vid, c FROM wcsup) GROUP BY vid),
       |wr AS MATERIALIZED (SELECT cid, count(*) AS r FROM wlab GROUP BY cid),
       |wnv AS (SELECT count(*) AS n FROM wlab),
       |wpv AS MATERIALIZED (
       |  SELECT l.vid,
       |    CASE WHEN coalesce(t.t, 0) = 0 THEN CAST(0 AS DOUBLE)
       |         ELSE CAST(coalesce(c.tc, 0) * t.vt AS DOUBLE)
       |              / CAST(t.t * (r.r - 1 + t.vt - coalesce(vc.vtc, 0)) AS DOUBLE)
       |    END AS w
       |  FROM wlab l
       |  LEFT JOIN wtvt t ON t.vid = l.vid
       |  LEFT JOIN wtc c ON c.vid = l.vid
       |  LEFT JOIN wvtc vc ON vc.vid = l.vid
       |  JOIN wr r ON r.cid = l.cid),
       |wg AS (
       |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), list(bsum ORDER BY blk)),
       |           (a, x) -> a + x) / (SELECT n FROM wnv) AS g
       |  FROM (SELECT vid // 65536 AS blk,
       |          list_reduce(list_prepend(CAST(0 AS DOUBLE), list(w ORDER BY vid)),
       |            (a, x) -> a + x) AS bsum
       |        FROM wpv GROUP BY vid // 65536))""".stripMargin

  /** `WCCMetric.computeWccI(CommunityData(r, a, b), dIn, dOut,
   * globalCC, vertexCount)` as a DuckDB scalar expression with the
   * JVM's exact left-associated evaluation order — every
   * parenthesis below mirrors one Scala sub-expression of
   * `WCCMetric.scala`, so the doubles round identically (the only
   * non-arithmetic primitive, pow(x, 3), agreed with `Math.pow` on
   * every decision of the sf0.01 and sf0.001 replays). `r`, `b`,
   * `din`, `dout` are BIGINT expressions, `a` a DOUBLE expression;
   * gcc/nverts are single-row CTEs of the incremental replay. */
  private def wcciSql(r: String, a: String, b: String,
      din: String, dout: String,
      gccCte: String = "gcc", nvCte: String = "nverts"): String = {
    val G = s"(SELECT g FROM $gccCte)"
    val N = s"(SELECT CAST(n AS DOUBLE) FROM $nvCte)"
    val dens = s"((2 * ($a)) / pow(($r), 2))"
    val q = s"((($b) - ($din)) / CAST(($r) AS DOUBLE))"
    val pairs = s"((($r) - 1) * (($r) - 2))"
    val headroom = s"(((($r) - 1) * $dens) + 1) + $q"
    val tnum = s"((($headroom) * (($din) - 1)) * $dens)"
    val tden = s"((((((((($r) + $q) * $pairs) * pow($dens, 3))" +
      s" + ((($din) - 1) * $dens))" +
      s" + ((($q * ($q - 1)) * $dens) * $G))" +
      s" + (($q * ($q - 1)) * $G))" +
      s" + ($dout)) + $G)"
    val touched = s"($tnum / $tden)"
    val cubic = s"(((($r) - 1) * (($r) - 2)) * pow($dens, 3))"
    val unum = s"($cubic * (((($r) - 1) * $dens) + $q))"
    val uden = s"((($cubic + (($q * ($q - 1)) * $G))" +
      s" + ((($q * (($r) - 1)) * $dens) * $G))" +
      s" * (($r) + $q)) * (((($r) - 1)) + $q)"
    val untouched = s"((-$unum) / ($uden))"
    val inp = s"(($din) * (($din) - 1))"
    val cross = s"((($dout) * ($din)) * $G)"
    val snum = s"(($inp * $dens) * (($din) + ($dout)))"
    val sden = s"(((($inp * $dens) + ((($dout) * (($dout) - 1)) * $G))" +
      s" + $cross) + $cross) * ((($r) + ($dout)))"
    val self = s"($snum / ($sden))"
    s"((((($din) * $touched) + (((($r) - ($din)) * $untouched)))" +
      s" + $self) / $N)"
  }

  /** One fixed-refinement movement iteration of the incremental
   * replay (`IncrementalWCC.refinePartition` — movements applied
   * unconditionally, reference `IncrementalWCC.scala:342-382`) as a
   * CTE block: per-(vertex, neighbor-community) degrees, derived
   * community stats, the REMOVE/TRANSFER/STAY decision with the
   * reference's exact guards (REMOVE iff wccR - wccT > 1e-5 and
   * wccR > 0; candidates restricted to r > 1 communities; ties on
   * candidateWccT resolved to the lowest cId, the ascending-scan
   * order of `bestMovementCompact`). JVM NaN comparison semantics
   * (NaN > x is false) are preserved explicitly: DuckDB sorts NaN
   * greatest and a zero denominator yields NULL, so candidates
   * filter `NOT isnan` and the REMOVE guard coalesces to FALSE. */
  private def moveIterCte(k: Int, prev: String, sfx: String = ""): String = {
    val wccrBody = wcciSql("w.r - 1", "w.a - w.din",
      "(w.b + w.din) - w.dout", "w.din", "w.dout",
      gccCte = s"gcc$sfx", nvCte = s"nverts$sfx")
    val candBody = wcciSql("s.r", "s.a", "s.b", "d.n", "w.total - d.n",
      gccCte = s"gcc$sfx", nvCte = s"nverts$sfx")
    // per-batch names carry the batch suffix AFTER the iteration
    // index (deg3_2 = iteration 3 of batch 2); sfx = "" keeps the
    // historical single-batch names
    val (deg, pv, cstat, wr, best, lab, kedged) =
      (s"deg", s"pv", s"cstat", s"wr", s"best", s"lab", s"kedged$sfx")
    s"""$deg$k$sfx AS MATERIALIZED (
       |  SELECT e.src AS vid, l.cid AS c, count(*) AS n
       |  FROM $kedged e JOIN $prev l ON l.vid = e.dst GROUP BY e.src, l.cid),
       |$pv$k$sfx AS MATERIALIZED (
       |  SELECT l.vid, l.cid,
       |    coalesce(t.total, 0) AS total, coalesce(o.n, 0) AS own
       |  FROM $prev l
       |  LEFT JOIN (SELECT vid, CAST(sum(n) AS BIGINT) AS total
       |             FROM $deg$k$sfx GROUP BY vid) t ON t.vid = l.vid
       |  LEFT JOIN $deg$k$sfx o ON o.vid = l.vid AND o.c = l.cid),
       |$cstat$k$sfx AS MATERIALIZED (
       |  SELECT cid, count(*) AS r,
       |    CAST(sum(own) // 2 AS DOUBLE) AS a,
       |    CAST(sum(total - own) AS BIGINT) AS b
       |  FROM $pv$k$sfx GROUP BY cid),
       |$wr$k$sfx AS MATERIALIZED (
       |  SELECT w.vid, w.cid, w.total, w.din, w.dout,
       |    CASE WHEN w.r = 1 THEN CAST(0 AS DOUBLE)
       |         ELSE -($wccrBody) END AS wccr
       |  FROM (SELECT pv.vid, pv.cid, pv.total, pv.own AS din,
       |          pv.total - pv.own AS dout, s.r, s.a, s.b
       |        FROM $pv$k$sfx pv JOIN $cstat$k$sfx s ON s.cid = pv.cid
       |        WHERE pv.total > 0) w),
       |$best$k$sfx AS MATERIALIZED (
       |  SELECT vid, cand_cid, cand FROM (
       |    SELECT vid, cand_cid, cand, row_number() OVER (
       |      PARTITION BY vid ORDER BY cand DESC, cand_cid ASC) AS rn
       |    FROM (
       |      SELECT w.vid, d.c AS cand_cid,
       |        w.wccr + $candBody AS cand
       |      FROM $wr$k$sfx w
       |      JOIN $deg$k$sfx d ON d.vid = w.vid AND d.c <> w.cid
       |      JOIN $cstat$k$sfx s ON s.cid = d.c AND s.r > 1)
       |    WHERE cand > 0 AND NOT isnan(cand)) WHERE rn = 1),
       |$lab$k$sfx AS MATERIALIZED (
       |  SELECT l.vid,
       |    CASE WHEN w.vid IS NULL THEN l.cid
       |         WHEN coalesce(NOT isnan(w.wccr - coalesce(b.cand, 0))
       |                AND w.wccr - coalesce(b.cand, 0) > 0.00001
       |                AND NOT isnan(w.wccr) AND w.wccr > 0, FALSE) THEN l.vid
       |         WHEN b.vid IS NOT NULL THEN b.cand_cid
       |         ELSE l.cid END AS cid
       |  FROM $prev l
       |  LEFT JOIN $wr$k$sfx w ON w.vid = l.vid
       |  LEFT JOIN $best$k$sfx b ON b.vid = l.vid)""".stripMargin
  }

  /** Exact replay of the whole IDWCC micro-batch driver
   * (`IncrementalWCC.testStream` with `microBatchCount = batches` —
   * reference `CSVGraph.scala:47-103` + `IncrementalWCC.scala:27-393`)
   * as one DuckDB CTE chain, validated stage-by-stage against parquet
   * dumps of the distributed pipeline's intermediates (IncrDump, test
   * scope) and, for multi-batch threading, against the sequential
   * 3-batch simulation (ReferenceSimSpec):
   *
   *  1. bulk = edges with both endpoints below floor(maxId * 0.8);
   *     bulk DWCC = true triangle stats + the seeding fixpoint (same
   *     recurrence as [[seedReplayCte]]) grafted onto the bulk vertex
   *     set — the batch refinement REJECTS its first movement
   *     iteration at the gate scale (measured sf0.01: iter-1 WCC
   *     0.0142 vs seeding 0.0193, a 26% margin), so the bulk
   *     partition IS the seeding fixpoint;
   *  2. merge: border/new vertex sets, the reference's quirky delta
   *     triangle-stat update (per-edge newEdge/borderEdge flag logic,
   *     cId reset to self on touched vertices with nonzero delta),
   *     and the deterministic blocked ascending-vid fold for the
   *     merged global clustering coefficient
   *     ([[graft.wcc.IncrementalWCC.detGlobalCC]] — bit-identical,
   *     checked via doubleToLongBits);
   *  3. re-seed: prune by quirky t > 0 and true edge support, then
   *     the seeding fixpoint with quirky (cc, vt, id) ranks — the
   *     fixpoint is unique regardless of the seeded start (a vertex's
   *     converged center flag depends only on its higher-ranked
   *     neighbors'), so the replay iterates from all-centers;
   *     edge-isolated core vertices keep their incoming label (they
   *     never receive a Pregel message);
   *  4. five unrolled movement iterations ([[moveIterCte]]);
   *  5. graft onto the PREVIOUS (bulk) vertex universe with the
   *     reference's conditional reset (`IncrementalWCC.scala:56-67`):
   *     self-labeled / pruned result vertices carry (t=0, vt=0) —
   *     the baselines the NEXT batch's delta update reads (same
   *     quirk applied to the bulk prepare, `DistributedWCC.scala:
   *     68-77` — see `bulkstate`).
   */
  /** `batches` sets the id-range window arithmetic (the reference
   * driver loop's divisor); `applyBatches` (default: all) unrolls and
   * folds only the FIRST `applyBatches` windows — the
   * `g_wcc_incremental_delta` row replays batch 1 of a 400-window
   * split, a genuinely micro batch against the shared 0.8-split bulk
   * state. The `greatest(1, ...)` on the window size mirrors the
   * Spark side's `math.max(1.0, ...)` and is a no-op for the
   * existing 1- and 2-batch oracles (their windows are far wider
   * than 1 id at every test SF). */
  private def incrReplayCte(batches: Int = 1, applyBatches: Int = -1): String = {
    val applied = if (applyBatches > 0) applyBatches else batches
    val bulkSeedRounds = (1 to 16).map { i =>
      s"""bh$i AS (SELECT pe.src AS vid, bool_or(f.flag) AS anyc
         |  FROM bpe pe JOIN bf${i - 1} f ON f.vid = pe.dst GROUP BY pe.src),
         |bf$i AS MATERIALIZED (SELECT c.vid, NOT coalesce(h.anyc, FALSE) AS flag
         |  FROM bcore c LEFT JOIN bh$i h ON h.vid = c.vid)""".stripMargin
    }.mkString(",\n")
    val batchParts = (1 to applied).map(b =>
      idwccBatchCte(b, if (b == 1) "bulkstate" else s"st_${b - 1}", batches))
      .mkString(",\n")
    s"""$MatEdgeCte,
       |mxv AS MATERIALIZED (SELECT max(greatest(src, dst)) AS m FROM raw),
       |spl AS MATERIALIZED (
       |  SELECT floor(m * CAST(0.8 AS DOUBLE)) AS s FROM mxv),
       |bsz AS MATERIALIZED (
       |  SELECT greatest(1, floor((mxv.m - spl.s) / $batches)) AS z FROM mxv, spl),
       |braw AS MATERIALIZED (
       |  SELECT r.src, r.dst FROM raw r, spl WHERE r.src < spl.s AND r.dst < spl.s),
       |bedges AS MATERIALIZED (SELECT src, dst FROM braw UNION SELECT dst, src FROM braw),
       |bverts AS MATERIALIZED (SELECT DISTINCT src AS vid FROM bedges),
       |bsup AS MATERIALIZED (
       |  SELECT r.src, r.dst, count(*) AS c
       |  FROM braw r JOIN bedges a ON a.src = r.src
       |              JOIN bedges b ON b.src = r.dst AND b.dst = a.dst
       |  GROUP BY r.src, r.dst),
       |bsupd AS MATERIALIZED (
       |  SELECT src, dst, c FROM bsup
       |  UNION ALL SELECT dst AS src, src AS dst, c FROM bsup),
       |bstat AS MATERIALIZED (
       |  SELECT src AS vid, CAST(sum(c) // 2 AS BIGINT) AS t, count(*) AS vt,
       |    CASE WHEN count(*) < 2 THEN CAST(0 AS DOUBLE)
       |         ELSE CAST(2 AS DOUBLE) * CAST(sum(c) // 2 AS BIGINT)
       |              / (count(*) * (count(*) - 1)) END AS cc
       |  FROM bsupd GROUP BY src),
       |bcore AS MATERIALIZED (SELECT vid FROM bstat WHERE t > 0),
       |bpe AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.cc, d.vt, d.vid AS dvid
       |  FROM bsupd e JOIN bstat s ON s.vid = e.src
       |               JOIN bstat d ON d.vid = e.dst
       |  WHERE d.cc > s.cc OR (d.cc = s.cc AND
       |        (d.vt > s.vt OR (d.vt = s.vt AND d.vid > s.vid)))),
       |bf0 AS (SELECT vid, TRUE AS flag FROM bcore),
       |$bulkSeedRounds,
       |bbest AS MATERIALIZED (SELECT src AS vid, dst AS cid FROM (
       |  SELECT pe.src, pe.dst, row_number() OVER (
       |    PARTITION BY pe.src ORDER BY pe.cc DESC, pe.vt DESC, pe.dvid DESC) AS rn
       |  FROM bpe pe JOIN bf16 f ON f.vid = pe.dst WHERE f.flag) WHERE rn = 1),
       |bulkstate AS MATERIALIZED (
       |  SELECT v.vid,
       |    CASE WHEN b.cid IS NOT NULL THEN coalesce(s.t, 0) ELSE 0 END AS t,
       |    CASE WHEN b.cid IS NOT NULL THEN coalesce(s.vt, 0) ELSE 0 END AS vt,
       |    coalesce(b.cid, v.vid) AS cid
       |  FROM bverts v
       |  LEFT JOIN bstat s ON s.vid = v.vid
       |  LEFT JOIN bbest b ON b.vid = v.vid),
       |sraw AS MATERIALIZED (
       |  SELECT r.src, r.dst FROM raw r, spl WHERE r.src >= spl.s OR r.dst >= spl.s),
       |$batchParts,
       |result AS (
       |  SELECT vid, cid FROM st_$applied)""".stripMargin
  }

  /** One micro-batch stage of [[incrReplayCte]] (reference
   * `IncrementalWCC.scala:27-71` folded by `CSVGraph.scala:84-98`'s
   * driver loop): `prev` is the carried state (vid, t, vt, cid) over
   * the BULK vertex universe (`bulkstate` for batch 1, `st_{b-1}`
   * after), and the emitted `st_b` is the post-batch state. Batch b's
   * edge window is the reference's id-range rule: stream edges with
   * (src >= lower OR dst >= lower) AND both < higher, where lower =
   * split + (b-1)*batchSize and the last batch's higher is maxId + 1.
   * The merged graph is braw + THIS batch only — the reference grafts
   * each result onto the previous graph's vertex/EDGE set, so earlier
   * batches' edges never persist into the state. The carried (t, vt)
   * honor the reference's conditional-reset graft-back
   * (`IncrementalWCC.scala:58-67` over a zero-reset dataGraph):
   * self-labeled or pruned result vertices carry (0, 0, vid). */
  private def idwccBatchCte(b: Int, prev: String, batches: Int): String = {
    val x = s"_$b"
    val lo = s"((SELECT s FROM spl) + ${b - 1} * (SELECT z FROM bsz))"
    val hi = if (b == batches) "((SELECT m FROM mxv) + 1)"
      else s"((SELECT s FROM spl) + $b * (SELECT z FROM bsz))"
    val seedRounds = (1 to 20).map { i =>
      s"""mh$i$x AS (SELECT pe.src AS vid, bool_or(f.flag) AS anyc
         |  FROM mpe$x pe JOIN mf${i - 1}$x f ON f.vid = pe.dst GROUP BY pe.src),
         |mf$i$x AS MATERIALIZED (SELECT c.vid, NOT coalesce(h.anyc, FALSE) AS flag
         |  FROM mcore$x c LEFT JOIN mh$i$x h ON h.vid = c.vid)""".stripMargin
    }.mkString(",\n")
    val iters = (1 to 5).map(k =>
      moveIterCte(k, if (k == 1) s"seed$x" else s"lab${k - 1}$x", x)).mkString(",\n")
    s"""sraw$x AS MATERIALIZED (
       |  SELECT r.src, r.dst FROM sraw r
       |  WHERE (r.src >= $lo OR r.dst >= $lo) AND r.src < $hi AND r.dst < $hi),
       |rawm$x AS MATERIALIZED (
       |  SELECT src, dst FROM braw UNION ALL SELECT src, dst FROM sraw$x),
       |edgesm$x AS MATERIALIZED (
       |  SELECT src, dst FROM rawm$x UNION SELECT dst, src FROM rawm$x),
       |batchv$x AS MATERIALIZED (
       |  SELECT DISTINCT v AS vid FROM (
       |    SELECT src AS v FROM sraw$x UNION ALL SELECT dst FROM sraw$x)),
       |borderv$x AS MATERIALIZED (SELECT b.vid FROM batchv$x b JOIN bverts v ON v.vid = b.vid),
       |newv$x AS MATERIALIZED (SELECT b.vid FROM batchv$x b ANTI JOIN bverts v ON v.vid = b.vid),
       |allverts$x AS MATERIALIZED (SELECT DISTINCT src AS vid FROM edgesm$x),
       |fsup$x AS MATERIALIZED (
       |  SELECT r.src, r.dst, count(*) AS c,
       |    CAST(count(*) FILTER (WHERE n.vid IS NOT NULL) AS BIGINT) AS cnew
       |  FROM rawm$x r JOIN edgesm$x a ON a.src = r.src
       |             JOIN edgesm$x b ON b.src = r.dst AND b.dst = a.dst
       |             LEFT JOIN newv$x n ON n.vid = a.dst
       |  GROUP BY r.src, r.dst),
       |qedge$x AS MATERIALIZED (
       |  SELECT r.src, r.dst,
       |    CASE WHEN ne THEN coalesce(f.c, 0) ELSE coalesce(f.cnew, 0) END AS c,
       |    CASE WHEN ne THEN (CASE WHEN coalesce(f.c, 0) > 0 THEN 1 ELSE 0 END)
       |         ELSE (CASE WHEN coalesce(f.cnew, 0) > 0
       |                     AND coalesce(f.cnew, 0) = coalesce(f.c, 0) THEN 1 ELSE 0 END)
       |    END AS ind
       |  FROM (
       |    SELECT r.src, r.dst,
       |      (ns.vid IS NOT NULL OR nd.vid IS NOT NULL) AS ne,
       |      (bs.vid IS NOT NULL AND bd.vid IS NOT NULL) AS be
       |    FROM rawm$x r
       |    LEFT JOIN newv$x ns ON ns.vid = r.src
       |    LEFT JOIN newv$x nd ON nd.vid = r.dst
       |    LEFT JOIN borderv$x bs ON bs.vid = r.src
       |    LEFT JOIN borderv$x bd ON bd.vid = r.dst) r
       |  LEFT JOIN fsup$x f ON f.src = r.src AND f.dst = r.dst
       |  WHERE r.ne OR r.be),
       |delta$x AS MATERIALIZED (
       |  SELECT vid, CAST(sum(c) AS BIGINT) AS sc, CAST(sum(ind) AS BIGINT) AS si FROM (
       |    SELECT src AS vid, c, ind FROM qedge$x
       |    UNION ALL SELECT dst AS vid, c, ind FROM qedge$x)
       |  GROUP BY vid),
       |mstat$x AS MATERIALIZED (
       |  SELECT av.vid,
       |    CASE WHEN d.vid IS NOT NULL AND (d.sc <> 0 OR d.si <> 0) THEN
       |           CASE WHEN bv.vid IS NOT NULL THEN coalesce(bs.t, 0) + d.sc // 2
       |                ELSE d.sc // 2 END
       |         ELSE coalesce(bs.t, 0) END AS t,
       |    CASE WHEN d.vid IS NOT NULL AND (d.sc <> 0 OR d.si <> 0) THEN
       |           CASE WHEN bv.vid IS NOT NULL THEN coalesce(bs.vt, 0) + d.si
       |                ELSE d.si END
       |         ELSE coalesce(bs.vt, 0) END AS vt,
       |    CASE WHEN d.vid IS NOT NULL AND (d.sc <> 0 OR d.si <> 0) THEN av.vid
       |         ELSE coalesce(bs.cid, av.vid) END AS cid
       |  FROM allverts$x av
       |  LEFT JOIN $prev bs ON bs.vid = av.vid
       |  LEFT JOIN bverts bv ON bv.vid = av.vid
       |  LEFT JOIN delta$x d ON d.vid = av.vid),
       |mcc$x AS MATERIALIZED (
       |  SELECT vid, t, vt, cid,
       |    CASE WHEN vt < 2 THEN CAST(0 AS DOUBLE)
       |         ELSE CAST(2 AS DOUBLE) * t / (vt * (vt - 1)) END AS cc
       |  FROM mstat$x),
       |nverts$x AS (SELECT count(*) AS n FROM mcc$x),
       |gcc$x AS MATERIALIZED (
       |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), list(bsum ORDER BY blk)),
       |           (a, x) -> a + x) / (SELECT n FROM nverts$x) AS g
       |  FROM (SELECT vid // 65536 AS blk,
       |          list_reduce(list_prepend(CAST(0 AS DOUBLE), list(cc ORDER BY vid)),
       |            (a, x) -> a + x) AS bsum
       |        FROM mcc$x GROUP BY vid // 65536)),
       |mcore$x AS MATERIALIZED (SELECT vid FROM mcc$x WHERE t > 0),
       |kedge$x AS MATERIALIZED (
       |  SELECT f.src, f.dst FROM fsup$x f
       |  JOIN mcore$x cs ON cs.vid = f.src
       |  JOIN mcore$x cd ON cd.vid = f.dst
       |  WHERE f.c > 0),
       |kedged$x AS MATERIALIZED (
       |  SELECT src, dst FROM kedge$x UNION ALL SELECT dst, src FROM kedge$x),
       |mpe$x AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.cc, d.vt, d.vid AS dvid
       |  FROM kedged$x e JOIN mcc$x s ON s.vid = e.src
       |                JOIN mcc$x d ON d.vid = e.dst
       |  WHERE d.cc > s.cc OR (d.cc = s.cc AND
       |        (d.vt > s.vt OR (d.vt = s.vt AND d.vid > s.vid)))),
       |mf0$x AS (SELECT vid, TRUE AS flag FROM mcore$x),
       |$seedRounds,
       |mbest$x AS MATERIALIZED (SELECT src AS vid, dst AS cid FROM (
       |  SELECT pe.src, pe.dst, row_number() OVER (
       |    PARTITION BY pe.src ORDER BY pe.cc DESC, pe.vt DESC, pe.dvid DESC) AS rn
       |  FROM mpe$x pe JOIN mf20$x f ON f.vid = pe.dst WHERE f.flag) WHERE rn = 1),
       |mdeg$x AS MATERIALIZED (SELECT DISTINCT src AS vid FROM kedged$x),
       |seed$x AS MATERIALIZED (
       |  SELECT c.vid,
       |    CASE WHEN b.cid IS NOT NULL THEN b.cid
       |         WHEN d.vid IS NOT NULL THEN c.vid
       |         ELSE m.cid END AS cid
       |  FROM mcore$x c
       |  LEFT JOIN mbest$x b ON b.vid = c.vid
       |  LEFT JOIN mdeg$x d ON d.vid = c.vid
       |  JOIN mcc$x m ON m.vid = c.vid),
       |$iters,
       |st$x AS MATERIALIZED (
       |  SELECT s.vid,
       |    CASE WHEN l.cid IS NOT NULL AND l.cid <> s.vid
       |         THEN coalesce(m.t, 0) ELSE 0 END AS t,
       |    CASE WHEN l.cid IS NOT NULL AND l.cid <> s.vid
       |         THEN coalesce(m.vt, 0) ELSE 0 END AS vt,
       |    coalesce(l.cid, s.vid) AS cid
       |  FROM $prev s
       |  LEFT JOIN lab5$x l ON l.vid = s.vid
       |  LEFT JOIN mstat$x m ON m.vid = s.vid)""".stripMargin
  }

  /** 8-round Bellman-Ford replay over the weighted (len = 1/w)
   * symmetric co-purchase graph from the smallest vertex id, ending
   * in `d8(vid, dist)` (with `we(src, dst, len)` for the edge
   * domain) — shared by the primary `g_sssp_weighted` value oracle
   * and the certificate's SQL-computed Bellman predicates. Min over
   * left-folded path sums is order-free, so the converged doubles
   * are bit-identical to the Spark fold. */
  private lazy val ssspReplayCtes: String = {
    val rounds = (1 to 8).map { i =>
      s"""d$i AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (
         |  SELECT vid, dist FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS vid, d.dist + e.len AS dist
         |  FROM d${i - 1} d JOIN we e ON e.src = d.vid) GROUP BY vid)""".stripMargin
    }.mkString(",\n")
    s"""wraw AS MATERIALIZED (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |), we AS MATERIALIZED (
       |  SELECT src, dst, CAST(1.0 AS DOUBLE) / w AS len FROM wraw
       |  UNION ALL
       |  SELECT dst AS src, src AS dst, CAST(1.0 AS DOUBLE) / w AS len FROM wraw
       |), d0 AS (
       |  SELECT min(src) AS vid, CAST(0.0 AS DOUBLE) AS dist FROM we
       |),
       |$rounds""".stripMargin
  }

  /** 5-round synchronous label-propagation replay over the backbone,
   * ending in `l5(vid, label)` (and `e2` for the vertex domain) —
   * shared by the primary oracle and the certificate's independent
   * distinct-label recount. */
  private def labelPropReplayCte: String = {
    val rounds = (1 to 5).map { i =>
      s"""c$i AS (SELECT e.dst AS v, l.label AS lab, count(*) AS c
         |  FROM e2 e JOIN l${i - 1} l ON l.vid = e.src GROUP BY e.dst, l.label),
         |l$i AS MATERIALIZED (SELECT v AS vid, lab AS label FROM (
         |  SELECT v, lab,
         |    row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn
         |  FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""cp AS MATERIALIZED (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |e2 AS MATERIALIZED (SELECT src, dst FROM cp UNION SELECT dst, src FROM cp),
       |l0 AS (SELECT DISTINCT src AS vid, src AS label FROM e2),
       |$rounds""".stripMargin
  }

  /** 20-round (A+I)x / max power-iteration replay ending in
   * `x20(vid, score)` — shared by the primary eigenvector oracle and
   * the certificate's independent peak-count recount. */
  private def eigenReplayCte: String = {
    val rounds = (1 to 20).map { i =>
      val p = i - 1
      s"""s$i AS (SELECT e.dst AS v, list_reduce(
         |    list_prepend(CAST(0.0 AS DOUBLE), list(x.score ORDER BY e.src)),
         |    (acc, y) -> acc + y) AS nsum
         |  FROM edges e JOIN x$p x ON x.vid = e.src GROUP BY e.dst),
         |x$i AS MATERIALIZED (
         |  SELECT r.vid, r.raw / (max(r.raw) OVER ()) AS score FROM (
         |    SELECT o.vid, o.score + s.nsum AS raw
         |    FROM x$p o JOIN s$i s ON s.v = o.vid) r)""".stripMargin
    }.mkString(",\n")
    s"""$MatEdgeCte,
       |x0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS vid, CAST(1.0 AS DOUBLE) AS score FROM edges),
       |$rounds""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // G4 seeding fixpoint replayed exactly (see seedReplayCte):
    // labels for the triangle-core vertex set only (the pruned
    // graph's vertices, reference `DistributedWCC.scala:109-112`)
    "g_wcc_initial_partition" ->
      s"""WITH ${seedReplayCte()}
         |SELECT c.vid, coalesce(b.cid, c.vid) AS cid
         |FROM core c LEFT JOIN best b ON b.vid = c.vid""".stripMargin,
    // The flagship's refinement accepts ZERO movement iterations at
    // the gate's sf0.01 (measured: iter-1 WCC 0.01358 vs seeding
    // 0.01691 — a 20% rejection margin, far beyond any float-order
    // jitter), so the final partition IS the seeding fixpoint
    // grafted back onto the full vertex set with pruned vertices as
    // their own singletons (`DistributedWCC.run` graft-back,
    // reference `:64-77`). The oracle replays exactly that; a
    // refinement regression that starts accepting movements (or a
    // seeding change) flips labels and fails this hash.
    "g_wcc_partition" ->
      s"""WITH ${seedReplayCte()},
         |verts AS (SELECT DISTINCT src AS vid FROM edges)
         |SELECT v.vid, coalesce(b.cid, v.vid) AS cid
         |FROM verts v LEFT JOIN best b ON b.vid = v.vid""".stripMargin,
    // G8+G9: the whole incremental micro-batch driver replayed
    // exactly (see incrReplayCte) — bulk seeding fixpoint with the
    // conditional-reset graft, quirky delta-stat merge, re-seed with
    // quirky ranks, five unrolled movement iterations with the JVM's
    // exact float arithmetic, graft onto the bulk universe
    "g_wcc_incremental" ->
      s"""WITH ${incrReplayCte()}
         |SELECT vid, cid FROM result""".stripMargin,
    // G9 with microBatchCount = 2: the SAME driver loop unrolled
    // twice — batch 2's delta update reads the zero-reset (t, vt)
    // baselines batch 1's graft-back wrote, merges onto the BULK
    // edge set (batch 1's edges never persist), and re-classifies
    // border/new against the unchanged bulk universe. The one
    // reference semantic a single batch cannot observe.
    "g_wcc_incremental_multibatch" ->
      s"""WITH ${incrReplayCte(batches = 2)}
         |SELECT vid, cid FROM result""".stripMargin,
    // the delta-flag (incremental triangle flagging) path, forced on
    // a genuinely micro batch: the oracle replays batch 1 of a
    // 400-window split — window arithmetic identical, and the replay
    // is flagging-path-agnostic because the delta flag set equals the
    // from-scratch support flags (IncrementalWCCSpec parity pin)
    "g_wcc_incremental_delta" ->
      s"""WITH ${incrReplayCte(batches = 400, applyBatches = 1)}
         |SELECT vid, cid FROM result""".stripMargin,
    // min-label fixed point over the weighted backbone (w >= 2):
    // UNION-dedup recursion bounds the working set at (vertex,
    // seen-label) pairs, then min per vertex = the component label
    // GraphX's min-propagation converges to
    // full per-vertex coreness recomputed in SQL: unrolled
    // synchronous H-index recurrence from the degree (h-index of
    // descending-sorted neighbor estimates = max(least(value, rn))
    // per vertex per round). The distributed loop quiesces in 19
    // rounds at sf0.01 ([graft-kcore] log); 40 unrolled rounds give
    // >2x margin, and rounds past the fixpoint are no-ops. Both
    // engines converge to the unique fixpoint (the true coreness),
    // in pure integers — zero tolerance.
    //
    // SCALE DEPENDENCY + loud guard (ADVICE r10): the round count the
    // recurrence needs grows with the graph's degeneracy-peeling
    // depth, so a much larger correctness corpus could need more than
    // 40 rounds. Rather than fail as a confusing value-hash mismatch,
    // the final SELECT asserts the fixpoint was REACHED (kh40 = kh39
    // everywhere) and emits ZERO rows otherwise — a 0-row oracle
    // against a full Spark result is an unmissable row-count
    // mismatch whose only cause is this unroll margin. Bumping the
    // corpus ⇒ check the [graft-kcore] quiesce log and bump 40.
    "g_kcore" -> {
      val rounds = (1 to 40).map { i =>
        s"""kh$i AS MATERIALIZED (
           |  SELECT vid, max(least(hh, rn)) AS h FROM (
           |    SELECT e.src AS vid, p.h AS hh, row_number() OVER (
           |      PARTITION BY e.src ORDER BY p.h DESC) AS rn
           |    FROM edges e JOIN kh${i - 1} p ON p.vid = e.dst)
           |  GROUP BY vid)""".stripMargin
      }.mkString(",\n")
      s"""WITH $MatEdgeCte,
         |kh0 AS MATERIALIZED (SELECT src AS vid, count(*) AS h FROM edges GROUP BY src),
         |$rounds
         |SELECT vid, CAST(h AS BIGINT) AS core FROM kh40
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM kh40 a JOIN kh39 b ON a.vid = b.vid AND a.h <> b.h)""".stripMargin
    },
    // Deterministic Luby MIS: the identical unrolled rounds — an
    // undecided vertex enters m_i iff no undecided neighbor precedes
    // it in (md5, vid) order; a_i removes the round's members and
    // their neighbors. The final projection carries the loud
    // unroll-margin guard (zero rows while anything is undecided).
    // The distributed loop quiesces in ~7 rounds at sf0.01 (the
    // misDetDF round counter); MisUnrollRounds unrolled gives >2x
    // margin, and rounds past the fixpoint are empty no-ops.
    "g_mis" -> {
      val rounds = (1 to MisUnrollRounds).map { i =>
        s"""m$i AS MATERIALIZED (
           |  SELECT a.vid, a.pr FROM a${i - 1} a
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM edges e JOIN a${i - 1} b ON b.vid = e.dst
           |    WHERE e.src = a.vid
           |      AND (b.pr < a.pr OR (b.pr = a.pr AND b.vid < a.vid)))),
           |a$i AS MATERIALIZED (
           |  SELECT a.vid, a.pr FROM a${i - 1} a
           |  WHERE NOT EXISTS (SELECT 1 FROM m$i m WHERE m.vid = a.vid)
           |    AND NOT EXISTS (
           |      SELECT 1 FROM edges e JOIN m$i m ON m.vid = e.src
           |      WHERE e.dst = a.vid))""".stripMargin
      }.mkString(",\n")
      val union = (1 to MisUnrollRounds)
        .map(i => s"SELECT vid, CAST($i AS BIGINT) AS mis_round FROM m$i")
        .mkString("\n  UNION ALL ")
      s"""WITH $MatEdgeCte,
         |a0 AS MATERIALIZED (
         |  SELECT vid, md5(CAST(vid AS VARCHAR)) AS pr FROM (
         |    SELECT DISTINCT src AS vid FROM edges)),
         |$rounds,
         |mis AS ($union)
         |SELECT vid, mis_round FROM mis
         |WHERE NOT EXISTS (SELECT 1 FROM a$MisUnrollRounds)""".stripMargin
    },
    // Deterministic Jones–Plassmann coloring on the backbone: per
    // round, m_i = uncolored vertices preceding every uncolored
    // neighbor in (md5, vid) order (an independent set), u_i = their
    // neighbors' already-committed colors, col_i = the mex — the
    // smallest candidate in {1} ∪ {used+1} not itself used — and the
    // colored/uncolored sets roll forward. The final projection
    // carries the loud unroll-margin guard (zero rows while anything
    // is uncolored). Measured depth 14 at sf0.01; 28 unrolled gives
    // 2x margin, rounds past the fixpoint are empty no-ops.
    "g_coloring" -> {
      val rounds = (1 to ColorUnrollRounds).map { i =>
        s"""m$i AS MATERIALIZED (
           |  SELECT a.vid, a.pr FROM a${i - 1} a
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM e2 e JOIN a${i - 1} b ON b.vid = e.dst
           |    WHERE e.src = a.vid
           |      AND (b.pr < a.pr OR (b.pr = a.pr AND b.vid < a.vid)))),
           |u$i AS MATERIALIZED (
           |  SELECT m.vid, c.color FROM m$i m
           |  JOIN e2 e ON e.src = m.vid
           |  JOIN c${i - 1} c ON c.vid = e.dst),
           |col$i AS MATERIALIZED (
           |  SELECT x.vid, min(x.cand) AS color,
           |         CAST($i AS BIGINT) AS jp_round FROM (
           |    SELECT m.vid, CAST(1 AS BIGINT) AS cand FROM m$i m
           |    UNION ALL
           |    SELECT u.vid, u.color + 1 FROM u$i u) x
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM u$i u2 WHERE u2.vid = x.vid AND u2.color = x.cand)
           |  GROUP BY x.vid),
           |c$i AS MATERIALIZED (
           |  SELECT vid, color FROM c${i - 1}
           |  UNION ALL SELECT vid, color FROM col$i),
           |a$i AS MATERIALIZED (
           |  SELECT a.vid, a.pr FROM a${i - 1} a
           |  WHERE NOT EXISTS (SELECT 1 FROM m$i m WHERE m.vid = a.vid))""".stripMargin
      }.mkString(",\n")
      val union = (1 to ColorUnrollRounds)
        .map(i => s"SELECT vid, color, jp_round FROM col$i")
        .mkString("\n  UNION ALL ")
      s"""WITH cp AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e2 AS MATERIALIZED (SELECT src, dst FROM cp UNION SELECT dst, src FROM cp),
         |a0 AS MATERIALIZED (
         |  SELECT vid, md5(CAST(vid AS VARCHAR)) AS pr FROM (
         |    SELECT DISTINCT src AS vid FROM e2)),
         |c0 AS MATERIALIZED (
         |  SELECT CAST(NULL AS BIGINT) AS vid, CAST(NULL AS BIGINT) AS color
         |  WHERE 1 = 0),
         |$rounds,
         |cols AS ($union)
         |SELECT vid, color, jp_round FROM cols
         |WHERE NOT EXISTS (SELECT 1 FROM a$ColorUnrollRounds)""".stripMargin
    },
    // MIS-driven coloring: the identical unrolled greedy-mex rounds,
    // but the priority is REFRESHED per round with the round salt
    // inlined — md5(vid || '-i') — exactly the Spark loop's
    // per-round re-draw. Measured depth 10 at sf0.01; 20 unrolled
    // gives 2x margin, rounds past the fixpoint are empty no-ops.
    "g_coloring_mis" -> {
      def pr(tbl: String, i: Int): String =
        s"md5(CAST($tbl.vid AS VARCHAR) || '-$i')"
      val rounds = (1 to ColorMisUnrollRounds).map { i =>
        s"""m$i AS MATERIALIZED (
           |  SELECT a.vid, ${pr("a", i)} AS pr FROM a${i - 1} a
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM e2 e JOIN a${i - 1} b ON b.vid = e.dst
           |    WHERE e.src = a.vid
           |      AND (${pr("b", i)} < ${pr("a", i)}
           |        OR (${pr("b", i)} = ${pr("a", i)} AND b.vid < a.vid)))),
           |u$i AS MATERIALIZED (
           |  SELECT m.vid, c.color FROM m$i m
           |  JOIN e2 e ON e.src = m.vid
           |  JOIN c${i - 1} c ON c.vid = e.dst),
           |col$i AS MATERIALIZED (
           |  SELECT x.vid, min(x.cand) AS color,
           |         CAST($i AS BIGINT) AS mis_round FROM (
           |    SELECT m.vid, CAST(1 AS BIGINT) AS cand FROM m$i m
           |    UNION ALL
           |    SELECT u.vid, u.color + 1 FROM u$i u) x
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM u$i u2 WHERE u2.vid = x.vid AND u2.color = x.cand)
           |  GROUP BY x.vid),
           |c$i AS MATERIALIZED (
           |  SELECT vid, color FROM c${i - 1}
           |  UNION ALL SELECT vid, color FROM col$i),
           |a$i AS MATERIALIZED (
           |  SELECT a.vid FROM a${i - 1} a
           |  WHERE NOT EXISTS (SELECT 1 FROM m$i m WHERE m.vid = a.vid))""".stripMargin
      }.mkString(",\n")
      val union = (1 to ColorMisUnrollRounds)
        .map(i => s"SELECT vid, color, mis_round FROM col$i")
        .mkString("\n  UNION ALL ")
      s"""WITH cp AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e2 AS MATERIALIZED (SELECT src, dst FROM cp UNION SELECT dst, src FROM cp),
         |a0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS vid FROM e2),
         |c0 AS MATERIALIZED (
         |  SELECT CAST(NULL AS BIGINT) AS vid, CAST(NULL AS BIGINT) AS color
         |  WHERE 1 = 0),
         |$rounds,
         |cols AS ($union)
         |SELECT vid, color, mis_round FROM cols
         |WHERE NOT EXISTS (SELECT 1 FROM a$ColorMisUnrollRounds)""".stripMargin
    },
    // Trial-color coloring: unrolled rounds where each uncolored
    // vertex proposes the k-th smallest color of
    // [1..deg+1] \ {committed neighbor colors} with
    // k = (vid*1000003 + i*10007) % |palette| (windowed
    // generate_series pick), and commits unless an uncolored
    // neighbor proposed the SAME color with a smaller
    // (md5(vid || '-i'), vid) tie-break — identical arithmetic to
    // the Spark loop. Measured depth 4 at sf0.01; 8 unrolled = 2x.
    "g_coloring_trial" -> {
      val rounds = (1 to ColorTrialUnrollRounds).map { i =>
        s"""pal$i AS MATERIALIZED (
           |  SELECT vid, deg, c,
           |    row_number() OVER (PARTITION BY vid ORDER BY c) - 1 AS k,
           |    count(*) OVER (PARTITION BY vid) AS m
           |  FROM (
           |    SELECT a.vid, a.deg, g.c
           |    FROM a${i - 1} a, unnest(generate_series(1, a.deg + 1)) g(c)
           |    WHERE NOT EXISTS (
           |      SELECT 1 FROM e2 e JOIN c${i - 1} cc
           |        ON cc.vid = e.dst AND cc.color = g.c
           |      WHERE e.src = a.vid))),
           |cand$i AS MATERIALIZED (
           |  SELECT vid, deg, c AS cand,
           |    md5(CAST(vid AS VARCHAR) || '-$i') AS pr
           |  FROM pal$i WHERE k = (vid * 1000003 + $i * 10007) % m),
           |col$i AS MATERIALIZED (
           |  SELECT x.vid, x.cand AS color, CAST($i AS BIGINT) AS trial_round
           |  FROM cand$i x
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM e2 e JOIN cand$i b ON b.vid = e.dst
           |    WHERE e.src = x.vid AND b.cand = x.cand
           |      AND (b.pr < x.pr OR (b.pr = x.pr AND b.vid < x.vid)))),
           |c$i AS MATERIALIZED (
           |  SELECT vid, color FROM c${i - 1}
           |  UNION ALL SELECT vid, color FROM col$i),
           |a$i AS MATERIALIZED (
           |  SELECT a.vid, a.deg FROM a${i - 1} a
           |  WHERE NOT EXISTS (SELECT 1 FROM col$i m WHERE m.vid = a.vid))""".stripMargin
      }.mkString(",\n")
      val union = (1 to ColorTrialUnrollRounds)
        .map(i => s"SELECT vid, color, trial_round FROM col$i")
        .mkString("\n  UNION ALL ")
      s"""WITH cp AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e2 AS MATERIALIZED (SELECT src, dst FROM cp UNION SELECT dst, src FROM cp),
         |a0 AS MATERIALIZED (
         |  SELECT src AS vid, count(*) AS deg FROM e2 GROUP BY src),
         |c0 AS MATERIALIZED (
         |  SELECT CAST(NULL AS BIGINT) AS vid, CAST(NULL AS BIGINT) AS color
         |  WHERE 1 = 0),
         |$rounds,
         |cols AS ($union)
         |SELECT vid, color, trial_round FROM cols
         |WHERE NOT EXISTS (SELECT 1 FROM a$ColorTrialUnrollRounds)""".stripMargin
    },
    // Deterministic greedy maximal matching: the identical unrolled
    // rounds — per round, minv_i is each vertex's minimum undecided
    // edge key (md5("src-dst") + zero-padded endpoints, globally
    // distinct), m_i the edges achieving it at BOTH endpoints, and
    // a_i drops everything incident to a matched vertex. The final
    // projection carries the loud unroll-margin guard. Measured
    // depth 9 at sf0.01; 18 unrolled gives 2x margin.
    "g_matching" -> {
      val rounds = (1 to MatchUnrollRounds).map { i =>
        s"""minv$i AS MATERIALIZED (
           |  SELECT v, min(k) AS mk FROM (
           |    SELECT src AS v, k FROM a${i - 1}
           |    UNION ALL SELECT dst AS v, k FROM a${i - 1}) GROUP BY v),
           |m$i AS MATERIALIZED (
           |  SELECT a.src, a.dst FROM a${i - 1} a
           |  JOIN minv$i x ON x.v = a.src AND x.mk = a.k
           |  JOIN minv$i y ON y.v = a.dst AND y.mk = a.k),
           |a$i AS MATERIALIZED (
           |  SELECT a.src, a.dst, a.k FROM a${i - 1} a
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM m$i m
           |    WHERE m.src IN (a.src, a.dst) OR m.dst IN (a.src, a.dst)))""".stripMargin
      }.mkString(",\n")
      val union = (1 to MatchUnrollRounds)
        .map(i => s"SELECT src, dst, CAST($i AS BIGINT) AS match_round FROM m$i")
        .mkString("\n  UNION ALL ")
      s"""WITH raw AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |a0 AS MATERIALIZED (
         |  SELECT src, dst,
         |    md5(CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR))
         |      || lpad(CAST(src AS VARCHAR), 12, '0')
         |      || lpad(CAST(dst AS VARCHAR), 12, '0') AS k
         |  FROM raw),
         |$rounds,
         |matched AS ($union)
         |SELECT src, dst, match_round FROM matched
         |WHERE NOT EXISTS (SELECT 1 FROM a$MatchUnrollRounds)""".stripMargin
    },
    // Strongly connected components: the oracle takes the SEMANTIC
    // route the algorithm never does — a true recursive-CTE
    // transitive closure over the md5-oriented fixture (sparsified
    // to 1/16 of pairs exactly so this closure stays affordable,
    // ~3.8M reach rows at sf0.01), mutual reachability, label = min
    // mutual-reachable vid. Independent of the Spark side's peel
    // schedule, so a wrong peel merges/splits a component and flips
    // the hash.
    "g_scc" ->
      s"""WITH RECURSIVE $SccReplayCtes
         |SELECT lab.vid, lab.scc, CAST(sz.n AS BIGINT) AS scc_size
         |FROM lab JOIN sz USING (scc)""".stripMargin,
    // condensation + longest-path levels off the same closure
    // replay: component edges are a labels-join projection, levels a
    // recursive walk from the DAG's sources (max path length + 1 —
    // finite because a condensation is acyclic; the walk's UNION
    // dedups (node, depth) pairs). Isolated components sit at 1.
    "g_scc_condensation" ->
      s"""WITH RECURSIVE $SccReplayCtes,
         |cedges AS MATERIALIZED (
         |  SELECT DISTINCT la.scc AS src, lb.scc AS dst FROM dedges e
         |  JOIN lab la ON la.vid = e.src
         |  JOIN lab lb ON lb.vid = e.dst
         |  WHERE la.scc <> lb.scc),
         |roots AS (SELECT scc AS c FROM sz
         |  WHERE scc IN (SELECT src FROM cedges UNION SELECT dst FROM cedges)
         |    AND scc NOT IN (SELECT dst FROM cedges)),
         |walk AS (
         |  SELECT c, 1 AS l FROM roots
         |  UNION
         |  SELECT e.dst, w.l + 1 FROM walk w JOIN cedges e ON e.src = w.c),
         |lvl AS (SELECT c, CAST(max(l) AS BIGINT) AS level FROM walk GROUP BY c)
         |SELECT sz.scc, coalesce(lvl.level, 1) AS level,
         |  CAST(sz.n AS BIGINT) AS n_members
         |FROM sz LEFT JOIN lvl ON lvl.c = sz.scc""".stripMargin,
    // two independent implementations, one hash-to-min fixed point
    "g_cc_twophase" ->
      s"""WITH ${backboneCompCte()}
         |SELECT vid, component FROM comp""".stripMargin,
    "g_connected_components" ->
      s"""WITH ${backboneCompCte()}
         |SELECT vid, component FROM comp""".stripMargin,
    // float PageRank replayed exactly: the Spark side folds each
    // vertex's contributions in ascending sender-id order
    // (GraphAlgs.pagerankFloatRDD), and list_reduce over
    // list(... ORDER BY e.src) is the same left fold — bit-identical
    // doubles, zero tolerance. Every CTE a round references more
    // than once (edges, deg, ed, each r$i via the next round only —
    // but edges per round) is MATERIALIZED so DuckDB 1.0's CTE
    // inlining cannot re-run the lineitem self-join per round.
    "g_pagerank" ->
      s"""WITH $pagerankReplayCtes
         |SELECT vid, floor(rank * 1e6 + 0.5) / 1e6 AS rank FROM r10""".stripMargin,
    // (A+I)x / max power iteration replayed exactly: sender-sorted
    // fold for the neighbor sum, own score added once, then the
    // order-free max normalization. x$i is referenced twice per
    // round (neighbor sum + own term) -> MATERIALIZED.
    "g_eigencentrality" ->
      s"""WITH $eigenReplayCte
         |SELECT vid, floor(score * 1e6 + 0.5) / 1e6 AS score FROM x20""".stripMargin,
    // synchronous label propagation replayed exactly: integer label
    // counts, argmax by (count DESC, label ASC) via row_number — 5
    // unrolled rounds over the backbone
    "g_label_propagation" ->
      s"""WITH $labelPropReplayCte
         |SELECT vid, label FROM l5""".stripMargin,
    // MSF contract: component partition from the hash-to-min
    // fixpoint, n_edges = n_vertices - 1 (spanning forest), and the
    // per-component minimum edge length (cut property: the global
    // min edge of a component is always in its MSF); minimality
    // beyond that is pinned by MsfSpec's sequential-Kruskal parity
    "g_msf" ->
      s"""WITH ${backboneCompCte()},
         |sizes AS (SELECT component, count(*) AS n_vertices
         |          FROM comp GROUP BY component),
         |elen AS (SELECT src, 1000000000 // w AS len_nano FROM cp),
         |emin AS (SELECT c.component, CAST(min(e.len_nano) AS BIGINT) AS min_len_nano
         |         FROM elen e JOIN comp c ON c.vid = e.src GROUP BY c.component)
         |SELECT s.component, s.n_vertices,
         |  CAST(s.n_vertices - 1 AS BIGINT) AS n_edges, m.min_len_nano
         |FROM sizes s JOIN emin m ON m.component = s.component""".stripMargin,
    "g_transitivity" ->
      s"""$EdgeCte, t3 AS (
         |  SELECT CAST(sum(t) AS BIGINT) AS sum_t FROM (
         |    SELECT e1.src AS vid, count(*)/2 AS t
         |    FROM edges e1
         |    JOIN edges e2 ON e2.src = e1.dst
         |    JOIN edges e3 ON e3.src = e2.dst AND e3.dst = e1.src
         |    GROUP BY e1.src)),
         |w AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS wedges FROM (
         |  SELECT count(*) AS d FROM edges GROUP BY src))
         |SELECT sum_t, wedges,
         |  floor(sum_t / wedges * 1e9 + 0.5) / 1e9 AS transitivity
         |FROM t3, w""".stripMargin,
    "g_conductance" ->
      s"""$EdgeCte, m2 AS (SELECT count(*)::DOUBLE AS m2 FROM edges),
         |vol AS (SELECT src % 100 AS cid, count(*) AS vol FROM edges GROUP BY 1),
         |cut AS (SELECT cid, count(*) AS cut FROM (
         |  SELECT unnest([src % 100, dst % 100]) AS cid FROM raw
         |  WHERE src % 100 <> dst % 100) GROUP BY cid)
         |SELECT vol.cid, coalesce(cut.cut, 0) AS cut, vol.vol,
         |  floor(coalesce(cut.cut, 0) /
         |    least(vol.vol::DOUBLE, m2.m2 - vol.vol) * 1e9 + 0.5) / 1e9 AS phi
         |FROM vol LEFT JOIN cut ON vol.cid = cut.cid, m2""".stripMargin,
    "g_csv_roundtrip" -> s"$EdgeCte SELECT src, dst FROM raw",
    "g_jsonl_roundtrip" -> s"$EdgeCte SELECT src, dst FROM raw",
    "g_orc_roundtrip" -> s"$EdgeCte SELECT src, dst FROM raw",
    "g_edges_sym" -> s"$EdgeCte SELECT src, dst FROM edges",
    "g_degrees" -> s"$EdgeCte SELECT src AS vid, count(*) AS degree FROM edges GROUP BY src",
    "g_adjacency" ->
      s"""$EdgeCte SELECT src AS vid,
         |string_agg(CAST(dst AS VARCHAR), ',' ORDER BY dst) AS adj
         |FROM edges GROUP BY src""".stripMargin,
    "g_triangles" ->
      s"""$EdgeCte SELECT e1.src AS vid, CAST(count(*)/2 AS BIGINT) AS t
         |FROM edges e1
         |JOIN edges e2 ON e2.src = e1.dst
         |JOIN edges e3 ON e3.src = e2.dst AND e3.dst = e1.src
         |GROUP BY e1.src""".stripMargin,
    "g_clustering_coeff" ->
      s"""$EdgeCte, common AS (
         |  SELECT e1.src AS u, e1.dst AS v, count(*) AS c
         |  FROM edges e1
         |  JOIN edges e2 ON e2.src = e1.src
         |  JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
         |  GROUP BY e1.src, e1.dst
         |)
         |SELECT u AS vid, CAST(sum(c)/2 AS BIGINT) AS t, count(*) AS vt,
         |  floor((CASE WHEN count(*) < 2 THEN 0.0
         |    ELSE 2.0 * (sum(c)/2) / (count(*) * (count(*) - 1)) END) * 1e9 + 0.5) / 1e9 AS cc
         |FROM common GROUP BY u""".stripMargin,
    "g_community_stats" ->
      s"""$EdgeCte $AssignCte,
         |ec AS (SELECT r.src, r.dst, a1.cid AS sc, a2.cid AS dc
         |       FROM raw r JOIN assign a1 ON r.src = a1.vid
         |                  JOIN assign a2 ON r.dst = a2.vid),
         |sizes AS (SELECT cid, count(*) AS r FROM assign GROUP BY cid),
         |intc AS (SELECT sc AS cid, count(*) AS a FROM ec WHERE sc = dc GROUP BY sc),
         |extc AS (SELECT cid, count(*) AS b FROM (
         |  SELECT sc AS cid FROM ec WHERE sc <> dc
         |  UNION ALL SELECT dc AS cid FROM ec WHERE sc <> dc) GROUP BY cid)
         |SELECT s.cid, s.r, CAST(coalesce(i.a, 0) AS DOUBLE) AS a,
         |  coalesce(x.b, 0) AS b
         |FROM sizes s LEFT JOIN intc i ON s.cid = i.cid
         |             LEFT JOIN extc x ON s.cid = x.cid""".stripMargin,
    "g_vertex_comm_degrees" ->
      s"""$EdgeCte $AssignCte
         |SELECT e.src AS vid, a2.cid AS cid, count(*) AS deg
         |FROM edges e JOIN assign a2 ON e.dst = a2.vid
         |GROUP BY e.src, a2.cid""".stripMargin,
    // BFS as a bounded recursive CTE: the union-distinct frontier
    // enumerates (vid, walk length <= 30) pairs; min(d) = hop
    // distance (mirrors the Pregel maxHops=30 cap)
    "g_bfs_hops" ->
      s"""WITH RECURSIVE dummy AS (SELECT 1), ${EdgeCte.stripPrefix("WITH ")},
         |minv AS (SELECT min(src) AS v FROM raw),
         |bfs AS (
         |  SELECT v AS vid, 0 AS d FROM minv
         |  UNION
         |  SELECT e.dst, b.d + 1 FROM bfs b JOIN edges e ON e.src = b.vid
         |  WHERE b.d < 30)
         |SELECT vid, CAST(min(d) AS BIGINT) AS hops FROM bfs GROUP BY vid""".stripMargin,
    "g_resource_allocation" ->
      s"""$EdgeCte,
         |deg AS (SELECT src AS vid, count(*) AS deg FROM edges GROUP BY src),
         |wedge AS (
         |  SELECT e1.src AS src, e2.src AS dst, e1.dst AS z
         |  FROM edges e1 JOIN edges e2 ON e2.dst = e1.dst AND e1.src < e2.src),
         |conn AS (
         |  SELECT w.src, w.dst, w.z FROM wedge w
         |  JOIN raw r ON r.src = w.src AND r.dst = w.dst)
         |SELECT c.src, c.dst, CAST(count(*) AS BIGINT) AS common,
         |  floor(sum(CAST(1.0 AS DOUBLE) / d.deg) * 1e6 + 0.5) / 1e6 AS ra
         |FROM conn c JOIN deg d ON d.vid = c.z
         |GROUP BY c.src, c.dst""".stripMargin,
    "g_two_hop" ->
      s"""$EdgeCte,
         |deg AS (SELECT src AS vid, count(*) AS degree FROM edges GROUP BY src),
         |hubs AS (SELECT vid, degree FROM deg ORDER BY degree DESC, vid LIMIT 100),
         |p AS (SELECT DISTINCT h.vid AS a, e2.dst AS b
         |  FROM hubs h JOIN edges e1 ON e1.src = h.vid
         |  JOIN edges e2 ON e2.src = e1.dst
         |  WHERE e2.dst <> h.vid),
         |t AS (SELECT a, b FROM p WHERE NOT EXISTS (
         |  SELECT 1 FROM edges e WHERE e.src = p.a AND e.dst = p.b))
         |SELECT t.a AS vid, CAST(h.degree AS BIGINT) AS degree,
         |  count(*) AS n_two_hop
         |FROM t JOIN hubs h ON h.vid = t.a GROUP BY t.a, h.degree""".stripMargin,
    "g_multi_bfs" ->
      s"""WITH RECURSIVE dummy AS (SELECT 1), ${EdgeCte.stripPrefix("WITH ")},
         |srcs AS (SELECT src AS v FROM (
         |  SELECT DISTINCT src FROM raw
         |  ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT 5)),
         |bfs AS (
         |  SELECT v AS root, v AS vid, 0 AS d FROM srcs
         |  UNION
         |  SELECT b.root, e.dst, b.d + 1 FROM bfs b JOIN edges e ON e.src = b.vid
         |  WHERE b.d < 8),
         |md AS (SELECT root, vid, min(d) AS d FROM bfs GROUP BY root, vid)
         |SELECT vid, CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(sum(d) AS BIGINT) AS sum_dist, CAST(min(d) AS BIGINT) AS min_dist
         |FROM md GROUP BY vid""".stripMargin,
    "g_eccentricity" ->
      s"""WITH RECURSIVE dummy AS (SELECT 1), ${EdgeCte.stripPrefix("WITH ")},
         |srcs AS (SELECT src AS v FROM (
         |  SELECT DISTINCT src FROM raw
         |  ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT 5)),
         |bfs AS (
         |  SELECT v AS root, v AS vid, 0 AS d FROM srcs
         |  UNION
         |  SELECT b.root, e.dst, b.d + 1 FROM bfs b JOIN edges e ON e.src = b.vid
         |  WHERE b.d < 8),
         |md AS (SELECT root, vid, min(d) AS d FROM bfs GROUP BY root, vid)
         |SELECT root, count(*) AS n_reached, CAST(max(d) AS BIGINT) AS ecc
         |FROM md GROUP BY root""".stripMargin,
    // Deterministic integer PageRank: the oracle replays the exact
    // micro-unit recurrence (// is DuckDB integer floor division —
    // identical to Spark's div on these positive operands; sum()
    // over BIGINT widens to HUGEINT, hence the final cast)
    "g_pagerank_det" -> {
      val rounds = (1 to 10).map { i =>
        s"""r$i AS (SELECT e.dst AS vid,
           |  CAST(150000 + (850000 * sum(r.rank // e.deg)) // 1000000 AS BIGINT) AS rank
           |  FROM e JOIN r${i - 1} r ON r.vid = e.src GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""$EdgeCte,
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |e AS (SELECT edges.src, edges.dst, deg.deg
         |      FROM edges JOIN deg ON deg.src = edges.src),
         |r0 AS (SELECT src AS vid, CAST(1000000 AS BIGINT) AS rank FROM deg),
         |$rounds
         |SELECT vid, rank FROM r10""".stripMargin
    },
    // Deterministic integer personalized PageRank: the seed
    // indicator (md5-picked roots, the BFS family's rule) is folded
    // into the edge CTE once so each unrolled round references only
    // its predecessor and the static e
    "g_ppr_det" -> {
      val rounds = (1 to 10).map { i =>
        s"""r$i AS (SELECT e.dst AS vid,
           |  CAST(max(e.base) + (850000 * sum(r.rank // e.deg)) // 1000000 AS BIGINT) AS rank
           |  FROM e JOIN r${i - 1} r ON r.vid = e.src GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""$EdgeCte,
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |srcs AS (SELECT src AS v FROM (
         |  SELECT DISTINCT src FROM raw
         |  ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT 5)),
         |e AS (SELECT edges.src, edges.dst, deg.deg,
         |      CASE WHEN edges.dst IN (SELECT v FROM srcs) THEN 150000 ELSE 0 END AS base
         |      FROM edges JOIN deg ON deg.src = edges.src),
         |r0 AS (SELECT dst AS vid,
         |       CAST(CASE WHEN max(base) > 0 THEN 1000000 ELSE 0 END AS BIGINT) AS rank
         |       FROM e GROUP BY dst),
         |$rounds
         |SELECT vid, rank FROM r10""".stripMargin
    },
    // Deterministic integer eigenvector centrality: exact replay of
    // the shifted power iteration with integer max-normalization
    "g_eigencentrality_det" -> {
      // every CTE in the chain is referenced exactly ONCE — a round
      // that touches its predecessor twice doubles the inlined plan
      // per round (2^12 scans blew DuckDB's file handles); the A+I
      // self term therefore rides a self-loop edge set defined once
      val rounds = (1 to 12).map { i =>
        s"""s$i AS (SELECT e.dst AS vid, sum(x.x) AS s
           |  FROM eself e JOIN x${i - 1} x ON x.vid = e.src GROUP BY e.dst),
           |x$i AS (SELECT vid,
           |  CAST((s * 1000000) // (max(s) OVER ()) AS BIGINT) AS x
           |  FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"""$EdgeCte,
         |eself AS (SELECT src, dst FROM edges
         |          UNION ALL SELECT DISTINCT src, src AS dst FROM edges),
         |x0 AS (SELECT DISTINCT src AS vid, CAST(1000000 AS BIGINT) AS x FROM edges),
         |$rounds
         |SELECT vid, x AS score FROM x12""".stripMargin
    },
    // Deterministic label propagation: most frequent neighbor label,
    // smallest label on ties — a total order the window replays
    "g_label_propagation_det" -> {
      val rounds = (1 to 4).map { i =>
        s"""c$i AS (SELECT e.dst AS vid, l.label, count(*) AS c
           |  FROM edges e JOIN l${i - 1} l ON l.vid = e.src
           |  GROUP BY e.dst, l.label),
           |l$i AS (SELECT vid, label FROM (
           |  SELECT vid, label,
           |    row_number() OVER (PARTITION BY vid ORDER BY c DESC, label ASC) AS rn
           |  FROM c$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""$EdgeCte,
         |l0 AS (SELECT DISTINCT src AS vid, src AS label FROM edges),
         |$rounds
         |SELECT vid, label FROM l4""".stripMargin
    },
    // Exact value oracle for the weighted SSSP fixpoint: unrolled
    // Bellman-Ford rounds (d_{k+1} = min(d_k, min over edges of
    // d_k[src] + len)). Every candidate distance is a left-folded
    // path sum in BOTH engines (Pregel relaxation uses the same
    // recurrence), so the converged doubles are bit-identical — no
    // tolerance needed. sf0.1 converges in 4 effective rounds; 8
    // gives 2x margin. CAST(1.0 AS DOUBLE): DuckDB's bare 1.0 is
    // DECIMAL and decimal division would break bit-equality. Every
    // CTE is MATERIALIZED: each round references its predecessor
    // TWICE (keep + relax), so DuckDB 1.0's inlining would double
    // the plan per round — 2^8 copies of the inlined lineitem
    // self-join, measured 25.5 s at sf0.01 vs 0.2 s materialized.
    // loud unroll-margin guard (same pattern as g_kcore): if 8
    // Bellman rounds no longer reach the fixpoint on a bigger
    // corpus (a relaxable edge remains, or the reached set is still
    // expanding), emit ZERO rows — an unmissable row-count mismatch
    // — instead of a confusing value-hash failure.
    "g_sssp_weighted" ->
      s"""WITH $ssspReplayCtes
         |SELECT vid, floor(dist * 1e6 + 0.5) / 1e6 AS dist FROM d8
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM we e JOIN d8 a ON a.vid = e.src
         |  LEFT JOIN d8 b ON b.vid = e.dst
         |  WHERE b.vid IS NULL OR b.dist > a.dist + e.len + 1e-9)""".stripMargin,
    // Bellman certificate: every boolean COMPUTED by SQL over the
    // oracle's own replayed distances (d8, the same rounds as
    // g_sssp_weighted — hash-proven equal to the Spark distances),
    // mirroring ssspCertified's predicates at the same 1e-9 slack:
    // closure (source at 0, no edge escapes the reached set),
    // no-relaxable-edge, and tight-predecessor support. An
    // unconverged replay (8 rounds no longer enough at a bigger
    // corpus) flips relaxed_ok to FALSE — a loud hash mismatch.
    "g_sssp_certified" ->
      s"""WITH $ssspReplayCtes,
         |du AS MATERIALIZED (SELECT vid, dist FROM d8)
         |SELECT (SELECT count(*) FROM du) AS n_reached,
         |  ((SELECT dist FROM du WHERE vid = (SELECT min(src) FROM we)) = 0
         |   AND NOT EXISTS (
         |     SELECT 1 FROM we e JOIN du a ON a.vid = e.src
         |     LEFT JOIN du b ON b.vid = e.dst WHERE b.vid IS NULL)) AS closure_ok,
         |  NOT EXISTS (
         |    SELECT 1 FROM we e JOIN du a ON a.vid = e.src
         |    JOIN du b ON b.vid = e.dst
         |    WHERE b.dist > a.dist + e.len + 1e-9) AS relaxed_ok,
         |  NOT EXISTS (
         |    SELECT 1 FROM (
         |      SELECT e.dst AS v, min(a.dist + e.len - b.dist) AS slack
         |      FROM we e JOIN du a ON a.vid = e.src
         |      JOIN du b ON b.vid = e.dst
         |      WHERE e.dst <> (SELECT min(src) FROM we)
         |      GROUP BY e.dst) WHERE slack > 1e-9) AS support_ok""".stripMargin,
    // rank-mass invariant as a cross-engine VALUE: mass_round is the
    // ACTUAL total rank mass of the 10-round PageRank replay, rounded
    // to the nearest integer in SQL — sink-free mass conservation
    // makes it equal |V| on both engines (Spark measures the GraphX
    // staticPageRank mass, the oracle sums its own replayed ranks;
    // each is within float noise of |V|, so both round exactly).
    // A broken iteration that leaks or inflates mass by >= 0.5 flips
    // this value. mass_ok / floor_ok COMPUTED by SQL over the same
    // replayed ranks at pagerankCertified's exact tolerances
    // (|mass - n| <= n*1e-6; min rank >= 0.15 - 1e-9): the replay is
    // bit-identical to the Spark fold, so the predicates agree.
    "g_pagerank_certified" ->
      s"""WITH $pagerankReplayCtes,
         |nv AS (SELECT count(DISTINCT src) AS n FROM edges)
         |SELECT (SELECT n FROM nv) AS n_vertices,
         |  CAST(floor(sum(rank) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mass_round,
         |  (abs(sum(rank) - (SELECT n FROM nv))
         |    <= (SELECT n FROM nv) * 1e-6) AS mass_ok,
         |  (min(rank) >= CAST(0.15 AS DOUBLE) - 1e-9) AS floor_ok
         |FROM r10""".stripMargin,
    // flagship partition invariants, every boolean now COMPUTED by
    // SQL over the replay's own partition (wlab — hash-proven equal
    // to the emitted one by g_wcc_partition) and its recomputed WCC
    // value (wg): completeness + uniqueness of the labeling, the
    // prune semantics (non-core vertices are self-labeled
    // singletons), a strictly positive WCC, and a real >= 2-member
    // community. The values (|V|, pruned-singleton count) stay exact
    // SQL recomputes — core = t > 0 in the replay's triangle stats,
    // the same set the old standalone triangle join counted.
    "g_wcc_partition_certified" ->
      s"""WITH $wccValueReplayCtes
         |SELECT (SELECT count(*) FROM wverts) AS n_vertices,
         |  (SELECT count(*) FROM wverts)
         |    - (SELECT count(*) FROM core) AS n_pruned_singletons,
         |  ((SELECT count(*) FROM wlab) = (SELECT count(*) FROM wverts)
         |   AND (SELECT count(DISTINCT vid) FROM wlab)
         |       = (SELECT count(*) FROM wverts)) AS partition_total_ok,
         |  NOT EXISTS (
         |    SELECT 1 FROM wlab l LEFT JOIN core c ON c.vid = l.vid
         |    WHERE c.vid IS NULL AND l.cid <> l.vid) AS pruned_singleton_ok,
         |  (SELECT g > 0 FROM wg) AS wcc_positive,
         |  EXISTS (SELECT 1 FROM wlab
         |          GROUP BY cid HAVING count(*) >= 2) AS has_community""".stripMargin,
    // flagship VALUE certificate: wcc_round IS the global WCC of the
    // emitted partition, recomputed in SQL from the seeding replay's
    // labels via the closed-form metric + the blocked deterministic
    // fold (see wccValueReplayCtes) — bit-identical to the Spark
    // side's independent WccCheck recompute, hash-compared at 1e-9
    // scaling. wcc_in_unit is COMPUTED from the SQL value; the
    // claimed-vs-recomputed agreement boolean is inherently
    // cross-engine (it compares the PIPELINE's claimed bestWcc to
    // the recompute — a value only Spark holds) and stays
    // Spark-certified, with the recomputed value itself already in
    // the hash via wcc_round.
    "g_wcc_partition_wcc_check" ->
      s"""WITH $wccValueReplayCtes
         |SELECT (SELECT count(*) FROM wverts) AS n_vertices,
         |  (SELECT CAST(floor(g * CAST(1e9 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |     AS BIGINT) FROM wg) AS wcc_round,
         |  TRUE AS wcc_recompute_ok,
         |  (SELECT g > 0 AND g <= 1 FROM wg) AS wcc_in_unit""".stripMargin,
    // seeding VALUE certificate, same machinery: the initial
    // partition grafted onto the full vertex universe is the same
    // (vid, cid) set the seeding replay emits (Output graft-back
    // contract), so its recomputed WCC value is the identical SQL
    // expression
    "g_wcc_initial_partition_wcc_check" ->
      s"""WITH $wccValueReplayCtes
         |SELECT (SELECT count(*) FROM wverts) AS n_vertices,
         |  (SELECT CAST(floor(g * CAST(1e9 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |     AS BIGINT) FROM wg) AS wcc_round,
         |  TRUE AS wcc_recompute_ok,
         |  (SELECT g > 0 AND g <= 1 FROM wg) AS wcc_in_unit""".stripMargin,
    // incremental-replay invariants, every boolean now COMPUTED by
    // SQL over the replay's own result (hash-proven equal to the
    // Spark labels by g_wcc_incremental): one label per vertex, the
    // labeled set exactly the bulk vertex set (endpoints of edges
    // with both ids below floor(maxId * 0.8) — the micro-batch
    // driver's split rule, which the graft-back contract makes the
    // labeled universe), and a real >= 2-member community. The bulk
    // set (bverts) is pure data arithmetic inside the replay.
    "g_wcc_incremental_certified" ->
      s"""WITH ${incrReplayCte()}
         |SELECT (SELECT count(*) FROM allverts_1) AS n_vertices,
         |  (SELECT count(*) FROM bverts) AS n_bulk_vertices,
         |  ((SELECT count(*) FROM result)
         |    = (SELECT count(DISTINCT vid) FROM result)) AS labels_unique_ok,
         |  ((SELECT count(DISTINCT vid) FROM result)
         |    = (SELECT count(*) FROM bverts)
         |   AND NOT EXISTS (
         |     SELECT 1 FROM result r LEFT JOIN bverts b ON b.vid = r.vid
         |     WHERE b.vid IS NULL)) AS labels_cover_bulk_ok,
         |  EXISTS (SELECT 1 FROM result
         |          GROUP BY cid HAVING count(*) >= 2) AS has_community""".stripMargin,
    // label-propagation invariants, every boolean now COMPUTED by
    // SQL over the replay's own 5-round labels (hash-proven equal to
    // the Spark labels by g_label_propagation): exactly one label
    // per backbone vertex, every label a backbone vertex id, and a
    // real >= 2-member group.
    "g_label_propagation_certified" ->
      s"""WITH $labelPropReplayCte,
         |lpv AS (SELECT count(DISTINCT src) AS n FROM e2)
         |SELECT (SELECT n FROM lpv) AS n_vertices,
         |  (SELECT count(DISTINCT label) FROM l5) AS n_labels,
         |  ((SELECT count(*) FROM l5) = (SELECT n FROM lpv)
         |   AND (SELECT count(DISTINCT vid) FROM l5)
         |       = (SELECT n FROM lpv)) AS coverage_ok,
         |  NOT EXISTS (
         |    SELECT 1 FROM (SELECT DISTINCT label FROM l5) s
         |    LEFT JOIN (SELECT DISTINCT src FROM e2) v ON v.src = s.label
         |    WHERE v.src IS NULL) AS labels_in_domain_ok,
         |  EXISTS (SELECT 1 FROM l5
         |          GROUP BY label HAVING count(*) >= 2) AS has_group""".stripMargin,
    // power-iteration invariants, every boolean now COMPUTED by SQL
    // over the replay's own final round (hash-proven equal to the
    // Spark scores by g_eigencentrality): one score per vertex,
    // normalization peak exactly 1, all scores positive — at the
    // same 1e-6 rounding the Spark side applies before testing.
    "g_eigencentrality_certified" ->
      s"""WITH $eigenReplayCte,
         |xr AS (SELECT vid, floor(score * 1e6 + 0.5) / 1e6 AS score FROM x20)
         |SELECT (SELECT count(*) FROM x0) AS n_vertices,
         |  (SELECT count(*) FROM xr WHERE score = 1.0) AS n_at_max,
         |  ((SELECT count(*) FROM xr)
         |    = (SELECT count(*) FROM x0)) AS coverage_ok,
         |  ((SELECT max(score) FROM xr) = 1.0) AS max_is_one,
         |  ((SELECT min(score) FROM xr) > 0) AS all_positive""".stripMargin,
    // seeding-phase invariants, every boolean now COMPUTED by SQL
    // over the replay's own seeded labels (hash-proven equal to the
    // Spark labels by g_wcc_initial_partition): exactly one label
    // per triangle-core vertex, every label a core vertex id (each
    // community's seed is a center vertex), and seeding already
    // forms a real >= 2-member group.
    "g_wcc_initial_partition_certified" ->
      s"""WITH ${seedReplayCte()},
         |ilab AS MATERIALIZED (
         |  SELECT c.vid, coalesce(b.cid, c.vid) AS cid
         |  FROM core c LEFT JOIN best b ON b.vid = c.vid)
         |SELECT (SELECT count(*) FROM core) AS n_core,
         |  (SELECT count(DISTINCT cid) FROM ilab) AS n_communities,
         |  ((SELECT count(*) FROM ilab) = (SELECT count(*) FROM core)
         |   AND (SELECT count(DISTINCT vid) FROM ilab)
         |       = (SELECT count(*) FROM core)) AS coverage_ok,
         |  NOT EXISTS (
         |    SELECT 1 FROM (SELECT DISTINCT cid FROM ilab) s
         |    LEFT JOIN core c ON c.vid = s.cid
         |    WHERE c.vid IS NULL) AS labels_in_core_ok,
         |  EXISTS (SELECT 1 FROM ilab
         |          GROUP BY cid HAVING count(*) >= 2) AS has_group""".stripMargin,
    "g_recursive_reach" ->
      s"""WITH RECURSIVE dummy AS (SELECT 1), ${EdgeCte.stripPrefix("WITH ")},
         |root AS (SELECT min(src) AS r FROM edges),
         |walk AS (
         |  SELECT r AS vid, 0 AS hop FROM root
         |  UNION ALL
         |  SELECT e.dst, w.hop + 1
         |  FROM walk w JOIN edges e ON e.src = w.vid
         |  WHERE w.hop < 2),
         |md AS (SELECT vid, min(hop) AS d FROM walk GROUP BY vid)
         |SELECT d, count(*) AS n_vertices FROM md GROUP BY d""".stripMargin,
    "g_closeness" ->
      s"""WITH RECURSIVE dummy AS (SELECT 1), ${EdgeCte.stripPrefix("WITH ")},
         |srcs AS (SELECT src AS v FROM (
         |  SELECT DISTINCT src FROM raw
         |  ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT 5)),
         |bfs AS (
         |  SELECT v AS root, v AS vid, 0 AS d FROM srcs
         |  UNION
         |  SELECT b.root, e.dst, b.d + 1 FROM bfs b JOIN edges e ON e.src = b.vid
         |  WHERE b.d < 8),
         |md AS (SELECT root, vid, min(d) AS d FROM bfs GROUP BY root, vid)
         |SELECT root, count(*) AS n_reached, CAST(sum(d) AS BIGINT) AS sum_dist,
         |  floor((count(*) - 1)::DOUBLE / sum(d) * 1e9 + 0.5) / 1e9 AS closeness
         |FROM md GROUP BY root""".stripMargin,
    // Sampled Brandes betweenness replayed exactly: the recursive
    // BFS layers (same pattern as g_closeness), the integer sigma
    // recurrence per depth (order-free BIGINT sums, loud on
    // overflow via the HUGEINT->BIGINT cast), and the dependency
    // accumulation walked from the horizon back — each (root,
    // vertex)'s successor terms folded ascending-successor-id, the
    // per-vertex total folded ascending-root, both mirroring the
    // Spark folds term for term. Bit-identical doubles, zero
    // tolerance at 1e-9 rounding.
    "g_betweenness" -> {
      val sigmas = (1 to 8).map { i =>
        s"""sg$i AS MATERIALIZED (
           |  SELECT m.root, m.vid, CAST(sum(p.sigma) AS BIGINT) AS sigma
           |  FROM md m
           |  JOIN edges e ON e.dst = m.vid
           |  JOIN sg${i - 1} p ON p.root = m.root AND p.vid = e.src
           |  WHERE m.d = $i
           |  GROUP BY m.root, m.vid)""".stripMargin
      }.mkString(",\n")
      val deltas = (7 to 1 by -1).map { i =>
        s"""ct$i AS (
           |  SELECT w.root, e.dst AS vid,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list((CAST(sv.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE))
           |        * (CAST(1.0 AS DOUBLE) + w.delta) ORDER BY w.vid)),
           |      (a, x) -> a + x) AS delta
           |  FROM dd${i + 1} w
           |  JOIN edges e ON e.src = w.vid
           |  JOIN sg$i sv ON sv.root = w.root AND sv.vid = e.dst
           |  GROUP BY w.root, e.dst),
           |dd$i AS MATERIALIZED (
           |  SELECT s.root, s.vid, s.sigma,
           |    coalesce(c.delta, CAST(0.0 AS DOUBLE)) AS delta
           |  FROM sg$i s LEFT JOIN ct$i c ON c.root = s.root AND c.vid = s.vid)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 8).map(i => s"SELECT root, vid, delta FROM dd$i")
        .mkString("\n  UNION ALL ")
      s"""WITH RECURSIVE dummy AS (SELECT 1), $MatEdgeCte,
         |srcs AS MATERIALIZED (SELECT src AS v FROM (
         |  SELECT DISTINCT src FROM raw
         |  ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT 5)),
         |bfs AS (
         |  SELECT v AS root, v AS vid, 0 AS d FROM srcs
         |  UNION
         |  SELECT b.root, e.dst, b.d + 1 FROM bfs b JOIN edges e ON e.src = b.vid
         |  WHERE b.d < 8),
         |md AS MATERIALIZED (SELECT root, vid, min(d) AS d FROM bfs GROUP BY root, vid),
         |sg0 AS (SELECT v AS root, v AS vid, CAST(1 AS BIGINT) AS sigma FROM srcs),
         |$sigmas,
         |dd8 AS (SELECT root, vid, sigma, CAST(0.0 AS DOUBLE) AS delta FROM sg8),
         |$deltas,
         |allv AS ($unions)
         |SELECT vid, CAST(count(*) AS BIGINT) AS n_roots,
         |  floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(delta ORDER BY root)), (a, x) -> a + x) * 1e9 + 0.5) / 1e9 AS bc
         |FROM allv GROUP BY vid""".stripMargin
    },
    // Harmonic centrality in integer nano-units: 10^9 // d is exact
    // floor division on both engines, the sum is order-free
    "g_harmonic" ->
      s"""WITH RECURSIVE dummy AS (SELECT 1), ${EdgeCte.stripPrefix("WITH ")},
         |srcs AS (SELECT src AS v FROM (
         |  SELECT DISTINCT src FROM raw
         |  ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT 5)),
         |bfs AS (
         |  SELECT v AS root, v AS vid, 0 AS d FROM srcs
         |  UNION
         |  SELECT b.root, e.dst, b.d + 1 FROM bfs b JOIN edges e ON e.src = b.vid
         |  WHERE b.d < 8),
         |md AS (SELECT root, vid, min(d) AS d FROM bfs GROUP BY root, vid)
         |SELECT root, count(*) AS n_reached,
         |  CAST(sum(CASE WHEN d > 0 THEN 1000000000 // d ELSE 0 END) AS BIGINT) AS harm_sum
         |FROM md GROUP BY root""".stripMargin,
    // k-truss invariant contract, fixpoint booleans now COMPUTED by
    // SQL from an unrolled peel replay: round i recomputes each
    // surviving edge's support inside the survivor set and drops
    // support < k-2 = 2 (an edge with NO triangle has no support row
    // — the inner join drops it, same as the Spark peel). The peel
    // quiesces in 3 rounds at sf0.01 (measured); 9 unrolled rounds
    // give 3x margin, and rounds past the fixpoint are no-ops.
    // support_ok re-verifies every final edge's support >= 2 via the
    // round-9 support pass; converged compares the last two rounds'
    // edge counts (FALSE — a loud boolean mismatch — if a bigger
    // corpus ever needs more than 9 rounds; bump with the corpus).
    "g_ktruss" -> {
      val rounds = (1 to 9).map { i =>
        s"""ts$i AS MATERIALIZED (
           |  SELECT src, dst FROM te${i - 1}
           |  UNION ALL SELECT dst, src FROM te${i - 1}),
           |tsup$i AS MATERIALIZED (
           |  SELECT r.src, r.dst, count(*) AS c
           |  FROM te${i - 1} r JOIN ts$i a ON a.src = r.src
           |                    JOIN ts$i b ON b.src = r.dst AND b.dst = a.dst
           |  GROUP BY r.src, r.dst),
           |te$i AS MATERIALIZED (SELECT src, dst FROM tsup$i WHERE c >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $MatEdgeCte,
         |te0 AS (SELECT src, dst FROM raw),
         |$rounds
         |SELECT (SELECT count(DISTINCT src) FROM edges) AS n_vertices,
         |  (SELECT count(*) FROM te1) AS n_edges_r1,
         |  NOT EXISTS (
         |    SELECT 1 FROM te8 e
         |    LEFT JOIN tsup9 s ON s.src = e.src AND s.dst = e.dst
         |    WHERE s.c IS NULL OR s.c < 2) AS support_ok,
         |  ((SELECT count(*) FROM te9)
         |    = (SELECT count(*) FROM te8)) AS converged""".stripMargin
    },
    "g_assortativity" ->
      s"""$EdgeCte,
         |deg AS (SELECT src AS vid, count(*) AS degree FROM edges GROUP BY src),
         |j AS (SELECT da.degree AS dx, db.degree AS dy
         |  FROM edges e JOIN deg da ON da.vid = e.src
         |               JOIN deg db ON db.vid = e.dst),
         |m AS (SELECT count(*) AS n,
         |  CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         |  CAST(sum(dx * dy) AS BIGINT) AS sxy,
         |  CAST(sum(dx * dx) AS BIGINT) AS sxx,
         |  CAST(sum(dy * dy) AS BIGINT) AS syy FROM j)
         |SELECT n, floor(((n * sxy - sx * sy) /
         |  (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) * 1e9 + 0.5) / 1e9
         |  AS assortativity
         |FROM m""".stripMargin,
    "g_modularity" ->
      s"""$EdgeCte $AssignCte,
         |m AS (SELECT count(*)::DOUBLE AS m FROM raw),
         |deg AS (SELECT src AS vid, count(*) AS deg FROM edges GROUP BY src),
         |dc AS (SELECT a.cid, CAST(sum(d.deg) AS BIGINT) AS d_c
         |  FROM assign a JOIN deg d ON d.vid = a.vid GROUP BY a.cid),
         |ac AS (SELECT src % $SyntheticModulus AS cid, count(*) AS a_c
         |  FROM raw WHERE src % $SyntheticModulus = dst % $SyntheticModulus
         |  GROUP BY 1)
         |SELECT dc.cid, coalesce(ac.a_c, 0) AS a_c, dc.d_c,
         |  floor((coalesce(ac.a_c, 0) / m.m
         |    - (dc.d_c / (2 * m.m)) * (dc.d_c / (2 * m.m))) * 1e9 + 0.5) / 1e9 AS q_c
         |FROM dc LEFT JOIN ac ON ac.cid = dc.cid, m""".stripMargin,
    "g_degree_dist" ->
      s"""$EdgeCte,
         |deg AS (SELECT src AS vid, count(*) AS degree FROM edges GROUP BY src)
         |SELECT degree, count(*) AS n_vertices FROM deg GROUP BY degree""".stripMargin,
    "g_avg_nbr_degree" ->
      s"""$EdgeCte,
         |deg AS (SELECT src AS vid, count(*) AS degree FROM edges GROUP BY src)
         |SELECT e.src AS vid, count(*) AS degree,
         |  floor(avg(d2.degree) * 1e9 + 0.5) / 1e9 AS avg_nbr_degree
         |FROM edges e JOIN deg d2 ON d2.vid = e.dst
         |GROUP BY e.src""".stripMargin,
    // per-edge common-neighbor counts via the triangle join, LEFT
    // joined back so zero-common edges survive (the Spark side's
    // array_intersect yields 0 for them)
    "g_neighbor_jaccard" ->
      s"""$EdgeCte,
         |deg AS (SELECT src AS vid, count(*) AS d FROM edges GROUP BY src),
         |com AS (
         |  SELECT r.src, r.dst, count(*) AS common
         |  FROM raw r
         |  JOIN edges a ON a.src = r.src
         |  JOIN edges b ON b.src = r.dst AND b.dst = a.dst
         |  GROUP BY r.src, r.dst)
         |SELECT r.src, r.dst,
         |  coalesce(c.common, 0) AS common,
         |  da.d AS deg_src, db.d AS deg_dst,
         |  floor((coalesce(c.common, 0)::DOUBLE /
         |    (da.d + db.d - coalesce(c.common, 0))) * 1e9 + 0.5) / 1e9 AS jaccard
         |FROM raw r
         |LEFT JOIN com c ON c.src = r.src AND c.dst = r.dst
         |JOIN deg da ON da.vid = r.src
         |JOIN deg db ON db.vid = r.dst""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_edges_sym" -> symmetrizedEdges _,
    "g_degrees" -> degrees _,
    "g_adjacency" -> adjacency _,
    "g_triangles" -> triangles _,
    "g_clustering_coeff" -> clusteringCoefficient _,
    "g_community_stats" -> communityStats _,
    "g_vertex_comm_degrees" -> vertexCommunityDegrees _,
    "g_wcc_partition" -> wccPartition _,
    "g_wcc_initial_partition" -> wccInitialPartition _,
    "g_wcc_incremental" -> wccIncremental _,
    "g_wcc_incremental_multibatch" -> wccIncrementalMultibatch _,
    "g_wcc_incremental_delta" -> wccIncrementalDelta _,
    "g_pagerank" -> pagerank _,
    "g_pagerank_det" -> pagerankDeterministic _,
    "g_ppr_det" -> pprDeterministic _,
    "g_eigencentrality_det" -> eigenCentralityDeterministic _,
    "g_label_propagation_det" -> labelPropagationDeterministic _,
    "g_csv_roundtrip" -> csvRoundtrip _,
    "g_jsonl_roundtrip" -> jsonlRoundtrip _,
    "g_orc_roundtrip" -> orcRoundtrip _,
    "g_bfs_hops" -> bfsHops _,
    "g_neighbor_jaccard" -> neighborJaccard _,
    "g_kcore" -> kcore _,
    "g_mis" -> mis _,
    "g_coloring" -> coloring _,
    "g_coloring_mis" -> coloringMis _,
    "g_coloring_trial" -> coloringTrial _,
    "g_matching" -> matching _,
    "g_scc" -> scc _,
    "g_scc_condensation" -> sccCondensation _,
    "g_connected_components" -> connectedComponents _,
    "g_cc_twophase" -> connectedComponentsTwoPhase _,
    "g_msf" -> msf _,
    "g_sssp_certified" -> ssspCertified _,
    "g_pagerank_certified" -> pagerankCertified _,
    "g_wcc_partition_certified" -> wccCertified _,
    "g_wcc_partition_wcc_check" -> wccPartitionWccCheck _,
    "g_wcc_initial_partition_wcc_check" -> wccInitialPartitionWccCheck _,
    "g_wcc_incremental_certified" -> wccIncrementalCertified _,
    "g_label_propagation_certified" -> labelPropagationCertified _,
    "g_eigencentrality_certified" -> eigenCentralityCertified _,
    "g_wcc_initial_partition_certified" -> wccInitialCertified _,
    "g_label_propagation" -> labelPropagation _,
    "g_sssp_weighted" -> ssspWeighted _,
    "g_transitivity" -> transitivity _,
    "g_conductance" -> conductance _,
    "g_degree_dist" -> degreeDist _,
    "g_avg_nbr_degree" -> avgNeighborDegree _,
    "g_modularity" -> modularity _,
    "g_assortativity" -> assortativity _,
    "g_resource_allocation" -> resourceAllocation _,
    "g_multi_bfs" -> multiBfs _,
    "g_two_hop" -> twoHopReach _,
    "g_eccentricity" -> eccentricity _,
    "g_closeness" -> closeness _,
    "g_betweenness" -> betweenness _,
    "g_harmonic" -> harmonic _,
    "g_ktruss" -> ktruss _,
    "g_eigencentrality" -> eigenCentrality _,
    "g_recursive_reach" -> recursiveReach _
  )
}
