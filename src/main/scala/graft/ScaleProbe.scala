package graft

import graft.graph.{EdgeOps, Fixpoint}
import graft.wcc._
import org.apache.spark.sql.functions._

/** Dev tool (not part of the library surface): scale-up probe for the
 * graph pipeline. Replicates the sf0.1 co-purchase edge set K times
 * with disjoint vertex-id shifts (structure-preserving 10x scale:
 * same degree distribution, 10x volume) and times the heavy phases —
 * triangle stats (the support kernel), the seeding supersteps, and one
 * full refinement-iteration equivalent (fused neighborhood surfaces
 * + derived stats + global-WCC evaluation) — while sampling peak JVM
 * heap.
 *
 * Usage: runMain graft.ScaleProbe [replicas] [sfDir] [phases]
 * `phases` (optional, comma-separated substrings) restricts which
 * timed phases run — isolating a loop from the heap/block-manager
 * residue of the phases before it (a full sequential run measures
 * each phase under the previous ones' leftovers).
 * Prints one line per phase: wall-clock seconds + peak heap GiB.
 */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val phaseFilter: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    // optional 4th arg: explicit partition count for the replicated
    // graph build — the sf1-scale A/B of the edge-count sizing rule
    // (VERDICT r15 item 5: does graphPartsFor's min() hand over to
    // input partitioning at the right point?)
    val graphParts: Int = if (args.length > 3) args(3).toInt else 0
    // fail fast on a typo'd token: a misspelled `skew-corenes` would
    // otherwise pass the block gates, pay the generation phases, then
    // run zero loops with no warning
    val KnownTokens = Set(
      "wcc", "wcc-refine", "idwcc", "coreness", "k-truss", "msf", "hits", "det",
      "betweenness",
      "pagerank", "eigen", "label", "floatdet", "scc", "matching",
      "skew", "skew-pagerank", "skew-cc", "skew-coreness", "skew-wcc",
      "skew-ktruss", "skew-idwcc", "skew-betweenness", "skew-mis",
      "skew-scc", "dedup-hot", "ivf-hot", "pq", "stream-dedup",
      "stream-state")
    phaseFilter.foreach(_.foreach { tok =>
      require(KnownTokens.contains(tok),
        s"unknown probe token '$tok' — known: ${KnownTokens.toSeq.sorted.mkString(", ")}")
    })
    def wanted(name: String): Boolean =
      phaseFilter.forall(_.exists(name.contains))
    val spark = LocalSession(LocalSession.cpus)

    @volatile var peak = 0L
    val sampler = new Thread(() => {
      while (true) {
        val used = Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
        if (used > peak) peak = used
        Thread.sleep(100)
      }
    })
    sampler.setDaemon(true); sampler.start()

    def phase[T](name: String)(f: => T): T = {
      peak = 0L
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-probe] $name%-28s ${secs}%8.1f s   peak heap ${peak / (1 << 30).toDouble}%5.1f GiB")
      r
    }

    val base = EdgeOps.coPurchaseEdges(spark, sfDir).cache()
    val nBase = base.count()
    val maxId = base.agg(max(greatest(col("src"), col("dst")))).head().getLong(0) + 1

    // replicated edge set / GraphX graph are built LAZILY: a run
    // restricted to the synthetic-skew phases (which generate their
    // own edges) skips both, keeping single-phase isolation runs
    // inside a tight wall-clock budget
    lazy val edges = phase(s"replicate x$replicas") {
      val shifted = (0 until replicas).map { k =>
        base.select((col("src") + k * maxId).as("src"),
          (col("dst") + k * maxId).as("dst"))
      }.reduce(_ union _).cache()
      val n = shifted.count()
      println(s"[scale-probe] edges: $nBase -> $n, maxId $maxId")
      shifted
    }

    lazy val g = {
      val built = phase("graph build") {
        val g = EdgeOps.toGraph(edges, graphParts); g.cache(); g.numVertices; g
      }
      println(s"[scale-probe] |V|=${built.numVertices} |E|=${built.numEdges} " +
        s"parts=${built.edges.getNumPartitions}")
      built
    }

    if (wanted("wcc")) {
      val tri = phase("triangle stats + prune (wcc)")(TriangleStats.run(g))
      val init = phase("initial partition Pregel (wcc)") {
        val i = InitialPartition.run(tri.pruned); i.cache(); i.vertices.count(); i
      }
      val vertexCount = g.numVertices
      phase("one refinement iteration (wcc)") {
        // one production refinement generation: the seed blocks, then
        // the one-job step that scores them and builds the next
        val globalCC = IncrementalWCC.detGlobalCC(init.vertices, vertexCount)
        Fixpoint.using { scope =>
          val seed = RefineState.seed(init, countTriangles = true, RefineState.in(scope))
          val next = seed.step(globalCC, vertexCount, score = true,
            countTriangles = true, RefineState.in(scope))
          println(s"[scale-probe] communities=${seed.stats.size} " +
            s"wcc=${next.wccPrev / vertexCount} moves=${next.moved}")
        }
      }
    }

    // full batch DWCC — preprocess + seeding + the PIPELINED
    // acceptance refinement (r20): at 10x this holds up to three
    // live movement generations (best/candidate/speculative), so the
    // probe watches peak heap as much as wall clock
    // explicit opt-in only (the bare "wcc" token must keep its
    // single-iteration shape, and a no-filter run must not pay a
    // full multi-minute DWCC)
    if (phaseFilter.exists(_.contains("wcc-refine"))) phase("wcc-refine loop (full DWCC)") {
      val out = DistributedWCC.run(g)
      println(s"[scale-probe] wcc=${out.bestWcc} communities=${out.communityStats.size}")
    }

    // ---- peel loops + deterministic fixpoint family ----------------
    import graft.graph.GraphAlgs

    if (wanted("coreness")) phase("coreness (k-core peel)") {
      val df = GraphAlgs.corenessDF(g)
      df.count()
      df.unpersist(blocking = false)
    }

    if (wanted("k-truss")) phase("k-truss peel (k=4)") {
      val kt = GraphAlgs.ktrussPeel(edges)
      val n = kt.edges.count()
      println(s"[scale-probe] ktruss survivors=$n converged=${kt.converged}")
      kt.scope.close()
    }

    // flagship shape at scale (VERDICT r18 item 6): the exact
    // g_wcc_incremental recipe — bulk = both endpoints below
    // floor(maxVertex * 0.8), IncrementalWCC.prepare on the bulk,
    // then ONE IncrementalWCC.run over the stream region — on the
    // replicated graph. The split is the sf rule applied to the
    // scaled id space, so bulk AND batch both grow with replicas
    // (2x: bulk 1.63M / batch 0.76M; 10x: bulk 9.57M / batch 2.39M):
    // the probe measures whether prepare and the fixed-5 replay stay
    // volume-bound in the merged-graph size. Explicit opt-in
    // (not `wanted`): the bare "wcc" token must not pick this up.
    if (phaseFilter.exists(_.contains("idwcc"))) {
      import org.apache.spark.graphx.Edge
      val maxV = edges.agg(max(greatest(col("src"), col("dst"))))
        .head().getLong(0)
      val split = math.floor(maxV * 0.8)
      val state = phase("idwcc bulk prepare") {
        val bulk = edges
          .where(col("src") < split && col("dst") < split).rdd
          .map(r => Edge(r.getLong(0), r.getLong(1), 1))
        bulk.cache()
        val bulkN = bulk.count()
        // THE flagship's sizing rule, not an inline copy (review
        // r19): honors -Dgraft.graph.parts and cannot desync from
        // the recipe if the constant moves
        val bulkParts = graft.queries.GraphQueries
          .partsFor(bulk.getNumPartitions, bulkN)
        println(s"[scale-probe] idwcc bulk |E|=$bulkN parts=$bulkParts")
        val s = IncrementalWCC.prepareEdges(bulk, bulkParts)
        bulk.unpersist(blocking = false)
        s
      }
      phase("idwcc batch run (fixed-5 replay)") {
        val batch = edges
          .where(col("src") >= split || col("dst") >= split).rdd
          .map(r => Edge(r.getLong(0), r.getLong(1), 1))
        batch.cache()
        println(s"[scale-probe] idwcc batch |E|=${batch.count()}")
        val out = IncrementalWCC.run(state, batch)
        val n = out.graph.vertices.count()
        println(s"[scale-probe] idwcc merged |V|=$n")
        batch.unpersist(blocking = false)
        out.graph.unpersistVertices(blocking = false)
        out.graph.edges.unpersist(blocking = false)
      }
    }

    // g_betweenness shape at scale (VERDICT r19 item 2): the exact
    // bench recipe — sampled-pivot Brandes from 5 deterministic
    // hash-picked roots at the shared 8-hop horizon — on the
    // replicated graph. The
    // closeness/harmonic rows share the 5-root/8-hop multi-source BFS
    // contract, so this slope covers them too. Note the replicated
    // graph is K disjoint copies and the 5 roots land in few
    // replicas, so the REACHED set inside 8 hops is roughly
    // replica-invariant — what grows with K is the full-graph terms
    // (adjacency build; per-hop full-state zipPartitions scans),
    // which is exactly the sub-linear-vs-linear question.
    if (wanted("betweenness")) phase("betweenness (5 roots, 8 hops)") {
      val roots = edges.select(col("src")).distinct()
        .orderBy(md5(col("src").cast("string")), col("src")).limit(5)
        .collect().map(_.getLong(0))
      val (r, scope) = GraphAlgs.sampledBetweennessRDD(g, roots, maxHops = 8)
      println(s"[scale-probe] betweenness rows=${r.count()}")
      scope.close()
    }

    // det/peel sf1 probes on the REPLICATED (hub-free) graph
    // (VERDICT r17 item 5): coreness and k-truss have had tokens
    // since r16; scc and matching complete the family — the question
    // at 10x is whether the rounds x dispatch floor hands over to
    // volume-bound scaling without a partition-sizing cliff.
    if (wanted("scc")) phase("scc det (md5-oriented digraph)") {
      // the g_scc fixture rule on the replicated edges: orient every
      // edge by hash parity, 1/16 reciprocal (same shape as the
      // skew-scc probe, minus the Zipf hub)
      import org.apache.spark.sql.functions.{concat, lit, md5, substring, when}
      val h = edges.withColumn("h", md5(concat(
        col("src").cast("string"), lit("-"), col("dst").cast("string"))))
      val cond = substring(col("h"), 2, 1) < "8"
      val dedges = h.select(
        when(cond, col("src")).otherwise(col("dst")).as("src"),
        when(cond, col("dst")).otherwise(col("src")).as("dst"))
        .unionAll(h.where(substring(col("h"), 3, 1) === "0").select(
          when(cond, col("dst")).otherwise(col("src")).as("src"),
          when(cond, col("src")).otherwise(col("dst")).as("dst")))
        .distinct()
      val df = GraphAlgs.sccDetDF(dedges)
      val a = df.agg(count(lit(1)), max(col("scc_size"))).head()
      println(s"[scale-probe] scc verts=${a.getLong(0)} maxScc=${a.getLong(1)}")
      df.unpersist(blocking = false)
    }

    if (wanted("matching")) phase("greedy matching (edge-luby)") {
      val df = GraphAlgs.matchingDetDF(edges)
      val rounds = df.agg(max(col("match_round"))).head().getLong(0)
      println(s"[scale-probe] matching matched=${df.count()} rounds=$rounds")
      df.unpersist(blocking = false)
    }

    if (wanted("msf")) phase("boruvka msf") {
      // deterministic pseudo-lengths: the probe measures loop cost,
      // not semantics (Boruvka's work is weight-independent)
      val rdd = edges.rdd.map { r =>
        val (u, v) = (r.getLong(0), r.getLong(1))
        (u, v, 1000000000L / (1L + (u + v) % 97L))
      }
      val (m, _, scope) = GraphAlgs.boruvkaMsfRDD(rdd)
      println(s"[scale-probe] msf edges=${m.count()}")
      scope.close()
    }

    if (wanted("hits")) phase("hits_det (8 rounds)") {
      val rdd = edges.rdd.map(r => (r.getLong(0), r.getLong(1)))
      val (h, a, scope) = GraphAlgs.hitsDetRDD(rdd)
      h.count(); a.count(); scope.close()
    }

    val detAll = wanted("det")
    if (detAll || wanted("pagerank") || wanted("eigen") || wanted("label")) {
      val adj = phase("det adjacency arrays") {
        val a = GraphAlgs.adjacencyArrays(edges)
        a.persist(); a.count(); a
      }
      if (detAll || wanted("pagerank"))
        phase("pagerank_det (10 rounds)") {
          val (r, scope) = GraphAlgs.pagerankDetRDD(adj)
          r.count(); scope.close()
        }
      if (detAll || wanted("eigen"))
        phase("eigencentrality_det (12 rounds)") {
          val (r, scope) = GraphAlgs.eigenCentralityDetRDD(adj)
          r.count(); scope.close()
        }
      if (detAll || wanted("label"))
        phase("label_propagation_det (4 rounds)") {
          val (r, scope) = GraphAlgs.labelPropagationDetRDD(adj)
          r.count(); scope.close()
        }
      adj.unpersist(blocking = false)
    }

    // ---- power-law skew probe (VERDICT r8 item 7) ------------------
    // The replicated co-purchase graph is hub-free (max degree ~200),
    // so it cannot expose a skew hotspot. This phase builds a
    // DETERMINISTIC Zipf(s≈1) graph — vertex rank r drawn as
    // N^uniform, so vertex 1's degree is ~|E|·(ln2/lnN), a real hub —
    // at the same |E| as the replicated probe graph, then runs the
    // fixpoint families and reports, alongside wall/heap, the
    // PARTITION-MAX statistics that would grow super-linearly first
    // if a hot key concentrated: max per-vertex degree, max
    // adjacency-partition element count, and the det-fold routing
    // fanout. Run at two replica factors and diff the maxima: linear
    // growth = no hotspot.
    // block gate: any filter token mentioning "skew" (or no filter)
    // enters; the individual loops are then gated by hyphenated
    // tokens (`skew-pagerank`, `skew-cc`, `skew-coreness`,
    // `skew-wcc`, `skew-ktruss`, `skew-idwcc` — the bare token
    // `skew` runs them all), so e.g. filter `skew-coreness` runs
    // ONLY generate + the peel — the slowest skew loop needs its
    // own JVM to fit a bounded wall-clock probe. The light original
    // trio also runs on a NO-filter probe; the heavy sub-phases
    // (wcc seeding, the k-truss peel, the incremental merge) are
    // opt-in only, keeping the default probe's wall-clock bounded.
    def skewSub(tok: String): Boolean =
      phaseFilter.forall(_.exists(f => f == "skew" || f == tok))
    def skewSubOptIn(tok: String): Boolean =
      phaseFilter.exists(_.exists(f => f == "skew" || f == tok))
    if (phaseFilter.forall(_.exists(_.contains("skew")))) {
      val skewEdges = phase("skew generate (zipf s~1)") {
        val m = nBase * replicas
        val n = math.max(1000L, m / 10)
        val e = spark.range(m).select(col("id"))
          .select(
            // deterministic per-row uniforms from a splitmix-style mix
            expr(s"CAST(pow($n, (abs(hash(id * 2 + 0)) % 1000000) / 1e6) AS BIGINT)")
              .as("src"),
            expr(s"CAST(pow($n, (abs(hash(id * 2 + 1)) % 1000000) / 1e6) AS BIGINT)")
              .as("dst"))
          .where(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .distinct().cache()
        val cnt = e.count()
        val hub = EdgeOps.degrees(EdgeOps.symmetrize(e))
          .agg(max(col("degree"))).head().getLong(0)
        println(s"[scale-probe] skew edges=$cnt maxDegree=$hub")
        e
      }
      if (skewSub("skew-pagerank")) {
        val adjStats = phase("skew adjacency arrays") {
          val a = GraphAlgs.adjacencyArrays(skewEdges)
          a.persist(); a.count()
          val partMax = a.mapPartitions(it =>
            Iterator(it.map(_._2.length.toLong).sum)).collect().max
          println(s"[scale-probe] skew adj partition-max elements=$partMax")
          a
        }
        phase("skew pagerank_det (10 rounds)") {
          val (r, scope) = GraphAlgs.pagerankDetRDD(adjStats)
          r.count(); scope.close()
        }
        adjStats.unpersist(blocking = false)
      }
      if (skewSub("skew-cc")) phase("skew cc two-phase") {
        val r = GraphAlgs.connectedComponentsTwoPhase(skewEdges)
        println(s"[scale-probe] skew cc converged=${r.converged} rounds=${r.rounds}")
        r.scope.close()
      }
      if (skewSubOptIn("skew-betweenness")) {
        // Brandes on a hub graph: forward messages are k longs per
        // frontier edge, backward messages k tuples per incident
        // edge of the active depth layer — both Σdeg-linear; the
        // hazard probed here is the hub RECEIVER's groupByKey buffer
        // in the backward walk (deg(hub) x k tuples in one task)
        val bg = phase("skew betweenness graph") {
          val g = EdgeOps.toGraph(skewEdges); g.cache(); g.numVertices; g
        }
        phase("skew betweenness (5 roots, 8 hops)") {
          val roots = skewEdges.select(col("src")).distinct()
            .orderBy(md5(col("src").cast("string")), col("src")).limit(5)
            .collect().map(_.getLong(0))
          val (r, scope) = GraphAlgs.sampledBetweennessRDD(bg, roots, maxHops = 8)
          println(s"[scale-probe] skew betweenness rows=${r.count()}")
          scope.close()
        }
        bg.unpersist(blocking = false)
      }
      if (skewSubOptIn("skew-wcc")) {
        // the flagship's heavy phases on a hub graph: the triangle
        // support kernel (galloping intersections on the vertex
        // blocks) and the clustering-coefficient seeding supersteps
        // (the refinement loop only sees the triangle-PRUNED graph,
        // whose hubs survive only to the extent they close triangles)
        val sg = phase("skew graph build") {
          val sg = EdgeOps.toGraph(skewEdges); sg.cache(); sg.numVertices; sg
        }
        // intrinsic triangle workload of THIS corpus: the classic
        // oriented-enumeration bound Σ min(deg_u, deg_v) plus the
        // output term 3T — on a Zipf graph BOTH grow super-linearly
        // in |E| as the hub deepens, so the phase verdict compares
        // time growth against work growth, not against |E| growth
        val workBound = {
          val degs = skewEdges
            .select(explode(array(col("src"), col("dst"))).as("v"))
            .groupBy("v").agg(count(lit(1)).as("deg"))
          skewEdges
            .join(degs.select(col("v").as("src"), col("deg").as("ds")), "src")
            .join(degs.select(col("v").as("dst"), col("deg").as("dd")), "dst")
            .agg(sum(least(col("ds"), col("dd")))).head().getLong(0)
        }
        val tri = phase("skew triangle stats + prune") {
          val t = TriangleStats.run(sg)
          println(s"[scale-probe] skew pruned |V|=${t.pruned.numVertices} |E|=${t.pruned.numEdges}")
          t
        }
        val triIncidences = tri.fullStats.map(_._2._1.toLong).sum()
        println(f"[scale-probe] skew tri work: sum-min-deg=$workBound%d 3T=${triIncidences.toLong}%d")
        phase("skew initial partition Pregel") {
          val i = InitialPartition.run(tri.pruned)
          i.cache(); i.vertices.count()
          i.unpersistVertices(blocking = false)
          i.edges.unpersist(blocking = false)
        }
        sg.unpersistVertices(blocking = false)
        sg.edges.unpersist(blocking = false)
      }
      if (skewSubOptIn("skew-idwcc"))
        // hub-ARRIVAL micro-batch: the bulk state is the Zipf graph,
        // and the batch connects ONE brand-new vertex to B existing
        // vertices — every batch edge touches the new hub, so the
        // merge's delta triangle recount intersects the hub's
        // B-long post-merge neighborhood against every batch
        // neighbor: Σ(deg_i + B) = O(B²) comparisons is the term
        // that grows first. B scales with |E| so the 2x/10x diff
        // exposes the growth exponent.
        phase("skew idwcc hub-arrival merge") {
          import org.apache.spark.graphx.Edge
          val maxV = skewEdges
            .agg(max(greatest(col("src"), col("dst")))).head().getLong(0)
          val b = math.max(5000L, nBase * replicas / 40L)
          val hubId = maxV + 1
          println(s"[scale-probe] idwcc hub batch: B=$b hub=$hubId")
          val bulkRdd = skewEdges.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
          val state = IncrementalWCC.prepareEdges(bulkRdd, bulkRdd.getNumPartitions)
          val batch = spark.sparkContext.range(1L, b + 1)
            .map(i => Edge(i, hubId, 1))
          val out = IncrementalWCC.run(state, batch)
          val n = out.graph.vertices.count()
          println(s"[scale-probe] idwcc merged |V|=$n")
          out.graph.unpersistVertices(blocking = false)
          out.graph.edges.unpersist(blocking = false)
        }
      if (skewSubOptIn("skew-ktruss"))
        phase("skew k-truss peel (k=4)") {
          import org.apache.spark.sql.functions.{col, least, greatest}
          val canon = skewEdges.select(
            least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst")).distinct()
          val kt = GraphAlgs.ktrussPeel(canon)
          val n = kt.edges.count()
          println(s"[scale-probe] skew ktruss survivors=$n converged=${kt.converged}")
          kt.scope.close()
        }
      if (skewSubOptIn("skew-mis")) {
        // the two priority-schedule loops on a hub graph. The hub is
        // almost never locally minimal, so it is knocked out (MIS) or
        // waits (coloring) — the probed hazard is the hub RECEIVER of
        // the per-round min-priority reduceByKey (deg(hub) messages,
        // but map-side combined) and, for coloring, the hub's
        // accumulated used-color array (bounded by deg(hub) longs).
        phase("skew luby mis") {
          val df = GraphAlgs.misDetDF(skewEdges, maxIter = 120)
          val rounds = df.agg(max(col("mis_round"))).head().getLong(0)
          println(s"[scale-probe] skew mis members=${df.count()} rounds=$rounds")
          df.unpersist(blocking = false)
        }
        phase("skew jp coloring (hub-star + sparse tail)") {
          // the raw Zipf graph's top vertices form a near-clique
          // core, and JP's parallel depth on a clique is its SIZE —
          // a data property, which is exactly why g_coloring
          // registers on the sparse backbone. The coloring hazard
          // worth probing at scale is the HUB itself (per-round
          // min-priority reduce at deg(hub); the hub's accumulated
          // used-color array), so the fixture is hub-star + sparse
          // tail: top-100 hubs keep all their LEAF edges (hub
          // degree still ~10k and |E|-linear), the sparse
          // leaf-leaf tail survives, and the mid-core — whose
          // log-uniform density would push the greedy schedule's
          // depth into the hundreds — is dropped.
          val coreFree = skewEdges
            .where((least(col("src"), col("dst")) <= 100 &&
                greatest(col("src"), col("dst")) > 20000) ||
              least(col("src"), col("dst")) > 20000).cache()
          val hub = EdgeOps.degrees(EdgeOps.symmetrize(coreFree))
            .agg(max(col("degree"))).head().getLong(0)
          val df = GraphAlgs.colorDetDF(coreFree, maxIter = 400)
          val a = df.agg(max(col("jp_round")), max(col("color"))).head()
          println(s"[scale-probe] skew coloring edges=${coreFree.count()} maxDeg=$hub rounds=${a.getLong(0)} colors=${a.getLong(1)}")
          df.unpersist(blocking = false)
          // the MIS-driven schedule on the IDENTICAL fixture: fresh
          // per-round priorities re-draw the race, so the depth is
          // expected O(log n) where JP's fixed order pays the longest
          // decreasing chain (the 96->217 growth row in PERF.md)
          val dfMis = GraphAlgs.coloringMisDF(coreFree, maxIter = 400)
          val b = dfMis.agg(max(col("mis_round")), max(col("color"))).head()
          println(s"[scale-probe] skew coloring-mis edges=${coreFree.count()} maxDeg=$hub rounds=${b.getLong(0)} colors=${b.getLong(1)}")
          dfMis.unpersist(blocking = false)
          // trial-color on the identical fixture: constant per-round
          // commit probability at any degree — the O(log n) depth
          val dfTrial = GraphAlgs.coloringTrialDF(coreFree, maxIter = 400)
          val c = dfTrial.agg(max(col("trial_round")), max(col("color"))).head()
          println(s"[scale-probe] skew coloring-trial edges=${coreFree.count()} maxDeg=$hub rounds=${c.getLong(0)} colors=${c.getLong(1)}")
          dfTrial.unpersist(blocking = false)
          coreFree.unpersist(blocking = false)
        }
        phase("skew greedy matching") {
          // edge-Luby handles the dense core fine (geometric decay),
          // so the matching runs on the RAW Zipf graph, hub included
          val df = GraphAlgs.matchingDetDF(skewEdges)
          val rounds = df.agg(max(col("match_round"))).head().getLong(0)
          println(s"[scale-probe] skew matching matched=${df.count()} rounds=$rounds")
          df.unpersist(blocking = false)
        }
      }
      if (skewSubOptIn("skew-scc"))
        phase("skew scc (md5-oriented digraph)") {
          // the g_scc fixture rule at Zipf scale WITHOUT the 1/16
          // sparsifier (that exists only for the oracle's closure):
          // orient every edge by hash parity, 1/16 reciprocal. The
          // probed hazards are the hub as min-reduce receiver in
          // both directions and the per-outer-round edge restriction.
          import org.apache.spark.sql.functions.{concat, lit, md5, substring, when}
          val h = skewEdges.withColumn("h", md5(concat(
            col("src").cast("string"), lit("-"), col("dst").cast("string"))))
          val cond = substring(col("h"), 2, 1) < "8"
          val dedges = h.select(
            when(cond, col("src")).otherwise(col("dst")).as("src"),
            when(cond, col("dst")).otherwise(col("src")).as("dst"))
            .unionAll(h.where(substring(col("h"), 3, 1) === "0").select(
              when(cond, col("dst")).otherwise(col("src")).as("src"),
              when(cond, col("src")).otherwise(col("dst")).as("dst")))
            .distinct()
          val df = GraphAlgs.sccDetDF(dedges)
          val a = df.agg(count(lit(1)), max(col("scc_size"))).head()
          println(s"[scale-probe] skew scc verts=${a.getLong(0)} maxScc=${a.getLong(1)}")
          df.unpersist(blocking = false)
        }
      if (skewSub("skew-coreness"))
        phase("skew coreness (k-core peel)") {
          val sg = EdgeOps.toGraph(skewEdges); sg.cache(); sg.numVertices
          val df = GraphAlgs.corenessDF(sg)
          df.count()
          df.unpersist(blocking = false)
          sg.unpersistVertices(blocking = false)
          sg.edges.unpersist(blocking = false)
        }
      skewEdges.unpersist(blocking = false)
    }

    // duplicate-heavy corpus probe: N synthetic docs of which 20%
    // are ONE identical boilerplate text (the hot LSH bucket every
    // web corpus has). The star-reduced clustering path must stay
    // linear; the pair clique would need (N/5)²/2 rows for the hot
    // block alone (~8x10^8 at N=200k — not runnable, which is the
    // point).
    if (phaseFilter.exists(_.exists(_ == "dedup-hot"))) {
      import graft.ops.Dedup
      val nDocs = (nBase * replicas / 60L).max(10000L)
      val docs = phase(s"dedup-hot generate ($nDocs docs)") {
        val d = spark.range(nDocs).select(col("id").as("doc_id"),
          when(col("id") % 5 === 0,
            lit("the same boilerplate navigation header text repeated on every page of the site"))
            .otherwise(concat(lit("unique document body "),
              col("id"), lit(" with words "),
              expr("concat_ws(' ', transform(sequence(1, 12), i -> concat('w', (id * 31 + i) % 99991)))")))
            .as("text")).cache()
        d.count(); d
      }
      phase("dedup-hot star clustering") {
        val bands = Dedup.lshBandsFromSignatures(Dedup.minhashSignatures(docs))
        val edges = Dedup.lshClusterEdges(bands)
        val nE = edges.count()
        val cl = Dedup.clusters(edges)
        val nClusters = cl.select("cluster_id").distinct().count()
        println(s"[scale-probe] dedup-hot starEdges=$nE clusters=$nClusters (hot block=${nDocs / 5})")
      }
      docs.unpersist(blocking = false)
    }

    // IVF with ONE HOT CELL: 20% of vectors are near-identical, so
    // k-means collapses them into a single cell. The cell-partitioned
    // search joins every hot-cell query against every hot-cell
    // member: (0.2N/queryMod) * 0.2N scored rows — the quadratic
    // term a skewed corpus exposes that uniform sf embeddings never
    // do. 2x/10x diff shows the growth exponent of the scored-row
    // count and wall.
    if (phaseFilter.exists(_.exists(t => t == "ivf-hot" || t == "pq"))) {
      import graft.ops.Similarity
      val nVec = (nBase * replicas / 16L).max(20000L)
      val dims = 16
      val embs = phase(s"ivf-hot generate ($nVec vecs)") {
        val e = spark.range(nVec).select(
          col("id").as("vec_id"),
          (col("id") % 7).cast("int").as("label"),
          when(col("id") % 5 === 0,
            // the hot block: one point + per-vector 1e-3 jitter on
            // dim 0 (keeps vectors distinct but co-celled)
            expr(s"transform(sequence(1, $dims), j -> CAST(" +
              "CASE WHEN j = 1 THEN 10.0 + (id % 97) / 97000.0 ELSE 5.0 END" +
              " AS FLOAT))"))
            .otherwise(
              expr(s"transform(sequence(1, $dims), j -> CAST(" +
                "sin(CAST(id * 31 + j * 7 AS DOUBLE)) AS FLOAT))"))
            .as("embedding")).cache()
        e.count(); e
      }
      // the hot-label twin corpus: 20% of vectors forced into ONE
      // label cell — the hazard fixture for both the persisted index
      // build and the IVF-PQ cell probe
      def hotLabelled = embs.withColumn("label",
        when(col("vec_id") % 5 === 0, lit(0))
          .otherwise((col("vec_id") % 7).cast("int")))
      if (phaseFilter.exists(_.exists(_ == "ivf-hot"))) {
        // capped first (the scale path — bounded fanout, runs at any
        // replica factor), then uncapped (the exponent measurement —
        // only run it at <= 2x: 10x uncapped is the demonstrated
        // multi-hour quadratic blowup)
        phase("ivf-hot kmeans top-k capped") {
          val out = Similarity.ivfKmeansTopK(embs, k = 5, queryMod = 10,
            cells = 8, cellCap = 1024)
          println(s"[scale-probe] ivf-hot capped result rows=${out.count()}")
        }
        if (replicas <= 2) phase("ivf-hot kmeans top-k uncapped") {
          val out = Similarity.ivfKmeansTopK(embs, k = 5, queryMod = 10, cells = 8)
          println(s"[scale-probe] ivf-hot uncapped result rows=${out.count()}")
        }
        // the persisted-index twin of the same hazard: an uncapped
        // build would persist a quadratic hot cell. The build-time
        // cap truncates it on write; search fanout is then
        // O(queries x cellCap) by construction — the 2x/10x diff
        // shows the growth exponent of build + search together.
        phase("ivf-hot persisted capped index") {
          val dir = java.nio.file.Files
            .createTempDirectory("graft-ivfidx-probe").toString
          Similarity.ivfIndexBuild(hotLabelled, dir, cellCap = 1024)
          val out = Similarity.ivfIndexSearch(spark, dir,
            Similarity.ivfQuerySide(hotLabelled, queryMod = 10))
          println(s"[scale-probe] ivf-hot persisted rows=${out.count()}")
        }
      }
      // PQ probed on arrival: blocked-fold codebook training (ids
      // exceed 65536 at every replica factor, so the multi-block
      // path is exercised), map-side encode over the whole corpus,
      // then ADC and composed IVF-PQ with the contract-capped query
      // side (the uncapped modulo sample is brute-force-shaped by
      // design — the registered rows cap at 640 and so does the
      // probe). The hot label cell bounds ivfpq's fanout at
      // O(|queries| x cell x m); adc scores all n at m lookups each.
      if (phaseFilter.exists(_.exists(_ == "pq"))) {
        val cb = phase("pq codebook train (blocked fold)") {
          Similarity.pqTrainCodebook(embs)
        }
        phase("pq encode (map-side)") {
          val n = Similarity.pqEncode(embs, cb).count()
          println(s"[scale-probe] pq encoded rows=$n")
        }
        phase("pq adc + ivfpq search (query cap 640)") {
          val a = Similarity.pqAdcTopK(embs, cb, maxQueryId = 640L).count()
          val b = Similarity.ivfPqTopK(hotLabelled, cb, maxQueryId = 640L).count()
          println(s"[scale-probe] pq adc rows=$a ivfpq rows=$b")
        }
      }
      embs.unpersist(blocking = false)
    }

    // Streaming dedup with a HOT KEY: 20% of events carry ONE
    // (user_id, event_type) pair, so every duplicate hashes to the
    // same state-store partition — the state stays O(distinct keys)
    // but one task absorbs the hot key's whole arrival volume. The
    // probe measures the drain wall at 2x/10x volume.
    if (phaseFilter.exists(_.exists(_ == "stream-dedup"))) {
      val nEv = (nBase * replicas).max(100000L)
      val dir = java.nio.file.Files.createTempDirectory("graft-sdprobe").toString
      phase(s"stream-dedup generate ($nEv events)") {
        spark.range(nEv).select(
          expr("timestamp_micros(CAST(1700000000000000 + id * 1000 AS BIGINT))").as("ts"),
          when(col("id") % 5 === 0, lit(42L))
            .otherwise(col("id") % 65536).as("user_id"),
          when(col("id") % 5 === 0, lit("hot"))
            .otherwise(concat(lit("t"), (col("id") % 13).cast("string")))
            .as("event_type"))
          .coalesce(8).write.mode("overwrite").parquet(dir)
      }
      phase("stream-dedup drain") {
        import org.apache.spark.sql.streaming.Trigger
        val schema = spark.read.parquet(dir).schema
        val src = spark.readStream.schema(schema).parquet(dir)
          .withWatermark("ts", "1 hour")
          .dropDuplicates("user_id", "event_type")
        val q = src.writeStream
          .outputMode("append").format("memory")
          .queryName("sdprobe").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        println(s"[scale-probe] stream-dedup distinct=${spark.table("sdprobe").count()}")
      }
    }

    // Streaming state-store sizing growth table (VERDICT r17 item 4):
    // the r17 fix narrowed the bounded drains to 8 store partitions
    // because their state is tiny; this probe measures WHERE that
    // stops being true. Fixed event volume (nBase x replicas), swept
    // key cardinality (= state volume) x store width, 8 micro-batches
    // each (maxFilesPerTrigger=1), so every cell pays 8 open/commit
    // cycles per store instance — the constant the narrowing
    // amortizes — plus the per-store share of state maintenance that
    // widening amortizes. The crossover feeds
    // StreamOps.statePartitionsFor's documented rule.
    if (phaseFilter.exists(_.exists(_ == "stream-state"))) {
      import org.apache.spark.sql.streaming.Trigger
      // provider dimension (VERDICT r18 item 3): the r18 growth table
      // ran on the heap provider; SPARK_GRAFT_SS_PROVIDER=rocksdb
      // re-runs the same cells under RocksDB (native memtables + SST
      // compaction move the per-store open/commit constant the
      // statePartitionsFor rule amortizes)
      val rocks = sys.env.get("SPARK_GRAFT_SS_PROVIDER").contains("rocksdb")
      val provTag = if (rocks) " rocksdb" else ""
      val nEv = (nBase * replicas).max(100000L)
      for (keys <- Seq(nEv / 1000, nEv / 10, nEv).map(_.max(8L)).distinct) {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-ssprobe-$keys").toString
        try {
        phase(s"stream-state gen keys=$keys") {
          spark.range(nEv).select(
            expr("timestamp_micros(CAST(1700000000000000 + id * 1000 AS BIGINT))").as("ts"),
            (col("id") % keys).as("k"),
            (col("id") % 97).cast("double").as("v"))
            .repartition(8).write.mode("overwrite").parquet(dir)
        }
        for (parts <- Seq(8, 32)) {
          phase(s"stream-state drain keys=$keys parts=$parts$provTag") {
            val key = "spark.sql.shuffle.partitions"
            val provKey = "spark.sql.streaming.stateStore.providerClass"
            val prev = spark.conf.get(key)
            val prevProv = spark.conf.getOption(provKey)
            spark.conf.set(key, parts.toString)
            if (rocks) spark.conf.set(provKey,
              "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
            try {
              val schema = spark.read.parquet(dir).schema
              val src = spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(dir)
                .withWatermark("ts", "1 hour")
                .groupBy(window(col("ts"), "1 minute"), col("k"))
                .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
              val name = s"ssprobe_${keys}_$parts"
              val q = src.writeStream.outputMode("append")
                .format("memory").queryName(name)
                .trigger(Trigger.AvailableNow()).start()
              q.awaitTermination()
              println(s"[scale-probe] stream-state keys=$keys parts=$parts " +
                s"rows=${spark.table(name).count()} batches=${q.recentProgress.length}")
              spark.catalog.dropTempView(name)
            } finally {
              spark.conf.set(key, prev)
              if (rocks) prevProv match {
                case Some(p) => spark.conf.set(provKey, p)
                case None => spark.conf.unset(provKey)
              }
            }
          }
        }
        // best-effort temp cleanup (probe tool; tree is a few MB) —
        // in a finally so a failed gen/drain cell does not strand the
        // tree, with the walk stream closed (review r18)
        } finally {
          try {
            import scala.jdk.CollectionConverters._
            val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
            val paths = try walk.iterator().asScala.toSeq finally walk.close()
            paths.reverse.foreach(p =>
              try java.nio.file.Files.deleteIfExists(p)
              catch { case _: java.io.IOException => () })
          } catch {
            case _: java.io.IOException | _: java.io.UncheckedIOException => ()
          }
        }
      }
    }

    if (wanted("floatdet")) {
      // the sender-sorted deterministic float folds (detFoldCtx /
      // detFoldRound): per round each sender ships ONE value per
      // receiver partition (≤ min(deg, P) copies) and receivers
      // fold over pre-sorted in-adjacency arrays — this is the
      // phase that would regress first if the routed fold stopped
      // scaling
      phase("pagerank float-det (10 rounds)") {
        val (r, scope) = GraphAlgs.pagerankFloatRDD(g)
        r.count(); scope.close()
      }
      phase("eigencentrality float-det (20)") {
        val eg = GraphAlgs.eigenCentrality(g)
        eg.vertices.count()
        eg.unpersistVertices(blocking = false)
        eg.edges.unpersist(blocking = false)
      }
    }
    spark.stop()
  }
}
