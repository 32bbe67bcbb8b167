package graft

import graft.queries.{QueryRegistry, QuerySpec}

/** Guard for the driver's smoke check: entry() must return rows. */
class EntrySpec extends SparkSpec {
  test("entry returns >0 rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet -- qs
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("rows-only queries are exactly the documented non-SQL-expressible set") {
    // Driver-loop phases whose per-vertex fixpoints the oracle
    // cannot express — everything else MUST carry a DuckDB oracle
    // (sketch/index queries carry self-certifying contracts).
    // Graduation history: g_sssp_weighted via unrolled Bellman-Ford
    // rounds; g_pagerank / g_eigencentrality via sender-sorted
    // deterministic float folds; g_label_propagation via unrolled
    // integer argmax rounds; g_wcc_initial_partition and
    // g_wcc_partition (round 9) via the exact seeding-fixpoint
    // replay (seedReplayCte — the refinement accepts zero movement
    // iterations at the gate's sf0.01, measured 20% rejection
    // margin, so the flagship output IS the seeding partition
    // grafted back); g_wcc_incremental (round 9) via the full
    // micro-batch driver replay (incrReplayCte: bulk seeding, quirky
    // delta-stat merge, deterministic blocked-fold globalCC, re-seed,
    // five unrolled movement iterations with the JVM's exact float
    // arithmetic). Every registered query now carries an exact
    // DuckDB oracle.
    val rowsOnly = Set.empty[String]
    val actual = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(actual === rowsOnly,
      s"unexpected rows-only queries (add an oracle or document here): " +
        s"${actual -- rowsOnly}; stale entries: ${rowsOnly -- actual}")
  }

  test("every query name carries its domain module's prefix") {
    // a name belongs to the domain with its longest matching prefix,
    // so a g_wcc_ row filed under the graph module is misplaced too
    val prefixes = QueryRegistry.domains.map(_._1)
    for ((prefix, specs) <- QueryRegistry.domains; spec <- specs) {
      val owner = prefixes.filter(spec.name.startsWith).maxByOption(_.length)
      assert(owner.contains(prefix), s"${spec.name} is registered under $prefix")
    }
  }

  test("a name registered twice fails the registry") {
    val spec = QuerySpec("r_twice", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](QueryRegistry.build(Seq(spec, spec)))
    assert(e.getMessage.contains("r_twice"))
    assert(QueryRegistry.build(Seq(spec)).keySet === Set("r_twice"))
  }
}
