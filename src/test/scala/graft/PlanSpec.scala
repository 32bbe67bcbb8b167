package graft

/** Physical-plan pins under `sbt test` (sf0.001, seconds): the plan
 * properties the engine is designed around must not silently rot.
 * Each check finalizes the AQE plan with an action before inspecting
 * it. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.count()
    df.queryExecution.executedPlan.toString
  }

  test("parquet scan pushes filters and prunes columns") {
    val p = plan("r_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"))
    assert(p.contains("ReadSchema") && !p.contains("l_returnflag"))
  }

  test("dimension joins broadcast") {
    assert(plan("r_join_agg").contains("BroadcastHashJoin"))
  }

  test("near-dup candidates come from the LSH band equi-join, not a product") {
    val p = plan("p_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.toLowerCase.contains("dotproduct"))
  }

  test("ann ground truth broadcasts the capped query side with partial top-k") {
    val p = plan("p_ann_bruteforce")
    assert(p.toLowerCase.contains("dotproduct"))
    assert(p.contains("BroadcastNestedLoopJoin")) // capped query side IS the broadcast
    assert(p.contains("WindowGroupLimit"))
  }

  test("star join broadcasts all dimensions, never shuffles the fact side") {
    val p = plan("r_star_join")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("sampling top-k plans as TakeOrderedAndProject, never a global sort") {
    // per-partition top-k + k-sized driver merge: the shape that
    // keeps a corpus-wide sample scan parallel at any size
    for (name <- Seq("p_weighted_sample", "p_epoch_shuffle")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"),
        s"$name: expected per-partition top-k, got:\n${p.take(2000)}")
    }
  }

  test("jaccard uses the native merge-scan intersection, no cross product") {
    val p = plan("g_neighbor_jaccard")
    assert(p.toLowerCase.contains("sortedintersectcount"))
    assert(!p.contains("CartesianProduct"))
  }

  test("bm25 broadcasts the query terms and group-limits the top-k") {
    val p = plan("p_bm25_topk")
    // the 6-term query list joins the postings as a broadcast, never
    // a shuffle of tf on the query side; per-query top-k pushes below
    // the window's final shuffle
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("CartesianProduct"))
  }

  test("ngram top-k pushes a window group limit below the shuffle") {
    assert(plan("p_ngram_freq").contains("WindowGroupLimit"))
  }

  test("gap-fill grid join broadcasts") {
    assert(plan("r_gap_fill").contains("BroadcastHashJoin"))
  }

  test("zipf top-500 is a partial top-k, never a global sort") {
    assert(plan("p_zipf_slope").contains("TakeOrderedAndProject"))
  }

  test("listagg region dimension join broadcasts") {
    assert(plan("r_listagg").contains("BroadcastHashJoin"))
  }

  test("lateral join decorrelates to a partial window group limit and a broadcast rejoin") {
    val p = plan("r_lateral_join")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }
}
