package graft.queries

import graft.SparkSpec

/** Pins the DATA-DEPENDENT premise the flagship WCC oracles stand on.
 *
 * `g_wcc_partition` / `g_wcc_partition_wcc_check` replay only the
 * SEEDING fixpoint in SQL (`seedReplayCte`) — they are exact oracles
 * because, on the driver's gate corpus (sf0.01), the refinement loop
 * REJECTS every movement, so the flagship partition coincides with
 * the seeding graft (documented at `WccQueries.scala` on
 * `wccCheckValue` / `wccValueReplayCtes`). That premise is a property
 * of the fixture, not the code: an sf0.001 sweep (round 16) showed
 * refinement DOES accept movements there, and the same oracles
 * mismatch by design out-of-gate.
 *
 * If a future testdata regeneration ever breaks the premise at
 * sf0.01, the driver's correctness gate would fail with an opaque
 * hash mismatch. This spec fails FIRST, with the diagnosis: either
 * regenerate the fixture, or graduate the flagship oracle to a full
 * acceptance-loop replay (the incremental rows' `moveIterCte` shows
 * the movement-iteration SQL shape; the flagship additionally needs
 * the acceptance test between iterations).
 */
class OraclePremiseSpec extends SparkSpec {

  test("sf0.01 gate premise: refinement rejects every movement — flagship == seeding graft") {
    val sf = "/root/testdata/sf0.01"
    val flagship = WccQueries.wccPartition(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val seeding = WccQueries.wccInitialPartition(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the seeding surface covers exactly the pruned triangle core;
    // the flagship grafts it onto the full vertex set with pruned
    // vertices as self-labeled singletons
    val coreDiff = seeding.collect {
      case (v, c) if flagship.get(v) != Some(c) => (v, c, flagship.get(v))
    }
    assert(coreDiff.isEmpty,
      s"ORACLE PREMISE BROKEN: the sf0.01 refinement accepted movements " +
        s"(${coreDiff.size} core labels differ from the seeding graft, " +
        s"e.g. ${coreDiff.take(3).mkString(", ")}). The g_wcc_partition " +
        "oracles replay only the seeding fixpoint and are no longer exact " +
        "on this fixture — see OraclePremiseSpec scaladoc for the options.")
    val offCore = flagship.view.filterKeys(v => !seeding.contains(v))
    val badSingletons = offCore.collect { case (v, c) if c != v => (v, c) }.toSeq
    assert(badSingletons.isEmpty,
      s"pruned vertices must be self-labeled singletons; got ${badSingletons.take(3)}")
  }
}
