package graft.queries

import graft.SparkSpec

/**
 * Pins the shared-prepare memo contract for the WCC-incremental
 * family (VERDICT r19 item 5): `WccQueries.idwccShared` must key
 * its memoized bulk-prepare on INPUT IDENTITY — (session, sfDir) —
 * so that `g_wcc_incremental`, `_multibatch`, `_delta` and
 * `s_wcc_incremental` all fold from ONE `IncrementalWCC.prepare`
 * per bench session, while a different input directory can never be
 * served a stale state graph.
 */
class SessionMemoIdentitySpec extends SparkSpec {

  test("idwccShared returns the identical prepared state on repeat calls (same session + sfDir)") {
    val dir = "/root/testdata/sf0.001"
    val (s1, e1) = WccQueries.idwccShared(spark, dir)
    val (s2, e2) = WccQueries.idwccShared(spark, dir)
    // reference identity, not value equality: a second prepare would
    // produce an equal-but-distinct graph and silently double the
    // bench family's cost
    assert(s1.asInstanceOf[AnyRef] eq s2.asInstanceOf[AnyRef],
      "idwccShared re-ran IncrementalWCC.prepare for the same (session, sfDir)")
    assert(e1 eq e2,
      "idwccShared rebuilt the stream-region edge set for the same (session, sfDir)")
  }

  test("SessionMemo keys are input-scoped: distinct keys never alias") {
    // the memo discipline the family relies on: two different keys
    // (e.g. two sfDirs) must produce independent entries, and a key
    // must not observe another key's value
    var built = 0
    def build(): String = { built += 1; s"artifact-$built" }
    val a1 = SessionMemo.memoize(spark, "memo-id-spec:dirA")(build())
    val b1 = SessionMemo.memoize(spark, "memo-id-spec:dirB")(build())
    val a2 = SessionMemo.memoize(spark, "memo-id-spec:dirA")(build())
    assert(built == 2, "memoize re-ran the builder for an existing key")
    assert(a1 == a2)
    assert(a1 != b1, "distinct memo keys aliased to one artifact")
  }
}
