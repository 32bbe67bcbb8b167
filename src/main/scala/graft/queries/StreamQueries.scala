package graft.queries

import graft.streaming.StreamOps

/**
 * The Structured Streaming rows. Each drains a bounded source
 * (AvailableNow or forced micro-batches) through [[StreamOps]], so
 * its final table equals a batch query, and the oracle is that batch
 * query's SQL. Twins of batch rows share the batch row's oracle value.
 */
object StreamQueries {

  /** Closed-window (watermark-evicted) hourly aggregate — shared by
   * the append-mode memory sink and the FileStreamSink round trip,
   * which emit the identical row set. */
  private val ClosedWindowOracle: String =
    """WITH b AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour, event_type,
      |  count(*) AS n, floor(sum(value) * 1e4 + 0.5) / 1e4 AS sum_value
      |  FROM events GROUP BY 1, 2),
      |wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 3600000000 AS w FROM events)
      |SELECT hour, event_type, n, sum_value FROM b, wm
      |WHERE epoch_us(hour) + 3600000000 <= w""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the streaming query drains the bounded source completely, so
    // its final table equals the batch aggregation
    QuerySpec("s_stream_hourly", StreamOps.hourlyEventCounts, RelationalQueries.EventsHourlyOracle),
    // the RocksDB provider changes only where state lives — same
    // drained table, same oracle
    QuerySpec("s_stream_hourly_rocksdb", StreamOps.hourlyEventCountsRocksDB,
      RelationalQueries.EventsHourlyOracle),
    // append mode emits exactly the windows whose end the final
    // watermark (max event time - 1h, ms-truncated) has passed
    QuerySpec("s_stream_hourly_append", StreamOps.hourlyEventCountsAppend, ClosedWindowOracle),
    // the exactly-once FileStreamSink commits the same closed
    // windows append mode emits — ONE shared definition, so a
    // contract tweak can never leave the twins checking
    // different SQL
    QuerySpec("s_stream_file_sink", StreamOps.fileSinkRoundtrip, ClosedWindowOracle),
    // the Structured Streaming IDWCC twin drains the stream-region
    // edges as one AvailableNow micro-batch folded through
    // IncrementalWCC.run — the same single-batch replay the batch
    // twin runs, so ONE shared oracle CTE predicts both
    QuerySpec("s_wcc_incremental", StreamOps.incrementalWccStream, WccQueries.IncrementalOracle),
    // each query vector arrives in exactly one micro-batch and is
    // scored against the STATIC persisted index, so the drained
    // union equals the batch cell-probe — one shared oracle
    QuerySpec("s_stream_ann", StreamOps.annRetrieveStream, PipelineQueries.AnnIvfOracle),
    // online semantic dedup-on-ingest: arrivals staged in ascending
    // id order, each checked against static pool + every seen
    // arrival — the drained output equals one batch pass over
    // corpus + arrivals (see StreamOps.semDedupStream)
    QuerySpec("s_stream_semdedup", StreamOps.semDedupStream, PipelineQueries.SemDedupStreamOracle),
    // within-watermark dedup over a drained bounded stream = batch
    // distinct per (user, type), counted per user
    QuerySpec("s_stream_dedup_ww", StreamOps.streamingDedupWithinWatermark,
      """SELECT user_id, count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id""".stripMargin),
    // watermarked keep-first dedup over a drained bounded stream =
    // batch distinct per key
    QuerySpec("s_stream_dedup", StreamOps.streamingDedup,
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin),
    // count/max fold across forced micro-batches = the batch
    // aggregate (both folds are batching-insensitive)
    QuerySpec("s_stream_multibatch_topk", (s, d) => StreamOps.multiBatchTopUsers(s, d),
      """SELECT user_id, count(*) AS n_events,
        |  floor(max(value) * 1e4 + 0.5) / 1e4 AS max_value
        |FROM events GROUP BY user_id
        |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin),
    // drained watermarked stream-stream join = the batch range join
    QuerySpec("s_stream_join", StreamOps.streamStreamJoin,
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM events p JOIN events v
        |  ON p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.user_id = p.user_id
        |  AND v.ts <= p.ts
        |  AND v.ts >= p.ts - INTERVAL 1 HOUR""".stripMargin),
    // native session_window in append mode emits exactly the
    // sessions whose end (last event + 30min gap) the final
    // watermark (ms-truncated max event time - 1h) has passed
    QuerySpec("s_stream_session_window", StreamOps.sessionWindowStream,
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, us, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 3600000000 AS w FROM events),
        |sess AS (
        |  SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |    count(*) AS n_events, floor(sum(value) * 1e4 + 0.5) / 1e4 AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n_events, sum_value
        |FROM sess, wm WHERE end_us <= wm.w""".stripMargin),
    // checkpoint-recovered restart: upserted update-mode emissions
    // across two query runs sharing one checkpoint = batch aggregate
    QuerySpec("s_stream_ckpt_resume", StreamOps.checkpointedResume,
      """SELECT event_type, count(*) AS n,
        |  floor(sum(value) * 1e4 + 0.5) / 1e4 AS sum_value
        |FROM events GROUP BY event_type""".stripMargin),
    // observed metrics of the single-batch drain = the whole table
    QuerySpec("s_stream_observe", StreamOps.streamObserve,
      """SELECT count(*) AS n_rows,
        |  floor(sum(value) * 1e4 + 0.5) / 1e4 AS sum_value,
        |  CAST(count_if(value > 250.0) AS BIGINT) AS n_big
        |FROM events""".stripMargin),
    // the checkpointed aggregation state re-read through the Spark 4
    // state data source = the batch per-user aggregate (count/max
    // are batching-insensitive)
    QuerySpec("s_state_reader", StreamOps.stateStoreReader,
      """SELECT user_id, count(*) AS n_events,
        |  floor(max(value) * 1e4 + 0.5) / 1e4 AS max_value
        |FROM events GROUP BY user_id""".stripMargin),
    // same state, written under the RocksDB provider and re-read
    // through the same state data source
    QuerySpec("s_state_reader_rocksdb", StreamOps.stateStoreReaderRocksDB,
      """SELECT user_id, count(*) AS n_events,
        |  floor(max(value) * 1e4 + 0.5) / 1e4 AS max_value
        |FROM events GROUP BY user_id""".stripMargin),
    // update-mode mapGroupsWithState drained fully: the monotone-max
    // running state per user = the batch per-user aggregate
    QuerySpec("s_stream_running_state", StreamOps.runningUserState,
      """SELECT user_id, count(*) AS n_events,
        |  floor(sum(value) * 1e4 + 0.5) / 1e4 AS sum_value
        |FROM events GROUP BY user_id""".stripMargin),
    // transformWithState (explicit ValueState, RocksDB store) drains
    // to the same monotone-max-per-user = batch aggregate contract
    QuerySpec("s_stream_tws_running", StreamOps.transformWithStateRunning,
      """SELECT user_id, count(*) AS n_events,
        |  floor(sum(value) * 1e4 + 0.5) / 1e4 AS sum_value
        |FROM events GROUP BY user_id""".stripMargin),
    // MapState per-(user, type) counters drained fully = the batch
    // two-key group-by count
    QuerySpec("s_stream_tws_mapstate", StreamOps.transformWithStateMapCounts,
      """SELECT user_id, event_type, count(*) AS n_type
        |FROM events GROUP BY user_id, event_type""".stripMargin),
    // ListState top-3 is arrival-order-insensitive (the multiset
    // only improves), so the drained state = the batch top-3
    QuerySpec("s_stream_tws_toplist", StreamOps.transformWithStateTopList,
      """WITH s AS (SELECT user_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY value DESC) AS rn FROM events)
        |SELECT user_id,
        |  floor(max(CASE WHEN rn = 1 THEN value END) * 1e4 + 0.5) / 1e4 AS top1,
        |  floor(max(CASE WHEN rn = 2 THEN value END) * 1e4 + 0.5) / 1e4 AS top2,
        |  floor(max(CASE WHEN rn = 3 THEN value END) * 1e4 + 0.5) / 1e4 AS top3
        |FROM s GROUP BY user_id""".stripMargin),
    // left-outer stream-stream join: all inner matches, plus
    // null-matched purchases evicted from join state. The global
    // watermark is the MIN over both watermarked streams (views and
    // purchases each track their own max event time, ms-truncated,
    // minus the 1h delay); a purchase emits its null row once its
    // event time falls below that global watermark (the range
    // condition v_ts <= p_ts adds no extra margin on the left side:
    // no view at or above the watermark can match an older purchase).
    QuerySpec("s_stream_left_outer", StreamOps.streamStreamLeftOuter,
      """WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts
        |    FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS vts
        |    FROM events WHERE event_type = 'view'),
        |wm AS (SELECT least(
        |      (epoch_us(max(CASE WHEN event_type = 'view' THEN ts END)) // 1000) * 1000,
        |      (epoch_us(max(CASE WHEN event_type = 'purchase' THEN ts END)) // 1000) * 1000)
        |    - 3600000000 AS w FROM events),
        |m AS (SELECT p.user_id, p.purchase_id, v.view_id FROM p JOIN v
        |    ON v.user_id = p.user_id AND v.vts <= p.pts
        |    AND v.vts >= p.pts - 3600000000),
        |um AS (SELECT p.user_id, p.purchase_id, -1 AS view_id FROM p, wm
        |    WHERE p.pts < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id))
        |SELECT user_id, purchase_id, CAST(view_id AS BIGINT) AS view_id FROM m
        |UNION ALL
        |SELECT user_id, purchase_id, CAST(view_id AS BIGINT) AS view_id FROM um""".stripMargin),
    // drained stream-static join in complete mode = the batch join
    QuerySpec("s_stream_enrich", StreamOps.streamStaticEnrich,
      """SELECT c_mktsegment, count(*) AS n_events,
        |  floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),
    // closed sessions = every session except each user's last
    // (the open one stays in flatMapGroupsWithState state)
    QuerySpec("s_stream_sessions", StreamOps.sessionizeStream,
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, us, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x
        |), agg AS (
        |  SELECT user_id, sid, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |    count(*) AS n_events, floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n_events, sum_value FROM agg
        |QUALIFY sid < max(sid) OVER (PARTITION BY user_id)""".stripMargin))
}
