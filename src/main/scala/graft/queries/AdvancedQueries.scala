package graft.queries

import graft.ops.Joins
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational rows over temporal joins (as-of, banded range),
 * window lead/lag, correlated subqueries, bucketed co-located joins,
 * and sketch-based approximate distinct counts.
 *
 * Shares the helpers (`t`, `events`, `rnd`) and the oracle
 * conventions of [[RelationalQueries]]: every double is rounded with
 * the floor(x*1e_d + 0.5)/1e_d pattern on both sides; column names
 * are aliased identically in the Spark plan and the DuckDB SQL.
 */
object AdvancedQueries {

  import RelationalQueries.{t, events, rnd}

  val BandUs: Long = 3600L * 1000000 // 1 hour in event-time micros

  /** Side-output staging (partitioned/json dumps under /tmp) is
   * rewritten once per (session, sfDir) — NOT skipped when a stale
   * directory from an earlier JVM exists, so the dumps always derive
   * from the current tables. */
  private def stageOnce(spark: SparkSession, key: String)(write: => Unit): Unit =
    SessionMemo.once(spark, key)(write)

  /** Window lead/lag/running-sum per user over event time. */
  def leadLag(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"), col("event_type"))
      .withColumn("prev_value", coalesce(rnd(lag(col("value"), 1).over(w), 4), lit(-1.0)))
      .withColumn("next_type", coalesce(lead(col("event_type"), 1).over(w), lit("none")))
      .withColumn("run_sum", rnd(sum(col("value")).over(run), 4))
      .select(col("event_id"), col("user_id"), col("us"),
        col("prev_value"), col("next_type"), col("run_sum"))
      .orderBy("event_id")
  }

  /** As-of join: each event picks up the user's most recent order at
   * or before the event instant (ties toward the larger orderkey). */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    // o_orderdate loads as TIMESTAMP_NTZ; the session zone is UTC, so
    // the cast matches DuckDB's epoch_us interpretation exactly
    val o = t(spark, sfDir, "orders")
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ot"),
        col("o_orderkey"), col("o_totalprice"))
    Joins.asof(e, "user_id", "us", o, "o_custkey", "ot", "o_orderkey",
        Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"), col("us"),
        coalesce(col("asof.o_orderkey"), lit(-1L)).as("last_orderkey"),
        coalesce(rnd(col("asof.o_totalprice"), 2), lit(0.0)).as("last_totalprice"))
      .orderBy("event_id")
  }

  /** Banded range self-join: same-user event pairs within one hour,
   * via time-cell bucketing (no per-user cross product). */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    Joins.bandedSelfPairs(e, "user_id", "event_id", "us", BandUs)
      .select(col("k").as("user_id"), col("id_a").as("event_a"),
        col("id_b").as("event_b"), abs(col("t_b") - col("t_a")).as("gap_us"))
      .orderBy("event_a", "event_b")
  }

  /** Correlated scalar subquery (Catalyst decorrelates it into an
   * aggregate + join): customers above their own nation's average
   * balance. */
  def correlatedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "customer").createOrReplaceTempView("graft_customer")
    spark.sql(
      """SELECT c_nationkey, count(*) AS n_above
        |FROM graft_customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM graft_customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |GROUP BY c_nationkey""".stripMargin)
      .orderBy("c_nationkey")
  }

  /** Join over tables bucketed on the join key: both sides are
   * written `bucketBy(8, custkey)` so the sort-merge join reads
   * co-located buckets with NO shuffle exchange on either side
   * (asserted by `AdvancedQueriesSpec`) — the table-layout contract that
   * replaces repartitioning for repeated fact-fact joins at 100 TB. */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = math.abs(sfDir.hashCode).toString
    val ot = s"graft_orders_bkt_$tag"
    val ct = s"graft_cust_bkt_$tag"
    if (!spark.catalog.tableExists(ot) || !spark.catalog.tableExists(ct)) {
      // the in-memory catalog forgets tables across JVMs but their
      // warehouse directories persist — clear both before recreating
      def reset(name: String): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        val wh = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val dir = java.nio.file.Paths.get(wh, name)
        if (java.nio.file.Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
      reset(ot); reset(ct)
      t(spark, sfDir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .format("parquet").saveAsTable(ot)
      t(spark, sfDir, "customer").write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .format("parquet").saveAsTable(ct)
    }
    spark.table(ot)
      .join(spark.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), rnd(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** Date-partitioned parquet layout + partition pruning: events are
   * written `partitionBy(day)`; a day-range predicate then prunes
   * directories at planning time (PartitionFilters in the scan,
   * asserted by the spec) — at 100 TB this is what turns a full-table
   * scan into reading only the queried slice. The range is derived
   * from the data (days 30..59 from the first event) so the query and
   * the oracle agree without hard-coded dates. */
  def partitionPruning(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = math.abs(sfDir.hashCode).toString
    val dir = s"/tmp/graft_events_by_day_$tag"
    stageOnce(spark, dir) {
      events(spark, sfDir)
        .withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(dir)
    }
    val d0 = events(spark, sfDir).agg(min(to_date(col("ts")))).head().getDate(0)
    val lo = java.sql.Date.valueOf(d0.toLocalDate.plusDays(30))
    val hi = java.sql.Date.valueOf(d0.toLocalDate.plusDays(60))
    spark.read.parquet(dir)
      .where(col("day") >= lit(lo) && col("day") < lit(hi))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), rnd(sum(col("value")), 4).as("sum_value"))
      .orderBy("day")
  }

  /** JSON-lines sink + source round trip (S6/S1 for the JSON format):
   * events are dumped as json-lines and read back under an explicit
   * schema; doubles survive exactly (Spark writes shortest
   * round-trip representations), so the re-aggregated table still
   * hash-matches the oracle computed from the original parquet. */
  def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = math.abs(sfDir.hashCode).toString
    val dir = s"/tmp/graft_events_json_$tag"
    stageOnce(spark, dir) {
      events(spark, sfDir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(dir)
    }
    spark.read
      .schema("event_id LONG, us LONG, user_id LONG, event_type STRING, value DOUBLE")
      .json(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), rnd(sum(col("value")), 4).as("sum_value"),
        max(col("us")).as("max_us"))
      .orderBy("event_type")
  }

  /** Quoted/escaped CSV sink + source round trip over a table with
   * free-text names: exercises the
   * quote/escape option surface of the CSV connector rather than the
   * bare space-delimited edge format. */
  def csvQuotedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = math.abs(sfDir.hashCode).toString
    val dir = s"/tmp/graft_customer_csv_$tag"
    stageOnce(spark, dir) {
      t(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
        .write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .csv(dir)
    }
    spark.read
      .schema("c_custkey LONG, c_name STRING, c_mktsegment STRING, c_acctbal DOUBLE")
      .option("header", "true")
      .csv(dir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        rnd(sum(col("c_acctbal")), 2).as("sum_bal"),
        sum(length(col("c_name"))).as("name_chars"))
      .orderBy("c_mktsegment")
  }

  /** Schema-full JSON parsing (JsonToStructs, the codegen'd
   * counterpart of get_json_object): parse once into a struct, then
   * project fields. */
  def jsonStruct(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      .orderBy("event_id")

  /** Array-function surface: collect per-group values into a sorted
   * array, then compute order-deterministic derivations (head/last,
   * left-fold sum over the SORTED array so both engines accumulate
   * in the same sequence). */
  def arrayFuncs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
      .select(col("l_orderkey"),
        size(col("qs")).cast("long").as("n_items"),
        element_at(col("qs"), 1).as("q_min"),
        element_at(col("qs"), -1).as("q_max"),
        rnd(aggregate(col("qs"), lit(0.0), (a, x) => a + x), 4).as("q_total"))
      .orderBy("l_orderkey")

  /** Rank-function family over one window: rank, dense_rank,
   * percent_rank, ntile — deterministic because the window order
   * includes the unique orderkey. */
  def rankFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        rnd(percent_rank().over(w), 9).as("prnk"),
        ntile(4).over(w).cast("long").as("quartile"))
      .where(col("rnk") <= 10)
      .orderBy("o_orderpriority", "rnk")
  }

  /** Dataset-level INTERSECT / EXCEPT (distinct set semantics). */
  def intersectExcept(spark: SparkSession, sfDir: String): DataFrame = {
    val orderCust = t(spark, sfDir, "orders").select(col("o_custkey").as("k"))
    val allCust = t(spark, sfDir, "customer").select(col("c_custkey").as("k"))
    val both = orderCust.intersect(allCust)
      .agg(count(lit(1)).as("n")).withColumn("setop", lit("intersect"))
    val onlyCust = allCust.except(orderCust)
      .agg(count(lit(1)).as("n")).withColumn("setop", lit("except"))
    both.unionByName(onlyCust).select(col("setop"), col("n")).orderBy("setop")
  }

  /** Sliding (hopping) event-time windows: 2-hour windows every hour
   * — each event lands in two windows (the map-side explode Spark's
   * `window()` plans for overlapping windows). */
  def slidingWindow(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").getField("start").as("wstart"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), rnd(sum(col("value")), 4).as("sum_value"))
      .orderBy("wstart", "event_type")

  /** Generator surface (posexplode — the Spark UDTF shape): per-order
   * sorted quantities exploded back to rows with their position. */
  def posExplode(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .where(col("l_orderkey") % 100 === 0)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
      .select(col("l_orderkey"), posexplode(col("qs")))
      .select(col("l_orderkey"), col("pos").cast("long").as("pos"), col("col").as("qty"))
      .orderBy("l_orderkey", "pos")

  /** Map-type surface: build a map from entries, then extract by key
   * (the output projects back to scalars so both engines hash plain
   * columns). */
  def mapFuncs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      // line numbers repeat in the synthetic data — reduce to unique
      // map keys first (map_from_entries rejects duplicates)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_quantity")).as("q"))
      .groupBy(col("l_orderkey"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("l_linenumber"), col("q"))))).as("m"))
      .select(col("l_orderkey"),
        size(col("m")).cast("long").as("n_lines"),
        element_at(col("m"), 1).as("q_line1"),
        element_at(col("m"), 2).as("q_line2"))
      .orderBy("l_orderkey")

  /** Unpivot (melt): wide per-flag counts back to long (metric,
   * value) rows — the inverse of `r_pivot`. */
  def unpivot(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("n_lines"), col("n_orders"), col("n_parts")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")

  /** Typed KeyValueGroupedDataset.cogroup: per customer key, both
   * sides' groups arrive as iterators in one function — the typed
   * form of a full-outer grouped merge (here: order count/revenue
   * beside event count/value-sum). Plans as a CoGroup over two
   * co-partitioned shuffles — one pass, no join explosion. */
  def typedCogroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = t(spark, sfDir, "orders")
      .select(col("o_custkey").as("k"), col("o_totalprice").as("v"))
      .as[(Long, Double)].groupByKey(_._1)
    val evts = events(spark, sfDir)
      .select(col("user_id").as("k"), col("value").as("v"))
      .as[(Long, Double)].groupByKey(_._1)
    orders.cogroup(evts) { (k, os, es) =>
      var no = 0L; var rev = 0.0
      os.foreach { o => no += 1; rev += o._2 }
      var ne = 0L; var ev = 0.0
      es.foreach { e => ne += 1; ev += e._2 }
      Iterator((k, no, math.floor(rev * 1e2 + 0.5) / 1e2,
        ne, math.floor(ev * 1e4 + 0.5) / 1e4))
    }.toDF("k", "n_orders", "revenue", "n_events", "sum_value")
      .orderBy("k")
  }

  /** Typed mapGroups: per-user event summary from the sorted group
   * iterator (first/last event ids by time, span). */
  def typedMapGroups(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (user, it) =>
        val evs = it.toSeq.sortBy(e => (e._3, e._2))
        (user, evs.head._2, evs.last._2, evs.last._3 - evs.head._3, evs.size.toLong)
      }
      .toDF("user_id", "first_event", "last_event", "span_us", "n_events")
      .orderBy("user_id")
  }

  /** RANGE window frame over event time: per user, the moving
   * 1-hour sum/count ending at each event — a value-based frame
   * (all rows within the interval), unlike the row-count frames the
   * other window queries use. */
  def rangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-BandUs, Window.currentRow)
    events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("hour_n", count(lit(1)).over(w))
      .withColumn("hour_sum", rnd(sum(col("value")).over(w), 4))
      .select(col("event_id"), col("user_id"), col("us"),
        col("hour_n"), col("hour_sum"))
      .orderBy("event_id")
  }

  /** Custom typed UDAF (SURVEY §2.10): the one-pass MomentsAgg
   * sketch; mean/variance derive from the (n, Σx, Σx²) buffer. */
  def customUdaf(spark: SparkSession, sfDir: String): DataFrame = {
    val moments = udaf(graft.ops.MomentsAgg)
    val s = col("mo._2"); val ss = col("mo._3"); val n = col("mo._1")
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(moments(col("l_quantity")).as("mo"))
      .select(col("l_returnflag"), n.as("n"),
        rnd(s / n, 6).as("mean"),
        rnd(ss / n - (s / n) * (s / n), 6).as("var_pop"))
      .orderBy("l_returnflag")
  }

  /** ORC sink + source round trip (another columnar format in the
   * source/sink matrix). */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = math.abs(sfDir.hashCode).toString
    val dir = s"/tmp/graft_orders_orc_$tag"
    stageOnce(spark, dir) {
      t(spark, sfDir, "orders").write.mode("overwrite").orc(dir)
    }
    spark.read.orc(dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), rnd(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Full CUBE grouping sets with grouping indicators. */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), rnd(sum(col("l_quantity")), 4).as("sum_qty"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .orderBy("l_returnflag", "l_linestatus", "g_rf", "g_ls")

  /** Approximate quantiles (Greenwald-Khanna sketch) checked against
   * the exact interpolated percentiles: the output carries the exact
   * values (oracle-computable via quantile_cont) plus a "sketch
   * within 5%" boolean the oracle states as TRUE — a self-certifying
   * accuracy contract, since a degraded sketch flips the boolean and
   * fails the hash compare. At 100 TB the mergeable fixed-size
   * summary is the only viable form — exact percentiles need a full
   * sort or all values on one node. */
  def approxQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("ap90"),
        expr("percentile(l_extendedprice, 0.5)").as("ep50"),
        expr("percentile(l_extendedprice, 0.9)").as("ep90"))
      .select(col("l_returnflag"),
        rnd(col("ep50"), 4).as("exact_p50"),
        rnd(col("ep90"), 4).as("exact_p90"),
        (abs(col("ap50") - col("ep50")) <= col("ep50") * 0.05).as("p50_ok"),
        (abs(col("ap90") - col("ep90")) <= col("ep90") * 0.05).as("p90_ok"))
      .orderBy("l_returnflag")

  /** HLL++ sketch distinct counts checked against the exact answer:
   * exact count (oracle-computable) plus a "estimate within 5%"
   * boolean the oracle states as TRUE (same self-certifying pattern
   * as r_approx_quantiles / r_hll_sketch). At 100 TB the sketch is
   * the only viable form — it partial-aggregates map-side into a
   * fixed-size registers array instead of shuffling every distinct
   * key. */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users").cast("double") * 0.05).as("approx_ok"))
      .orderBy("event_type")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("r_lead_lag", leadLag,
      """SELECT event_id, user_id, epoch_us(ts) AS us,
        |  coalesce(floor((lag(value, 1) OVER w) * 1e4 + 0.5) / 1e4, -1.0) AS prev_value,
        |  coalesce(lead(event_type, 1) OVER w, 'none') AS next_type,
        |  floor((sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS UNBOUNDED PRECEDING)) * 1e4 + 0.5) / 1e4 AS run_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin),
    QuerySpec("r_asof_join", asofJoin,
      """WITH o AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS tt,
        |    o_orderkey, o_totalprice FROM orders),
        |e AS (SELECT user_id AS k, epoch_us(ts) AS tt, event_id FROM events),
        |u AS (
        |  SELECT k, tt, 0 AS side, o_orderkey AS tie, o_orderkey AS okey,
        |    o_totalprice AS oprice, NULL::BIGINT AS event_id FROM o
        |  UNION ALL
        |  SELECT k, tt, 1, NULL, NULL, NULL, event_id FROM e),
        |m AS (SELECT *,
        |    last_value(okey IGNORE NULLS) OVER w AS last_okey,
        |    last_value(oprice IGNORE NULLS) OVER w AS last_oprice
        |  FROM u
        |  WINDOW w AS (PARTITION BY k ORDER BY tt, side, tie
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, k AS user_id, tt AS us,
        |  coalesce(last_okey, -1) AS last_orderkey,
        |  coalesce(floor(last_oprice * 1e2 + 0.5) / 1e2, 0.0) AS last_totalprice
        |FROM m WHERE side = 1""".stripMargin),
    QuerySpec("r_range_join", rangeJoin,
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
        |  abs(b.us - a.us) AS gap_us
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(b.us - a.us) <= 3600000000""".stripMargin),
    QuerySpec("r_correlated", correlatedAgg,
      """SELECT c_nationkey, count(*) AS n_above
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |GROUP BY c_nationkey""".stripMargin),
    QuerySpec("r_bucketed_join", bucketedJoin,
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),
    QuerySpec("r_partition_pruning", partitionPruning,
      """WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events)
        |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |  floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value
        |FROM events, b
        |WHERE CAST(ts AS DATE) >= d0 + INTERVAL 30 DAY
        |  AND CAST(ts AS DATE) < d0 + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin),
    QuerySpec("r_json_struct", jsonStruct,
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin),
    QuerySpec("r_json_roundtrip", jsonRoundtrip,
      """SELECT event_type, count(*) AS n,
        |  floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value,
        |  max(epoch_us(ts)) AS max_us
        |FROM events GROUP BY event_type""".stripMargin),
    // the quoted-CSV round trip is lossless, so the oracle
    // aggregates the original table directly
    QuerySpec("r_csv_quoted_roundtrip", csvQuotedRoundtrip,
      """SELECT c_mktsegment, count(*) AS n,
        |  floor(sum(c_acctbal) * 1e2 + 0.5) / 1e2 AS sum_bal,
        |  CAST(sum(length(c_name)) AS BIGINT) AS name_chars
        |FROM customer GROUP BY c_mktsegment""".stripMargin),
    QuerySpec("r_rank_funcs", rankFuncs,
      """SELECT o_orderkey, o_orderpriority, rnk, drnk, prnk, quartile FROM (
        |  SELECT o_orderkey, o_orderpriority,
        |    rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |    floor((percent_rank() OVER w) * 1e9 + 0.5) / 1e9 AS prnk,
        |    ntile(4) OVER w AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE rnk <= 10""".stripMargin),
    QuerySpec("r_intersect_except", intersectExcept,
      """SELECT 'intersect' AS setop, count(*) AS n FROM (
        |  SELECT o_custkey AS k FROM orders
        |  INTERSECT SELECT c_custkey FROM customer)
        |UNION ALL
        |SELECT 'except', count(*) FROM (
        |  SELECT c_custkey AS k FROM customer
        |  EXCEPT SELECT o_custkey FROM orders)""".stripMargin),
    QuerySpec("r_sliding_window", slidingWindow,
      """WITH x AS (SELECT
        |  unnest([time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour',
        |          time_bucket(INTERVAL '1 hour', ts)]) AS wstart,
        |  event_type, value FROM events)
        |SELECT wstart, event_type, count(*) AS n,
        |  floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value
        |FROM x GROUP BY wstart, event_type""".stripMargin),
    QuerySpec("r_array_funcs", arrayFuncs,
      """WITH g AS (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, len(qs) AS n_items,
        |  qs[1] AS q_min, qs[-1] AS q_max,
        |  floor((list_reduce(list_prepend(0.0, qs), (a, b) -> a + b)) * 1e4 + 0.5) / 1e4
        |    AS q_total
        |FROM g""".stripMargin),
    QuerySpec("r_unpivot", unpivot,
      """WITH g AS (SELECT l_returnflag, count(*) AS n_lines,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'n_lines' AS metric, n_lines AS value FROM g
        |UNION ALL SELECT l_returnflag, 'n_orders', n_orders FROM g
        |UNION ALL SELECT l_returnflag, 'n_parts', n_parts FROM g""".stripMargin),
    QuerySpec("r_typed_cogroup", typedCogroup,
      """WITH o AS (SELECT o_custkey AS k, count(*) AS n_orders,
        |  floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue
        |  FROM orders GROUP BY 1),
        |e AS (SELECT user_id AS k, count(*) AS n_events,
        |  floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value
        |  FROM events GROUP BY 1)
        |SELECT coalesce(o.k, e.k) AS k,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(revenue, 0.0) AS revenue,
        |  coalesce(n_events, 0) AS n_events,
        |  coalesce(sum_value, 0.0) AS sum_value
        |FROM o FULL JOIN e ON o.k = e.k""".stripMargin),
    QuerySpec("r_typed_mapgroups", typedMapGroups,
      """WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |x AS (SELECT user_id, event_id, us,
        |  row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn_d
        |  FROM s)
        |SELECT user_id,
        |  max(CASE WHEN rn_a = 1 THEN event_id END) AS first_event,
        |  max(CASE WHEN rn_d = 1 THEN event_id END) AS last_event,
        |  max(us) - min(us) AS span_us, count(*) AS n_events
        |FROM x GROUP BY user_id""".stripMargin),
    QuerySpec("r_range_frame", rangeFrame,
      """SELECT event_id, user_id, epoch_us(ts) AS us,
        |  count(*) OVER w AS hour_n,
        |  floor((sum(value) OVER w) * 1e4 + 0.5) / 1e4 AS hour_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin),
    QuerySpec("r_custom_udaf", customUdaf,
      """SELECT l_returnflag, count(*) AS n,
        |  floor((sum(l_quantity) / count(*)) * 1e6 + 0.5) / 1e6 AS mean,
        |  floor((sum(l_quantity * l_quantity) / count(*)
        |    - (sum(l_quantity) / count(*)) * (sum(l_quantity) / count(*)))
        |    * 1e6 + 0.5) / 1e6 AS var_pop
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("r_orc_roundtrip", orcRoundtrip,
      """SELECT o_orderpriority, count(*) AS n,
        |  floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    QuerySpec("r_posexplode", posExplode,
      """WITH g AS (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
        |  FROM lineitem WHERE l_orderkey % 100 = 0 GROUP BY l_orderkey)
        |SELECT l_orderkey, CAST(t.i - 1 AS BIGINT) AS pos, qs[i] AS qty
        |FROM g, unnest(generate_series(1, len(qs))) t(i)""".stripMargin),
    QuerySpec("r_map_funcs", mapFuncs,
      """WITH d AS (SELECT l_orderkey, l_linenumber, min(l_quantity) AS q
        |  FROM lineitem GROUP BY l_orderkey, l_linenumber),
        |g AS (SELECT l_orderkey,
        |  map_from_entries(list_sort(list(struct_pack(k := l_linenumber,
        |    v := q)))) AS m
        |  FROM d GROUP BY l_orderkey)
        |SELECT l_orderkey, CAST(cardinality(m) AS BIGINT) AS n_lines,
        |  m[1][1] AS q_line1, m[2][1] AS q_line2
        |FROM g""".stripMargin),
    QuerySpec("r_cube", cubeAgg,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  floor((sum(l_quantity)) * 1e4 + 0.5) / 1e4 AS sum_qty,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    // self-certifying sketch contracts: exact values from the oracle,
    // accuracy booleans the oracle states as TRUE (a degraded sketch
    // flips them on the Spark side and the hash compare fails)
    QuerySpec("r_approx_distinct", approxDistinct,
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("r_approx_quantiles", approxQuantiles,
      """SELECT l_returnflag,
        |  floor((quantile_cont(l_extendedprice, 0.5)) * 1e4 + 0.5) / 1e4 AS exact_p50,
        |  floor((quantile_cont(l_extendedprice, 0.9)) * 1e4 + 0.5) / 1e4 AS exact_p90,
        |  TRUE AS p50_ok, TRUE AS p90_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin))
}
