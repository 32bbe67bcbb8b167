package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational SQL-surface rows: higher-order array lambdas, dense
 * time-series gap filling, GROUPING SETS, IGNORE NULLS window
 * carry-forward, bitwise aggregates, and EXISTS/IN subqueries.
 *
 * All arithmetic is integer-exact or routed through the shared
 * floor-rounding pattern, so every query carries a DuckDB oracle.
 */
object SqlSurfaceQueries {

  import RelationalQueries.{t, events, rnd}

  /** Higher-order array functions over per-order quantity arrays:
   * transform / filter / aggregate (fold) / zip_with / contains —
   * all codegen'd builtins, no UDFs; quantities are integral so
   * every value is exact. */
  def lambdaFuncs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity").cast("int").as("q"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("q"))).as("qs"))
      .select(col("l_orderkey"),
        size(col("qs")).cast("long").as("n"),
        aggregate(transform(col("qs"), x => x * 2), lit(0L), (a, x) => a + x)
          .as("doubled_sum"),
        size(filter(col("qs"), _ > 25)).cast("long").as("n_big"),
        array_contains(col("qs"), 1).as("has_one"),
        element_at(reverse(col("qs")), 1).cast("long").as("max_q"),
        // position-weighted fold: zip the sorted array with 1..n
        aggregate(
          zip_with(col("qs"), sequence(lit(1), size(col("qs"))), (q, i) => q * i),
          lit(0L), (a, x) => a + x).as("weighted_sum"))
      .orderBy("l_orderkey")

  /** Dense 15-minute time grid per event type with zero-filled gaps —
   * the sparse-to-dense resample every monitoring/feature pipeline
   * needs. Bucketing is integer epoch arithmetic (shared with the
   * oracle); the grid is a sequence-explode cross join (tiny) left-
   * joining the aggregated counts, so the fact scan stays one pass. */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val stepUs = 900000000L // 15 min
    val ev = events(spark, sfDir)
      .select(expr(s"(unix_micros(ts) div $stepUs) * $stepUs").as("bucket_us"),
        col("event_type"))
    val counts = ev.groupBy("bucket_us", "event_type").agg(count(lit(1)).as("n"))
    val bounds = ev.agg(min("bucket_us").as("lo"), max("bucket_us").as("hi"))
    val grid = bounds
      .select(explode(sequence(col("lo"), col("hi"), lit(stepUs))).as("bucket_us"))
      .crossJoin(ev.select("event_type").distinct())
    grid.join(counts, Seq("bucket_us", "event_type"), "left")
      .select(col("bucket_us"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("bucket_us", "event_type")
  }

  /** Explicit GROUPING SETS (beyond the rollup/cube entries) with
   * grouping() indicators, via the SQL surface. */
  def groupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_gs")
    spark.sql(
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_st,
        |  floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM graft_orders_gs
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderpriority), (o_orderstatus), ())
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin)
  }

  /** IGNORE NULLS carry-forward: per user, the last purchase value
   * carried over subsequent events (last_value IGNORE NULLS over a
   * running frame) — the standard as-of/fill-forward window shape. */
  def ignoreNullsCarry(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pv = when(col("event_type") === "purchase", col("value"))
    events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
      .withColumn("carried",
        rnd(coalesce(last(pv, ignoreNulls = true).over(w), lit(-1.0)), 4))
      .select(col("event_id"), col("user_id"), col("us"), col("carried"))
      .orderBy("event_id")
  }

  /** Bitwise aggregate surface: per-user event-type presence flags
   * via bit_or(1 << idx) with an alphabetically ranked type index,
   * then flag-combination population counts plus &/xor derivations. */
  def bitwiseFlags(spark: SparkSession, sfDir: String): DataFrame = {
    // high-value events only: full-corpus presence is all-ones for
    // every user, which would collapse the flags to one combination
    val ev = events(spark, sfDir).where(col("value") > 100)
    val types = ev.select("event_type").distinct()
      .withColumn("idx",
        (row_number().over(Window.orderBy("event_type")) - 1).cast("int"))
    val flags = ev.join(broadcast(types), "event_type")
      .groupBy("user_id")
      .agg(expr("bit_or(shiftleft(1, idx))").as("flags"))
    flags.groupBy("flags")
      .agg(count(lit(1)).as("n_users"))
      .select(col("flags").cast("long").as("flags"), col("n_users"),
        (col("flags").bitwiseAND(lit(1))).cast("long").as("has_first"),
        (col("flags").bitwiseXOR(lit(31))).cast("long").as("missing_mask"))
      .orderBy("flags")
  }

  /** EXISTS / NOT IN subqueries through the SQL surface (Catalyst
   * decorrelates EXISTS to a semi join; NOT IN needs the
   * null-aware anti join). */
  def existsSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "supplier").createOrReplaceTempView("graft_supplier_eq")
    t(spark, sfDir, "lineitem").createOrReplaceTempView("graft_lineitem_eq")
    spark.sql(
      """SELECT s.s_nationkey, count(*) AS n_suppliers
        |FROM graft_supplier_eq s
        |WHERE EXISTS (SELECT 1 FROM graft_lineitem_eq l
        |        WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
        |  AND s.s_suppkey NOT IN (SELECT l_suppkey FROM graft_lineitem_eq
        |        WHERE l_quantity <= 2 AND l_tax = 0.08)
        |GROUP BY s.s_nationkey
        |ORDER BY s.s_nationkey""".stripMargin)
  }

  /** Star-schema join: the fact table against three broadcast
   * dimensions in one chain — the shape Catalyst's join reordering
   * and broadcast planning exist for. At 100 TB the fact side
   * streams map-side through all three broadcast hash joins with
   * zero fact shuffles before the final aggregation. */
  def starJoin(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .join(broadcast(t(spark, sfDir, "part")), col("p_partkey") === col("l_partkey"))
      .join(broadcast(t(spark, sfDir, "supplier")), col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(t(spark, sfDir, "nation")), col("n_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"), col("p_brand"))
      .agg(count(lit(1)).as("n"),
        rnd(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy("n_name", "p_brand")

  /** Conditional aggregation surface: FILTER clauses, bool_and /
   * bool_or, count_if — one scan, all branches partial-aggregated. */
  def conditionalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir).createOrReplaceTempView("graft_events_ca")
    spark.sql(
      """SELECT event_type, count(*) AS n,
        |  count_if(value > 100) AS n_big,
        |  bool_and(value > 0) AS all_pos,
        |  bool_or(value > 400) AS any_huge,
        |  floor(sum(value) FILTER (WHERE value <= 100) * 1e4 + 0.5) / 1e4 AS sum_small
        |FROM graft_events_ca
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** FULL OUTER join: high-value events against the customer
   * dimension — both unmatched sides survive with null-aware
   * grouping (the reconciliation-report join shape). */
  def fullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir).where(col("value") > 450)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val cust = t(spark, sfDir, "customer")
      .where(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_mktsegment"))
    ev.join(cust, col("user_id") === col("c_custkey"), "full_outer")
      .select(
        coalesce(col("user_id"), col("c_custkey")).as("id"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("c_mktsegment"), lit("none")).as("segment"),
        (col("user_id").isNotNull && col("c_custkey").isNotNull).as("matched"))
      .orderBy("id")
  }

  /** LATERAL VIEW explode through the SQL surface (the Hive-style
   * UDTF syntax beside the functional posexplode entry). */
  def lateralView(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_lv")
    spark.sql(
      """SELECT o_orderkey, part, CAST(pos AS BIGINT) AS pos
        |FROM graft_orders_lv
        |LATERAL VIEW posexplode(split(o_orderpriority, '-')) t AS pos, part
        |WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey, pos""".stripMargin)
  }

  /** Time-weighted average value per user: each event's value is
   * held until the next event (step function); the average weights
   * each value by its holding interval — the standard
   * irregular-series metric (billing, utilization). Window lead
   * gives the interval end; integer microsecond weights keep the
   * arithmetic deterministic under the shared rounding. */
  def timeWeightedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val withNext = events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .where(col("next_us").isNotNull)
    withNext
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        rnd(sum(col("value") * (col("next_us") - col("us"))) /
          sum(col("next_us") - col("us")), 6).as("tw_avg"))
      .orderBy("user_id")
  }

  /** Interval-union sweep line in SQL: each event opens a 30-minute
   * activity interval; overlapping intervals merge into islands
   * (running max of interval ends detects gaps, a cumulative gap
   * count numbers the islands) and the total covered time per user
   * is the sum of island extents. Integer microsecond arithmetic
   * throughout — the relational form of the classic sweep-line, one
   * sort-shuffle per user partition, no self-join. */
  def intervalUnion(spark: SparkSession, sfDir: String): DataFrame =
    intervalUnionOf(
      events(spark, sfDir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us")),
      1800000000L) // 30 min in us

  /** Core sweep over any (event_id, user_id, us) frame; each point
   * opens a `span`-microsecond interval. */
  def intervalUnionOf(points: DataFrame, span: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val base = points
      .withColumn("prev_max_end", max(col("us") + span).over(wPrev))
      .withColumn("island_start",
        when(col("prev_max_end").isNull || col("us") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("island_start")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    base.groupBy("user_id", "island")
      .agg(min(col("us")).as("start_us"), max(col("us") + span).as("end_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("end_us") - col("start_us")).as("covered_us"))
      .orderBy("user_id")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): both
   * sides derive a nullable bucket key and NULL matches NULL —
   * the join semantics dirty dimension keys need. Distinct key sets
   * on both sides keep the null×null fan-out bounded. */
  def nullSafeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .select(when(col("user_id") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("user_id") % 100).as("k"))
      .distinct()
    val cust = t(spark, sfDir, "customer")
      .select(when(col("c_custkey") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("c_custkey") % 100).as("ck"),
        col("c_custkey"))
    ev.join(cust, col("k") <=> col("ck"))
      .groupBy(coalesce(col("k"), lit(-1L)).as("key"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy("key")
  }

  /** Multiset set operations (EXCEPT ALL / INTERSECT ALL): duplicate
   * COUNTS matter, unlike the distinct variants — the semantics gap
   * that silently corrupts reconciliation queries when ignored. */
  def multisetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val a = events(spark, sfDir).select((col("user_id") % 50).as("k"))
      .where(col("event_type") =!= "view")
    val b = events(spark, sfDir).select((col("user_id") % 50).as("k"))
      .where(col("event_type") === "purchase")
    val exceptAll = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    val intersectAll = a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    exceptAll.unionByName(intersectAll)
      .select(col("op"), col("k"), col("n"))
      .orderBy("op", "k")
  }

  /** Exact decimal aggregation: money sums in DECIMAL(18,2) are
   * EXACT regardless of partial-aggregation order — the pattern that
   * removes the floating-point reduction-order caveat every double
   * sum in this suite carries (final cast to DOUBLE only for output
   * type parity; the value is already exact). */
  def decimalAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("decimal(18,2)").as("p"),
        col("l_discount").cast("decimal(18,2)").as("d"))
      .groupBy("l_returnflag")
      .agg(sum(col("p")).cast("double").as("sum_price"),
        sum(col("p") * (lit(1).cast("decimal(18,2)") - col("d")))
          .cast("double").as("sum_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Schema-evolution union: two frames with different column sets
   * combined by NAME with missing columns null-filled
   * (unionByName(allowMissingColumns) / DuckDB UNION ALL BY NAME) —
   * what appending a new-schema batch to an old table needs. */
  def unionByNameEvolved(spark: SparkSession, sfDir: String): DataFrame = {
    val old = t(spark, sfDir, "customer")
      .select(col("c_custkey").as("id"), col("c_mktsegment").as("segment"))
      .withColumn("src", lit("v1"))
    val nw = t(spark, sfDir, "customer")
      .select(col("c_custkey").as("id"),
        rnd(col("c_acctbal"), 2).as("balance"))
      .withColumn("src", lit("v2"))
    old.unionByName(nw, allowMissingColumns = true)
      .select(col("id"), col("src"),
        coalesce(col("segment"), lit("?")).as("segment"),
        coalesce(col("balance"), lit(-1.0)).as("balance"))
      .orderBy("id", "src")
  }

  /** Cohort retention triangle: users grouped by first-activity day,
   * counted again at each later activity age — the canonical
   * retention analysis. Integer epoch-day arithmetic; the cohort
   * dimension join is a user-keyed shuffle, the triangle a plain
   * two-key aggregation. */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val act = events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val cohort = act.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    act.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "age_days")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("r_cohort_retention", cohortRetention,
      """WITH act AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
        |SELECT cohort_day, day - cohort_day AS age_days,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM act a JOIN cohort c ON c.user_id = a.user_id
        |GROUP BY cohort_day, age_days""".stripMargin),
    QuerySpec("r_union_by_name", unionByNameEvolved,
      """WITH u AS (
        |  SELECT c_custkey AS id, c_mktsegment AS segment, 'v1' AS src FROM customer
        |  UNION ALL BY NAME
        |  SELECT c_custkey AS id,
        |    floor(c_acctbal * 1e2 + 0.5) / 1e2 AS balance, 'v2' AS src FROM customer)
        |SELECT id, src, coalesce(segment, '?') AS segment,
        |  coalesce(balance, -1.0) AS balance
        |FROM u""".stripMargin),
    QuerySpec("r_multiset_ops", multisetOps,
      """WITH a AS (SELECT user_id % 50 AS k FROM events
        |  WHERE event_type <> 'view'),
        |b AS (SELECT user_id % 50 AS k FROM events
        |  WHERE event_type = 'purchase'),
        |ea AS (SELECT 'except_all' AS op, k, count(*) AS n
        |  FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k),
        |ia AS (SELECT 'intersect_all' AS op, k, count(*) AS n
        |  FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k)
        |SELECT op, k, n FROM ea UNION ALL SELECT op, k, n FROM ia""".stripMargin),
    // decimal sums are exact, so no floor-rounding is needed: the
    // double cast of an exact DECIMAL(18,2) value is deterministic
    QuerySpec("r_decimal_agg", decimalAgg,
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("r_nullsafe_join", nullSafeJoin,
      """WITH ev AS (SELECT DISTINCT
        |  CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id % 100 END AS k
        |  FROM events),
        |cust AS (SELECT
        |  CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey % 100 END AS ck,
        |  c_custkey FROM customer)
        |SELECT coalesce(k, -1) AS key, count(*) AS n_matches
        |FROM ev JOIN cust ON k IS NOT DISTINCT FROM ck
        |GROUP BY 1""".stripMargin),
    QuerySpec("r_interval_union", intervalUnion,
      """WITH x AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |y AS (SELECT user_id, event_id, us,
        |  max(us + 1800000000) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        |  FROM x),
        |z AS (SELECT user_id, event_id, us,
        |  CASE WHEN prev_max_end IS NULL OR us > prev_max_end THEN 1 ELSE 0 END AS island_start
        |  FROM y),
        |isl AS (SELECT user_id, us,
        |  sum(island_start) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM z),
        |g AS (SELECT user_id, island, min(us) AS start_us,
        |  max(us + 1800000000) AS end_us
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(end_us - start_us) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id""".stripMargin),
    QuerySpec("r_time_weighted_avg", timeWeightedAvg,
      """WITH x AS (SELECT event_id, user_id, epoch_us(ts) AS us, value,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_intervals,
        |  floor((sum(value * (next_us - us)) / sum(next_us - us)) * 1e6 + 0.5) / 1e6 AS tw_avg
        |FROM x WHERE next_us IS NOT NULL GROUP BY user_id""".stripMargin),
    QuerySpec("r_star_join", starJoin,
      """SELECT n_name, p_brand, count(*) AS n,
        |  floor(sum(l_extendedprice * (1 - l_discount)) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY n_name, p_brand""".stripMargin),
    QuerySpec("r_full_outer", fullOuter,
      """WITH ev AS (SELECT user_id, count(*) AS n_events FROM events
        |  WHERE value > 450 GROUP BY user_id),
        |cust AS (SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE c_acctbal > 9000)
        |SELECT coalesce(user_id, c_custkey) AS id,
        |  coalesce(n_events, 0) AS n_events,
        |  coalesce(c_mktsegment, 'none') AS segment,
        |  (user_id IS NOT NULL AND c_custkey IS NOT NULL) AS matched
        |FROM ev FULL OUTER JOIN cust ON user_id = c_custkey""".stripMargin),
    QuerySpec("r_lateral_view", lateralView,
      """SELECT o_orderkey, parts[i] AS part, CAST(i - 1 AS BIGINT) AS pos
        |FROM (SELECT o_orderkey, string_split(o_orderpriority, '-') AS parts
        |      FROM orders WHERE o_orderkey % 100 = 0),
        |  unnest(generate_series(1, len(parts))) t(i)""".stripMargin),
    QuerySpec("r_conditional_agg", conditionalAgg,
      """SELECT event_type, count(*) AS n,
        |  count(*) FILTER (WHERE value > 100) AS n_big,
        |  bool_and(value > 0) AS all_pos,
        |  bool_or(value > 400) AS any_huge,
        |  floor(sum(value) FILTER (WHERE value <= 100) * 1e4 + 0.5) / 1e4 AS sum_small
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("r_lambda_funcs", lambdaFuncs,
      """WITH g AS (SELECT l_orderkey,
        |  list_sort(list(CAST(l_quantity AS INT))) AS qs
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, len(qs) AS n,
        |  CAST(list_sum(list_transform(qs, x -> x * 2)) AS BIGINT) AS doubled_sum,
        |  len(list_filter(qs, x -> x > 25)) AS n_big,
        |  list_contains(qs, 1) AS has_one,
        |  CAST(qs[-1] AS BIGINT) AS max_q,
        |  CAST(list_sum(list_transform(generate_series(1, len(qs)),
        |    i -> qs[i] * i)) AS BIGINT) AS weighted_sum
        |FROM g""".stripMargin),
    QuerySpec("r_gap_fill", gapFill,
      """WITH ev AS (SELECT (epoch_us(ts) // 900000000) * 900000000 AS bucket_us,
        |  event_type FROM events),
        |c AS (SELECT bucket_us, event_type, count(*) AS n FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(bucket_us) AS lo, max(bucket_us) AS hi FROM ev),
        |grid AS (SELECT unnest(generate_series(lo, hi, 900000000)) AS bucket_us FROM b),
        |types AS (SELECT DISTINCT event_type FROM ev)
        |SELECT g.bucket_us, t.event_type, coalesce(c.n, 0) AS n
        |FROM grid g CROSS JOIN types t
        |LEFT JOIN c ON c.bucket_us = g.bucket_us AND c.event_type = t.event_type""".stripMargin),
    QuerySpec("r_grouping_sets", groupingSets,
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_st,
        |  floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderpriority), (o_orderstatus), ())""".stripMargin),
    QuerySpec("r_ignore_nulls", ignoreNullsCarry,
      """SELECT event_id, user_id, epoch_us(ts) AS us,
        |  floor(coalesce(last_value(
        |      CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |      ROWS UNBOUNDED PRECEDING), -1.0) * 1e4 + 0.5) / 1e4 AS carried
        |FROM events""".stripMargin),
    QuerySpec("r_bitwise_flags", bitwiseFlags,
      """WITH ev AS (SELECT user_id, event_type FROM events WHERE value > 100),
        |idx AS (SELECT event_type,
        |  CAST(row_number() OVER (ORDER BY event_type) - 1 AS INT) AS idx
        |  FROM (SELECT DISTINCT event_type FROM ev)),
        |f AS (SELECT user_id, bit_or(1 << idx) AS flags
        |  FROM ev JOIN idx USING (event_type) GROUP BY user_id)
        |SELECT CAST(flags AS BIGINT) AS flags, count(*) AS n_users,
        |  CAST(flags & 1 AS BIGINT) AS has_first,
        |  CAST(xor(flags, 31) AS BIGINT) AS missing_mask
        |FROM f GROUP BY flags""".stripMargin),
    QuerySpec("r_exists_subquery", existsSubquery,
      """SELECT s.s_nationkey, count(*) AS n_suppliers
        |FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |        WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
        |  AND s.s_suppkey NOT IN (SELECT l_suppkey FROM lineitem
        |        WHERE l_quantity <= 2 AND l_tax = 0.08)
        |GROUP BY s.s_nationkey""".stripMargin))
}
