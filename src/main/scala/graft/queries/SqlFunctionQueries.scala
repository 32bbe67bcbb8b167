package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational rows over Spark's built-in function library and SQL
 * statement surface: error-tolerant arithmetic, string distance,
 * hash, URL, XML, calendar and bit functions, array/map/struct
 * functions, distribution and offset window functions, statistical
 * and boolean aggregates, exact percentiles and approximate sketches,
 * plus statement features (parameter markers, session variables,
 * EXECUTE IMMEDIATE, IDENTIFIER, recursive CTEs, SQL UDFs, LATERAL
 * joins, join hints, table-valued functions, collations).
 *
 * Everything stays in whole-stage codegen where a builtin allows it,
 * and every float that reaches the oracle hash is either a raw
 * parquet value or goes through the shared floor-rounding pattern
 * (`rnd` / `rndSql`).
 */
object SqlFunctionQueries {

  import RelationalQueries.{t, events, rnd, docs, rndSql}

  /** try_divide / try_cast null-on-error semantics (ANSI-safe
   * pipelines without job-killing exceptions): division by zero and
   * unparsable casts degrade to NULL and are counted, not thrown. */
  def tryArith(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        expr("try_divide(l_extendedprice, l_quantity - 22)").as("ratio"),
        expr("""try_cast(CASE WHEN l_quantity % 2 = 1
                THEN concat('x', cast(cast(l_quantity as int) as string))
                ELSE cast(cast(l_quantity as int) as string) END AS int)""")
          .as("parsed"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when(col("ratio").isNull, 1L).otherwise(0L)).as("n_div0"),
        rnd(sum(col("ratio")), 2).as("sum_ratio"),
        sum(when(col("parsed").isNull, 1L).otherwise(0L)).as("n_badcast"),
        sum(col("parsed")).cast("long").as("sum_parsed"))
      .orderBy("l_returnflag")

  /** Levenshtein edit distance (fuzzy matching surface); integer
   * result so the per-brand aggregates are exact. */
  def stringDistance(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .select(col("p_brand"), levenshtein(col("p_name"), col("p_type")).as("d"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(col("d")).cast("long").as("sum_d"),
        min(col("d")).cast("long").as("min_d"),
        max(col("d")).cast("long").as("max_d"),
        rnd(sum(col("d")) / count(lit(1)), 4).as("avg_d"))
      .orderBy("p_brand")

  /** Cryptographic hash surface: md5 + sha2-256 (both lowercase hex
   * in Spark and DuckDB) — content addressing / record signing. */
  def hashFuncs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "nation")
      .select(col("n_name"),
        md5(col("n_name")).as("h_md5"),
        sha2(col("n_name"), 256).as("h_sha256"),
        substring(sha2(concat(col("n_name"), lit("|"),
          col("n_nationkey").cast("string")), 256), 1, 16).as("h_keyed"))
      .orderBy("n_name")

  /** Exact interpolated median (order statistic — deterministic
   * across engines, unlike a summed mean) plus an EXPLICIT
   * deterministic mode (max count, ties broken by smallest value):
   * `mode()` builtins leave tie order engine-defined, so both sides
   * compute the same argmax instead. */
  def medianMode(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir).select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), rnd(expr("median(value)"), 6).as("med"))
    val mode = ev.groupBy("event_type", "value").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(col("c").desc, col("value").asc)))
      .where(col("rk") === 1)
      .select(col("event_type"), rnd(col("value"), 6).as("mode_value"),
        col("c").as("mode_count"))
    med.join(mode, "event_type").orderBy("event_type")
  }

  /** Array slicing / position / distinct surface with integer-only
   * outputs (array containers never reach the oracle hash). */
  def sequenceArrays(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity").cast("int").as("q"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("q"))).as("qs"))
      .select(col("l_orderkey"),
        size(col("qs")).cast("long").as("n"),
        aggregate(slice(col("qs"), 1, 3), lit(0L), (a, x) => a + x)
          .as("first3_sum"),
        array_position(col("qs"), element_at(col("qs"), -1)).as("pos_max"),
        size(array_distinct(col("qs"))).cast("long").as("n_uniq"),
        size(array_union(col("qs"), array(lit(99)))).cast("long").as("n_union"))
      .orderBy("l_orderkey")

  /** array<struct> build + `inline` re-flatten round-trip: grouping
   * rows into ordered struct arrays and exploding them back must be
   * lossless (the contract chunk/pack pipelines rely on). */
  def inlineStructs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("int").as("ln"),
        col("l_quantity").cast("int").as("q"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(col("ln"), col("q")))).as("lines"))
      .select(col("l_orderkey"), inline(col("lines")))
      .select(col("l_orderkey"), col("ln").cast("long").as("ln"),
        col("q").cast("long").as("q"))
      .orderBy("l_orderkey", "ln")

  /** Calendar arithmetic: month add with end-of-month clamping,
   * last_day, day diff, quarter — all emitted as formatted strings /
   * ints so both engines hash identically. */
  def dateArith(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
      .select(col("o_orderkey"),
        date_format(col("d"), "yyyy-MM-dd").as("d_str"),
        date_format(add_months(col("d"), 3), "yyyy-MM-dd").as("plus3m"),
        date_format(last_day(col("d")), "yyyy-MM-dd").as("eom"),
        datediff(lit("1998-12-31").cast("date"), col("d")).cast("long")
          .as("days_to_end"),
        quarter(col("d")).cast("long").as("qtr"))
      .orderBy("o_orderkey")

  /** regexp_extract_all generator surface: every >=7-letter run per
   * document, with count / distinct-count / first / last (array
   * containers reduced to scalars for the hash). */
  def regexpExtractAll(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        expr("regexp_extract_all(text, '[a-z]{7,}', 0)").as("m"))
      .select(col("doc_id"),
        size(col("m")).cast("long").as("n_matches"),
        size(array_distinct(col("m"))).cast("long").as("n_uniq"),
        coalesce(expr("try_element_at(m, 1)"), lit("")).as("first_m"),
        coalesce(expr("try_element_at(m, -1)"), lit("")).as("last_m"))
      .orderBy("doc_id")

  /** first_value / nth_value over explicit full-partition frames
   * (the frame default would truncate nth_value at the current row). */
  def firstNthValue(spark: SparkSession, sfDir: String): DataFrame = {
    val full = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("first_val", first(col("value")).over(full))
      .withColumn("second_val", coalesce(nth_value(col("value"), 2).over(full), lit(-1.0)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
      .where(col("rk") === 1)
      .groupBy("user_id", "first_val", "second_val")
      .agg(count(lit(1)).as("n"))
      .orderBy("user_id")
  }

  /** SCD type-2 dimension build: per-user event history folded into
   * validity intervals [effective_from, effective_to) via lead(),
   * open rows closed with a sentinel — the standard
   * slowly-changing-dimension construction every warehouse load
   * performs (one shuffle on the dimension key, window + project). */
  def scd2Build(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("from_us", unix_micros(col("ts")))
      .withColumn("to_us",
        coalesce(lead(unix_micros(col("ts")), 1).over(w), lit(Long.MaxValue)))
      .withColumn("is_current", (col("to_us") === Long.MaxValue).cast("int").cast("long"))
      .select(col("user_id"), col("event_id"), col("from_us"), col("to_us"),
        col("event_type").as("state"), col("is_current"))
      .orderBy("user_id", "from_us")
  }

  /** Join-strategy hints: the same orders-lineitem join forced
   * through SHUFFLE_HASH (build-side hash map, no sort) — hints
   * steer the planner without changing semantics, so the oracle is
   * the plain join; the physical strategy is pinned by spec. */
  def joinHints(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders").hint("SHUFFLE_HASH")
      .join(t(spark, sfDir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), rnd(sum(col("l_quantity")), 4).as("sum_qty"))
      .orderBy("o_orderpriority")

  /** Keyset-stable pagination: ORDER BY + LIMIT/OFFSET (page 3 of
   * the part catalog, 20 rows per page) — deterministic only because
   * the sort key is unique; the query also carries the page bounds. */
  def offsetLimit(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .orderBy("p_partkey")
      .offset(40).limit(20)
      .select(col("p_partkey"), col("p_brand"), col("p_size").cast("long").as("p_size"))

  /** Spark 4 VARIANT ingestion: parse_json into the binary variant
   * type, navigate with variant_get, and surface is_variant_null /
   * schema introspection — the semi-structured fast path that avoids
   * per-query string re-parsing at scale. */
  def variantJson(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .select(col("event_id"), expr("parse_json(props)").as("v"))
      .select(col("event_id"),
        expr("variant_get(v, '$.k', 'long')").as("k"),
        expr("schema_of_variant(v)").as("v_schema"),
        expr("variant_get(v, '$.missing', 'string')").isNull
          .cast("int").cast("long").as("missing_is_null"))
      .groupBy("v_schema")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        sum(col("missing_is_null")).as("n_missing_null"))
      .orderBy("v_schema")

  /** Map-type higher-order functions: map built from entries,
   * transform_values / map_zip_with, reduced to scalars (map
   * containers never reach the oracle hash — same discipline as the
   * array queries). */
  def mapHigherOrder(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("int").as("ln"),
        col("l_quantity").cast("int").as("q"))
      .groupBy("l_orderkey")
      // linenumbers are NOT unique in the synthetic lineitem, so the
      // map key is the 1..n position of the (ln, q)-sorted entries
      .agg(sort_array(collect_list(struct(col("ln"), col("q")))).as("arr"))
      .select(col("l_orderkey"),
        map_from_arrays(sequence(lit(1), size(col("arr"))),
          transform(col("arr"), s => s.getField("q"))).as("m"))
      .select(col("l_orderkey"),
        size(col("m")).cast("long").as("n_lines"),
        // transform_values: double each quantity, then fold the map values
        aggregate(map_values(transform_values(col("m"), (_, v) => v * 2)),
          lit(0L), (a, x) => a + x).as("doubled_sum"),
        // map_zip_with against itself: q*q per key, take the max
        array_max(map_values(map_zip_with(col("m"), col("m"), (_, a, b) => a * b)))
          .cast("long").as("max_sq"))
      .orderBy("l_orderkey")

  /** Event-time RANGE frame: per event, count and sum over the
   * TRAILING HOUR of the same user's events (value-based range on
   * epoch-micros — the interval-frame idiom for rolling features;
   * same-timestamp rows are frame peers on both engines). */
  def trailingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L)
    events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .withColumn("n_trail", count(lit(1)).over(w))
      .withColumn("sum_trail", rnd(sum(col("value")).over(w), 4))
      .select(col("event_id"), col("user_id"), col("n_trail"), col("sum_trail"))
      .orderBy("event_id")
  }

  /** Ordered string aggregation (LISTAGG): deterministic by sorting
   * the collected array before joining — the only portable way to a
   * stable hash, since collect_list order is partition-dependent. */
  def listAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "nation")
      .join(t(spark, sfDir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy("r_name")

  /** Linear-regression aggregates per group (slope / intercept / r²
   * / correlation of extendedprice on quantity) — the OLS surface
   * both engines define identically; rounded because the partial
   * sums reduce in different orders. */
  def regrStats(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        rnd(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
        rnd(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept"),
        rnd(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
        rnd(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"))
      .orderBy("l_returnflag")

  /** Dispersion + shape moments per event type. Spark's skewness /
   * kurtosis are the POPULATION central-moment forms (m3/m2^1.5,
   * m4/m2²-3); DuckDB's builtins are the bias-corrected sample
   * forms, so the oracle computes the population formulas explicitly
   * from a two-pass central-moment aggregation. */
  def statsMoments(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        rnd(stddev_samp(col("value")), 6).as("sd"),
        rnd(var_samp(col("value")), 6).as("vr"),
        rnd(skewness(col("value")), 6).as("skew"),
        rnd(kurtosis(col("value")), 6).as("kurt"))
      .orderBy("event_type")

  /** Boolean aggregates: bool_and / bool_or / count_if — the
   * predicate-summary surface (data-quality assertions over
   * partitions). */
  def boolAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("bool_and(l_discount < 0.05)").as("all_low_disc"),
        expr("bool_or(l_tax > 0.07)").as("any_high_tax"),
        expr("count_if(l_quantity > 45)").as("n_big_qty"))
      .orderBy("l_returnflag")

  /** Generated calendar dimension: sequence() from min to max order
   * date, exploded to one row per day, left-joined with daily order
   * counts (zero-filled), rolled up per day-of-week. `dayofweek - 1`
   * aligns Spark's 1=Sunday with DuckDB's 0=Sunday. */
  def calendarSeries(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
      .select(to_date(col("o_orderdate")).as("d"))
    val range = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val cal = range.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d"))
    val daily = o.groupBy("d").agg(count(lit(1)).as("n"))
    cal.join(daily, Seq("d"), "left")
      .select((dayofweek(col("d")) - 1).as("dow"),
        coalesce(col("n"), lit(0L)).as("n"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_days"),
        sum(col("n")).as("n_orders"),
        expr("count_if(n = 0)").as("n_empty_days"))
      .orderBy("dow")
  }

  /** URL parsing surface (parse_url HOST / PATH / QUERY-param) over
   * synthesized event URLs; the oracle mirrors with regexes. */
  def urlFuncs(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .select(concat(lit("https://"), col("event_type"),
        lit(".example.com/u/"), col("user_id").cast("string"),
        lit("?v="), col("event_id").cast("string")).as("url"))
      .select(expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY', 'v')").as("v"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("path")).as("n_paths"),
        max(col("v").cast("long")).as("max_v"))
      .orderBy("host")

  /** Equi-width histogram via width_bucket(value, 0, 500, 10):
   * bucket 0 = below range, 11 = at/above max. DuckDB has no
   * width_bucket, so the oracle evaluates the same floor((v-lo)/w)+1
   * double arithmetic — bit-identical bucketing. */
  def widthBucket(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .select(expr("width_bucket(value, 0.0D, 500.0D, 10)").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** HLL distinct sketch (DataSketches) checked against the exact
   * distinct count: the output row carries the exact count plus a
   * boolean "estimate within 2%" — which the deterministic oracle
   * states as TRUE, so the hash compare verifies the sketch's
   * accuracy contract without demanding a bit-equal estimate. At
   * 100 TB the sketch replaces a full distinct shuffle with a
   * mergeable fixed-size state. */
  def hllSketch(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          col("n_exact").cast("double") * 0.02).as("est_ok"))
      .orderBy("event_type")

  /** Recursive CTE (Spark 4 UnionLoop): 1..100 series folded into
   * count / sum / sum-of-squares — the SQL-recursion capability
   * probe (the data-driven fixed point lives in
   * g_connected_components' oracle). */
  def recursiveCte(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      """WITH RECURSIVE t(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 100)
        |SELECT count(*) AS n_rows, CAST(sum(n) AS BIGINT) AS total,
        |  CAST(sum(n * n) AS BIGINT) AS total_sq
        |FROM t""".stripMargin)

  /** Case-insensitive collation (Spark 4 COLLATE UTF8_LCASE) vs
   * binary comparison over a deliberately mixed-case column: the
   * distinct counts differ exactly by the case folding. */
  def collation(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .select(when(col("p_partkey") % 2 === 0, upper(col("p_brand")))
        .otherwise(lower(col("p_brand"))).as("b"))
      .agg(countDistinct(col("b")).as("n_binary"),
        countDistinct(expr("collate(b, 'UTF8_LCASE')")).as("n_ci"))

  /** str_to_map key=value parsing (the config-string / log-line
   * ingestion surface). */
  def strToMap(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .select(concat(lit("et="), col("event_type"), lit(";uid="),
        (col("user_id") % 10).cast("string")).as("s"))
      .select(expr("str_to_map(s, ';', '=')").as("m"))
      .select(expr("element_at(m, 'et')").as("et"),
        expr("element_at(m, 'uid')").cast("long").as("uid"))
      .groupBy(col("et"))
      .agg(count(lit(1)).as("n"), countDistinct(col("uid")).as("n_uids"),
        max(col("uid")).as("max_uid"))
      .orderBy("et")

  /** XML ingestion (Spark 4 native from_xml): schema-full parse of
   * constructed XML records, round-tripping the source values. */
  def xmlExtract(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "nation")
      .select(concat(lit("<r><n>"), col("n_name"), lit("</n><k>"),
        col("n_nationkey").cast("string"), lit("</k></r>")).as("x"))
      .select(expr("from_xml(x, 'n STRING, k INT')").as("r"))
      .select(col("r.n").as("name"), col("r.k").cast("long").as("key"))
      .orderBy("name")

  /** SQL-defined scalar function (Spark 4 `CREATE FUNCTION ...
   * RETURN expr`): the declared body inlines into the plan like any
   * builtin expression — full codegen, no JVM closure — which is
   * exactly why it beats a Scala UDF at scale. */
  def sqlUdf(spark: SparkSession, sfDir: String): DataFrame = {
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, d DOUBLE)
        |RETURNS DOUBLE RETURN p * (1.0 - d)""".stripMargin)
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        rnd(sum(expr("graft_disc_price(l_extendedprice, l_discount)")), 2)
          .as("sum_disc_price"))
      .orderBy("l_returnflag")
  }

  /** Distribution window functions: for the top-5 events per type
   * (by value desc, id asc — a unique total order, so both engines
   * agree on every frame) the cumulative distribution and percent
   * rank within the full partition. The full-partition scan is the
   * semantics (cume_dist needs the partition size); the top-5
   * filter afterwards keeps the output bounded. */
  def cumeDist(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"),
        row_number().over(w).as("rn"),
        cume_dist().over(w).as("cd"),
        percent_rank().over(w).as("pr"))
      .where(col("rn") <= 5)
      .select(col("event_type"), col("rn"), col("event_id"),
        rnd(col("value"), 4).as("value"),
        rnd(col("cd"), 6).as("cd"), rnd(col("pr"), 6).as("pr"))
      .orderBy("event_type", "rn")
  }

  /** Exact ordered-set percentiles (WITHIN GROUP): the interpolated
   * median (rounded — interpolation arithmetic) and the discrete
   * quartiles (exact source values, bit-identical on both engines). */
  def percentileDisc(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir).createOrReplaceTempView("r7_events_pd")
    spark.sql(
      """SELECT event_type, count(*) AS n,
        |  floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY value) * 1e6 + 0.5) / 1e6 AS p50_cont,
        |  percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS p25_disc,
        |  percentile_disc(0.75) WITHIN GROUP (ORDER BY value) AS p75_disc
        |FROM r7_events_pd GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Covariance aggregates + regression means per group — the
   * bivariate-statistics surface beside r_regr_stats' OLS fit. */
  def covarStats(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        rnd(covar_pop(col("l_extendedprice"), col("l_quantity")), 4).as("cov_pop"),
        rnd(covar_samp(col("l_extendedprice"), col("l_quantity")), 4).as("cov_samp"),
        rnd(expr("regr_avgx(l_extendedprice, l_quantity)"), 6).as("avg_x"),
        rnd(expr("regr_avgy(l_extendedprice, l_quantity)"), 6).as("avg_y"))
      .orderBy("l_returnflag")

  /** GROUP BY ALL (infer grouping keys from the select list) — the
   * analyst-ergonomics surface DuckDB pioneered and Spark adopted. */
  def groupByAll(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "lineitem").createOrReplaceTempView("r7_lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM r7_lineitem GROUP BY ALL ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** Correlated LATERAL subquery join: top-2 suppliers per nation by
   * account balance. Catalyst plans the correlated ORDER BY/LIMIT as
   * a per-group window limit after decorrelation — never a driver
   * loop over nations. */
  def lateralJoin(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "nation").createOrReplaceTempView("r7_nation")
    t(spark, sfDir, "supplier").createOrReplaceTempView("r7_supplier")
    spark.sql(
      """SELECT n_name, s_name, s_acctbal
        |FROM r7_nation,
        |LATERAL (SELECT s_name, s_acctbal FROM r7_supplier
        |         WHERE s_nationkey = n_nationkey
        |         ORDER BY s_acctbal DESC, s_name LIMIT 2)
        |ORDER BY n_name, s_acctbal DESC, s_name""".stripMargin)
  }

  /** Data masking (the builtin mask(): upper->X, lower->x, digit->n,
   * punctuation unchanged) over customer names and brand codes — the
   * shape-preserving PII anonymization the redaction pipeline's
   * regex pass (p_pii_redact) doesn't cover. */
  def maskFunc(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "customer")
      .select(expr("mask(c_name)").as("name_shape"),
        expr("mask(c_mktsegment)").as("seg_shape"))
      .groupBy(col("name_shape"), col("seg_shape"))
      .agg(count(lit(1)).as("n"))
      .orderBy("name_shape", "seg_shape")

  /** Delimited-string part extraction over a synthesized
   * segment-nation-key code: split_part, substring_index (everything
   * up to the Nth delimiter), and position-selected elt. */
  def splitPart(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "customer")
      .select(concat(col("c_mktsegment"), lit("-"),
        col("c_nationkey").cast("string"), lit("-"),
        (col("c_custkey") % 100).cast("string")).as("code"),
        col("c_custkey"))
      .select(split_part(col("code"), lit("-"), lit(2)).as("nk"),
        substring_index(col("code"), "-", 2).as("prefix2"),
        expr("elt(1 + c_custkey % 2, 'even', 'odd')").as("parity"))
      .groupBy(col("nk"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("prefix2")).as("n_prefixes"),
        expr("count_if(parity = 'even')").as("n_even"))
      .orderBy("nk")

  /** Binary-to-text encodings: base64 and hex of the name bytes, the
   * decode round trip asserted inline, and ascii/chr arithmetic. */
  def encodingFuncs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "nation")
      .select(col("n_name"),
        base64(col("n_name").cast("binary")).as("b64"),
        hex(col("n_name")).as("hx"),
        (unbase64(base64(col("n_name").cast("binary"))).cast("string")
          === col("n_name")).as("rt_ok"),
        ascii(col("n_name")).as("a"),
        expr("char(ascii(n_name) + 1)").as("next_ch"))
      .orderBy("n_name")

  /** Bit manipulation: population count, shifts, and XOR folded into
   * per-type integer-exact checksums (id spaces stay far below 2^53,
   * so every sum is exact). */
  def bitShift(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(bit_count(col("event_id"))).as("sum_popcount"),
        sum(shiftleft(col("user_id") % 16, 2)).as("sum_shl"),
        sum(shiftright(col("event_id"), 3)).as("sum_shr"),
        sum(col("event_id").bitwiseXOR(col("user_id"))).as("sum_xor"))
      .orderBy("event_type")

  /** stack() UDTF: pivot a one-row aggregate into (metric, value)
   * rows — the generator-expression counterpart of unpivot. */
  def stackUdtf(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .agg(rnd(sum(col("l_quantity")), 2).as("sq"),
        rnd(sum(col("l_extendedprice")), 2).as("sp"),
        count(lit(1)).cast("double").as("nr"))
      .select(expr("stack(3, 'sum_qty', sq, 'sum_price', sp, 'n_rows', nr)")
        .as(Seq("metric", "value")))
      .orderBy("metric")

  /** to_csv / from_csv expression pair: serialize a struct to a CSV
   * line and parse it back schema-fully — the per-record string
   * codec (the file-level CSV round trip is r_csv_quoted_roundtrip). */
  def csvExpr(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "nation")
      .select(to_csv(struct(col("n_nationkey"), col("n_name"))).as("line"))
      .select(col("line"),
        expr("from_csv(line, 'k INT, n STRING')").as("r"))
      .select(col("line"), col("r.k").cast("long").as("k"), col("r.n").as("n"))
      .orderBy("k")

  /** Parameterized SQL (named-marker spark.sql(text, args)) — the
   * injection-safe templating surface; the oracle inlines the same
   * constants. */
  def paramSql(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "lineitem").createOrReplaceTempView("r7_li_param")
    spark.sql(
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM r7_li_param
        |WHERE l_quantity < :maxq AND l_discount >= :mind
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      Map("maxq" -> 25, "mind" -> 0.05))
  }

  /** Null-handling scalar surface: nullif / nvl / nvl2 / equal_null
   * and null-skipping greatest/least, over a column made sparse by a
   * deterministic predicate. */
  def nullFuncs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice")).as("p"),
        col("o_totalprice").as("q"))
      .select(
        expr("nullif(o_orderkey % 3, 0)").as("nz"),
        expr("nvl(p, -1.0)").as("p_filled"),
        expr("nvl2(p, 'present', 'absent')").as("presence"),
        expr("equal_null(p, q)").as("eq_nn"),
        greatest(col("p"), col("q"), lit(50000.0)).as("g"),
        least(col("p"), lit(50000.0)).as("l"))
      .groupBy(col("presence"))
      .agg(count(lit(1)).as("n"),
        expr("count_if(nz IS NULL)").as("n_null_nz"),
        rnd(sum(col("p_filled")), 2).as("sum_p_filled"),
        expr("count_if(eq_nn)").as("n_eq"),
        rnd(sum(col("g")), 2).as("sum_g"),
        rnd(sum(col("l")), 2).as("sum_l"))
      .orderBy("presence")

  /** Datetime constructors: make_date / make_timestamp from integer
   * fields, reduced to epoch micros (engine-portable stringification). */
  def makeDatetime(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
      .select(col("o_orderkey"),
        expr("make_date(year(d), month(d), day(d))").as("md"),
        expr("make_timestamp(year(d), month(d), day(d), 12, 30, 45.5)").as("mts"))
      .select((col("o_orderkey") % 7).as("k"),
        col("md"), expr("unix_micros(mts)").as("us"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        date_format(min(col("md")), "yyyy-MM-dd").as("min_d"),
        date_format(max(col("md")), "yyyy-MM-dd").as("max_d"),
        sum(col("us")).as("sum_us"))
      .orderBy("k")

  /** AES-128 ECB encrypt/decrypt round trip — the column-encryption
   * capability probe. ECB is the deterministic mode (GCM salts a
   * random IV per call, unusable under a hash compare); the oracle
   * cannot run AES, so the contract is self-certifying: exact row
   * count plus the all-rows-round-tripped boolean stated TRUE. */
  def aesRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "customer")
      .select(col("c_name"),
        expr("aes_encrypt(c_name, '0000111122223333', 'ECB')").as("ct"))
      .select(col("c_name"),
        expr("cast(aes_decrypt(ct, '0000111122223333', 'ECB') AS STRING)").as("rt"))
      .agg(count(lit(1)).as("n"),
        expr("bool_and(rt = c_name)").as("all_roundtrip_ok"),
        countDistinct(col("rt")).as("n_distinct"))

  /** IDENTIFIER clause (Spark 4): injection-safe dynamic table /
   * column references from parameters — the templating counterpart
   * of r_param_sql for identifiers, where string interpolation would
   * be an injection hole. */
  def identifierClause(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "nation").createOrReplaceTempView("r7_id_nation")
    spark.sql(
      """SELECT count(*) AS n, max(IDENTIFIER(:keycol)) AS max_key
        |FROM IDENTIFIER(:tbl)""".stripMargin,
      Map("tbl" -> "r7_id_nation", "keycol" -> "n_nationkey"))
      .select(col("n"), col("max_key").cast("long").as("max_key"))
  }

  /** Table-valued function in FROM position: range() joined against
   * a fact aggregate — the generated-dimension shape without a
   * source table (the sequence()/explode form is r_calendar_series). */
  def rangeTvf(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "lineitem").createOrReplaceTempView("r7_li_tvf")
    spark.sql(
      """SELECT r.id AS qty, coalesce(f.n, 0) AS n
        |FROM range(1, 51) r
        |LEFT JOIN (SELECT CAST(l_quantity AS BIGINT) AS q, count(*) AS n
        |           FROM r7_li_tvf GROUP BY 1) f
        |  ON f.q = r.id
        |ORDER BY qty""".stripMargin)
  }

  /** Pivot with MULTIPLE aggregates per cell (count + rounded sum
   * per pivoted return flag) — the multi-measure crosstab shape;
   * one shuffle, measures fused in a single aggregate. */
  def pivotMultiAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)).as("n"),
        rnd(sum(col("l_quantity")), 2).as("qty"))
      // a pivot cell with no rows is NULL; count semantics say 0
      // (sums legitimately stay NULL on both engines)
      .select(col("l_linestatus"),
        coalesce(col("A_n"), lit(0L)).as("A_n"), col("A_qty"),
        coalesce(col("N_n"), lit(0L)).as("N_n"), col("N_qty"),
        coalesce(col("R_n"), lit(0L)).as("R_n"), col("R_qty"))
      .orderBy("l_linestatus")

  /** Session variables (Spark 4 DECLARE / SET VAR): typed,
   * session-scoped state referenced directly in queries — the SQL
   * scripting surface (vs r_param_sql's per-statement markers). */
  def sessionVar(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "lineitem").createOrReplaceTempView("r7_li_var")
    spark.sql("DECLARE OR REPLACE VARIABLE r7_maxq DOUBLE DEFAULT 10.0")
    spark.sql("SET VAR r7_maxq = 25.0")
    spark.sql(
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM r7_li_var WHERE l_quantity < r7_maxq
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** EXECUTE IMMEDIATE with USING parameters: SQL-from-SQL dynamic
   * statement execution, parameter-bound (never interpolated). */
  def execImmediate(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "orders").createOrReplaceTempView("r7_ord_imm")
    spark.sql(
      """EXECUTE IMMEDIATE
        |  'SELECT o_orderpriority, count(*) AS n,
        |     floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS sum_price
        |   FROM r7_ord_imm WHERE o_orderstatus = ? GROUP BY o_orderpriority'
        |  USING 'F'""".stripMargin)
      .orderBy("o_orderpriority")
  }

  /** Sketch SET OPERATIONS: audience-overlap estimate from merged
   * HLL sketches via inclusion-exclusion (|A∩B| = |A|+|B|-|A∪B|),
   * checked against the exact join-based overlap. The point at
   * 100 TB: the two audience sketches are fixed-size mergeable
   * states built in one pass each — the exact form is a distinct
   * shuffle plus a join. Self-certifying contract: exact counts from
   * the oracle, the estimate-within-tolerance boolean stated TRUE
   * (inclusion-exclusion compounds the three sketch errors, hence
   * the 10% + 5 absolute slack). */
  def sketchSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    val sk = ev.agg(
      expr("hll_sketch_agg(CASE WHEN event_type = 'view' THEN user_id END)").as("sv"),
      expr("hll_sketch_agg(CASE WHEN event_type = 'purchase' THEN user_id END)").as("sp"))
      .select(
        expr("hll_sketch_estimate(sv)").as("est_v"),
        expr("hll_sketch_estimate(sp)").as("est_p"),
        expr("hll_sketch_estimate(hll_union(sv, sp))").as("est_u"))
    val exact = ev.agg(
      countDistinct(when(col("event_type") === "view", col("user_id"))).as("n_view"),
      countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("n_purchase"))
      .crossJoin(
        ev.where(col("event_type") === "view").select(col("user_id")).distinct()
          .join(ev.where(col("event_type") === "purchase")
            .select(col("user_id")).distinct(), "user_id")
          .agg(count(lit(1)).as("n_both")))
    sk.crossJoin(exact)
      .select(col("n_view"), col("n_purchase"), col("n_both"),
        (abs(col("est_v") + col("est_p") - col("est_u") - col("n_both")) <=
          col("n_both") * 0.1 + 5.0).as("overlap_est_ok"))
  }

  /** Null-preserving generators: explode_outer / posexplode_outer
   * keep the parent row (null element) when the array is empty —
   * the LEFT-JOIN-shaped UDTF the inner forms drop. Arrays are the
   * per-order part lists, emptied for a deterministic subset. */
  def explodeOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val arrs = t(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("parts"))
      .select(col("l_orderkey"),
        when(col("l_orderkey") % 5 === 0, array().cast("array<bigint>"))
          .otherwise(col("parts")).as("parts"))
    arrs.select(col("l_orderkey"), explode_outer(col("parts")).as("pk"))
      .groupBy((col("l_orderkey") % 7).as("k"))
      .agg(count(lit(1)).as("n_rows"),
        expr("count_if(pk IS NULL)").as("n_empty"),
        sum(col("pk")).as("sum_pk"))
      .orderBy("k")
  }

  /** Heavy-hitter sketch (df.stat.freqItems, the Karp-Papadimitriou-
   * Shenker one-pass summary): the algorithm GUARANTEES every item
   * with frequency above the support threshold is in the result —
   * the self-certifying boolean; the exact heavy-hitter set comes
   * from the oracle. False positives are expected and irrelevant. */
  def freqItemsSketch(spark: SparkSession, sfDir: String): DataFrame = {
    // least(x % 20, 5) folds 15 of 20 uniform buckets into one hot
    // key (~75% mass) — a deterministic skew at every scale, so the
    // heavy-hitter set is never empty
    val ev = events(spark, sfDir)
      .select(least(col("user_id") % 20, lit(5L)).as("bucket"))
    val sketch = ev.stat.freqItems(Array("bucket"), 0.08)
      .head().getSeq[Long](0).toSet
    val exact = ev.groupBy("bucket").agg(count(lit(1)).as("c"))
      .crossJoin(ev.agg(count(lit(1)).as("total")))
      .where(col("c") > col("total") * 0.08)
      .select(col("bucket")).collect().map(_.getLong(0)).sorted
    spark.createDataFrame(Seq((
      exact.length.toLong,
      exact.mkString(","),
      exact.forall(sketch.contains))))
      .toDF("n_heavy", "heavy_buckets", "sketch_contains_all")
  }

  /** approx_top_k (Spark 4 DataSketches frequent-items aggregate)
   * over the 100 user buckets of the events table. With 100 distinct
   * items against the sketch's default 10k tracked slots the
   * estimates are EXACT (the sketch only sheds when capacity
   * overflows), so the counts value-match the oracle — the
   * graduation the HLL rows could not make (their estimate depends
   * on private sketch internals; frequent-items exactness under
   * capacity is a documented structural guarantee). The emitted SET
   * is made tie-free by construction: only keys whose count is
   * STRICTLY greater than the 10th-largest count survive (the
   * sketch's choice AMONG boundary-tied keys is hash-arbitrary —
   * measured: keys 28/42 both at n=144 at sf0.01 — so the boundary
   * itself must not be emitted). k=20 over-fetch guarantees the
   * strictly-above set (at most 9 keys) is fully inside the sketch
   * rows; the survivors are ranked after a bounded O(9) collect. */
  def approxTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = RelationalQueries.events(spark, sfDir)
    val sk = ev
      .selectExpr("explode(approx_top_k(CAST(user_id % 100 AS STRING), 20)) AS e")
      .select(col("e.item").as("key"), col("e.count").as("n")).cache()
    val t = sk.orderBy(col("n").desc).limit(10).agg(min(col("n"))).head().getLong(0)
    // the survivors are <= 9 sketch rows — rank them driver-side
    // (no single-partition window, the O(9) collect is bounded)
    val survivors = sk.where(col("n") > t).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (k, n) => (-n, k) }
    sk.unpersist(blocking = false)
    spark.createDataFrame(
      survivors.zipWithIndex.map { case ((k, n), i) => (k, n, (i + 1).toLong) }.toSeq)
      .toDF("key", "n", "rank")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("r_offset_limit", offsetLimit,
      """SELECT p_partkey, p_brand, CAST(p_size AS BIGINT) AS p_size
        |FROM part ORDER BY p_partkey LIMIT 20 OFFSET 40""".stripMargin),
    QuerySpec("r_trailing_window", trailingWindow,
      """SELECT event_id, user_id,
        |  count(*) OVER fr AS n_trail,
        |  floor(sum(value) OVER fr * 1e4 + 0.5) / 1e4 AS sum_trail
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events)
        |WINDOW fr AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin),
    // every props value is {"k": <int>} so schema_of_variant is the
    // constant OBJECT<k: BIGINT>; the oracle states the same literal
    QuerySpec("r_variant_json", variantJson,
      """SELECT 'OBJECT<k: BIGINT>' AS v_schema, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n_missing_null
        |FROM events""".stripMargin),
    QuerySpec("r_map_higher_order", mapHigherOrder,
      """WITH g AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS INT) * 2) AS BIGINT) AS doubled_sum,
        |    CAST(max(CAST(l_quantity AS INT) * CAST(l_quantity AS INT)) AS BIGINT) AS max_sq,
        |    count(*) AS n_lines
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, n_lines, doubled_sum, max_sq FROM g""".stripMargin),
    QuerySpec("r_join_hints", joinHints,
      """SELECT o_orderpriority, count(*) AS n,
        |  floor(sum(l_quantity) * 1e4 + 0.5) / 1e4 AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin),
    QuerySpec("r_scd2", scd2Build,
      """SELECT user_id, event_id, epoch_us(ts) AS from_us,
        |  coalesce(lead(epoch_us(ts), 1) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id),
        |    9223372036854775807) AS to_us,
        |  event_type AS state,
        |  CAST(CASE WHEN lead(epoch_us(ts), 1) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM events""".stripMargin),
    QuerySpec("r_regexp_extract_all", regexpExtractAll,
      """WITH m AS (SELECT doc_id, regexp_extract_all(text, '[a-z]{7,}') AS m
        |  FROM documents)
        |SELECT doc_id, CAST(len(m) AS BIGINT) AS n_matches,
        |  CAST(len(list_distinct(m)) AS BIGINT) AS n_uniq,
        |  coalesce(m[1], '') AS first_m, coalesce(m[-1], '') AS last_m
        |FROM m""".stripMargin),
    QuerySpec("r_first_nth_value", firstNthValue,
      """WITH w AS (SELECT user_id, event_id, ts, value,
        |    first_value(value) OVER fr AS first_val,
        |    coalesce(nth_value(value, 2) OVER fr, -1.0) AS second_val,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
        |  FROM events
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, first_val, second_val, count(*) AS n
        |FROM w WHERE rk = 1 GROUP BY user_id, first_val, second_val""".stripMargin),
    QuerySpec("r_try_arith", tryArith,
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_quantity = 22 THEN 1 ELSE 0 END) AS BIGINT) AS n_div0,
        |  floor(sum(l_extendedprice / nullif(l_quantity - 22, 0)) * 1e2 + 0.5) / 1e2 AS sum_ratio,
        |  CAST(sum(CASE WHEN try_cast(CASE WHEN CAST(l_quantity AS INT) % 2 = 1
        |        THEN 'x' || CAST(CAST(l_quantity AS INT) AS VARCHAR)
        |        ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) END AS INT) IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_badcast,
        |  CAST(sum(try_cast(CASE WHEN CAST(l_quantity AS INT) % 2 = 1
        |        THEN 'x' || CAST(CAST(l_quantity AS INT) AS VARCHAR)
        |        ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) END AS INT)) AS BIGINT) AS sum_parsed
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("r_string_distance", stringDistance,
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(levenshtein(p_name, p_type)) AS BIGINT) AS sum_d,
        |  CAST(min(levenshtein(p_name, p_type)) AS BIGINT) AS min_d,
        |  CAST(max(levenshtein(p_name, p_type)) AS BIGINT) AS max_d,
        |  floor(sum(levenshtein(p_name, p_type)) * 1.0 / count(*) * 1e4 + 0.5) / 1e4 AS avg_d
        |FROM part GROUP BY p_brand""".stripMargin),
    QuerySpec("r_hash_funcs", hashFuncs,
      """SELECT n_name, md5(n_name) AS h_md5, sha256(n_name) AS h_sha256,
        |  substr(sha256(n_name || '|' || CAST(n_nationkey AS VARCHAR)), 1, 16) AS h_keyed
        |FROM nation""".stripMargin),
    QuerySpec("r_median_mode", medianMode,
      """WITH med AS (
        |  SELECT event_type, count(*) AS n,
        |    floor(median(CAST(value AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS med
        |  FROM events GROUP BY event_type),
        |cnt AS (SELECT event_type, value, count(*) AS c FROM events GROUP BY 1, 2),
        |md AS (SELECT event_type, value, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c DESC, value ASC) AS rk
        |  FROM cnt)
        |SELECT m.event_type, m.n, m.med,
        |  floor(md.value * 1e6 + 0.5) / 1e6 AS mode_value, md.c AS mode_count
        |FROM med m JOIN md ON md.event_type = m.event_type AND md.rk = 1""".stripMargin),
    QuerySpec("r_sequence_arrays", sequenceArrays,
      """WITH g AS (
        |  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS INT))) AS qs
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, CAST(len(qs) AS BIGINT) AS n,
        |  CAST(list_aggregate(list_slice(qs, 1, 3), 'sum') AS BIGINT) AS first3_sum,
        |  CAST(list_position(qs, qs[-1]) AS BIGINT) AS pos_max,
        |  CAST(len(list_distinct(qs)) AS BIGINT) AS n_uniq,
        |  CAST(len(list_distinct(list_concat(qs, [99]))) AS BIGINT) AS n_union
        |FROM g""".stripMargin),
    QuerySpec("r_inline_structs", inlineStructs,
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
        |  CAST(CAST(l_quantity AS INT) AS BIGINT) AS q
        |FROM lineitem""".stripMargin),
    QuerySpec("r_date_arith", dateArith,
      """SELECT o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d_str,
        |  strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS plus3m,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_end,
        |  CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS qtr
        |FROM orders""".stripMargin),
    QuerySpec("r_sql_udf", sqlUdf,
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${rndSql("sum(l_extendedprice * (1.0 - l_discount))", 2)}
         |    AS sum_disc_price
         |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("r_collation", collation,
      """WITH b AS (SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
        |    ELSE lower(p_brand) END AS b FROM part)
        |SELECT count(DISTINCT b) AS n_binary,
        |  count(DISTINCT lower(b)) AS n_ci FROM b""".stripMargin),
    QuerySpec("r_str_to_map", strToMap,
      """WITH s AS (SELECT event_type AS et, user_id % 10 AS uid FROM events)
        |SELECT et, count(*) AS n, count(DISTINCT uid) AS n_uids,
        |  CAST(max(uid) AS BIGINT) AS max_uid
        |FROM s GROUP BY et""".stripMargin),
    QuerySpec("r_xml_extract", xmlExtract,
      """SELECT n_name AS name, CAST(n_nationkey AS BIGINT) AS key
        |FROM nation""".stripMargin),
    QuerySpec("r_listagg", listAgg,
      """SELECT r_name, count(*) AS n_nations,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),
    QuerySpec("r_regr_stats", regrStats,
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${rndSql("regr_slope(l_extendedprice, l_quantity)", 4)} AS slope,
         |  ${rndSql("regr_intercept(l_extendedprice, l_quantity)", 4)} AS icept,
         |  ${rndSql("regr_r2(l_extendedprice, l_quantity)", 6)} AS r2,
         |  ${rndSql("corr(l_extendedprice, l_quantity)", 6)} AS corr_pq
         |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("r_stats_moments", statsMoments,
      s"""WITH mu AS (SELECT event_type, avg(value) AS m FROM events GROUP BY 1),
         |c AS (SELECT e.event_type, count(*) AS n,
         |    stddev_samp(value) AS sd, var_samp(value) AS vr,
         |    sum(pow(value - m, 2)) / count(*) AS m2,
         |    sum(pow(value - m, 3)) / count(*) AS m3,
         |    sum(pow(value - m, 4)) / count(*) AS m4
         |  FROM events e JOIN mu ON mu.event_type = e.event_type GROUP BY 1)
         |SELECT event_type, n, ${rndSql("sd", 6)} AS sd, ${rndSql("vr", 6)} AS vr,
         |  ${rndSql("m3 / pow(m2, 1.5)", 6)} AS skew,
         |  ${rndSql("m4 / (m2 * m2) - 3", 6)} AS kurt
         |FROM c""".stripMargin),
    QuerySpec("r_bool_agg", boolAgg,
      """SELECT l_returnflag, count(*) AS n,
        |  bool_and(l_discount < 0.05) AS all_low_disc,
        |  bool_or(l_tax > 0.07) AS any_high_tax,
        |  CAST(count_if(l_quantity > 45) AS BIGINT) AS n_big_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("r_calendar_series", calendarSeries,
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders),
        |r AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
        |cal AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM r),
        |daily AS (SELECT d, count(*) AS n FROM o GROUP BY d)
        |SELECT dayofweek(cal.d) AS dow, count(*) AS n_days,
        |  CAST(sum(coalesce(daily.n, 0)) AS BIGINT) AS n_orders,
        |  CAST(count_if(daily.n IS NULL) AS BIGINT) AS n_empty_days
        |FROM cal LEFT JOIN daily ON cal.d = daily.d
        |GROUP BY 1""".stripMargin),
    QuerySpec("r_url_funcs", urlFuncs,
      """WITH u AS (SELECT 'https://' || event_type || '.example.com/u/' ||
        |    user_id || '?v=' || event_id AS url FROM events),
        |p AS (SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
        |    regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
        |    regexp_extract(url, 'v=(\d+)', 1) AS v FROM u)
        |SELECT host, count(*) AS n,
        |  count(DISTINCT path) AS n_paths,
        |  CAST(max(CAST(v AS BIGINT)) AS BIGINT) AS max_v
        |FROM p GROUP BY host""".stripMargin),
    QuerySpec("r_width_bucket", widthBucket,
      """SELECT CASE WHEN value < 0 THEN 0
        |  WHEN value >= 500 THEN 11
        |  ELSE CAST(floor(value / 50.0) AS BIGINT) + 1 END AS bucket,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("r_hll_sketch", hllSketch,
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_exact, TRUE AS est_ok
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("r_recursive_cte", recursiveCte,
      """WITH RECURSIVE t(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 100)
        |SELECT count(*) AS n_rows, CAST(sum(n) AS BIGINT) AS total,
        |  CAST(sum(n * n) AS BIGINT) AS total_sq
        |FROM t""".stripMargin),
    QuerySpec("r_explode_outer", explodeOuter,
      """WITH arrs AS (
        |  SELECT l_orderkey,
        |    CASE WHEN l_orderkey % 5 = 0 THEN []::BIGINT[]
        |         ELSE list_sort(list(l_partkey)) END AS parts
        |  FROM lineitem GROUP BY l_orderkey),
        |ex AS (
        |  SELECT l_orderkey, u.pk
        |  FROM arrs LEFT JOIN LATERAL (SELECT unnest(parts) AS pk) u ON TRUE)
        |SELECT l_orderkey % 7 AS k, count(*) AS n_rows,
        |  CAST(count_if(pk IS NULL) AS BIGINT) AS n_empty,
        |  CAST(sum(pk) AS BIGINT) AS sum_pk
        |FROM ex GROUP BY 1""".stripMargin),
    QuerySpec("r_freq_items", freqItemsSketch,
      """WITH b AS (SELECT least(user_id % 20, 5) AS bucket FROM events),
        |tot AS (SELECT count(*) AS total FROM b),
        |h AS (SELECT bucket FROM b, tot GROUP BY bucket, total
        |      HAVING count(*) > total * 0.08 ORDER BY bucket)
        |SELECT (SELECT count(*) FROM h) AS n_heavy,
        |  (SELECT string_agg(bucket, ',' ORDER BY bucket) FROM h) AS heavy_buckets,
        |  TRUE AS sketch_contains_all""".stripMargin),
    QuerySpec("r_sketch_setops", sketchSetOps,
      """WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
        |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM p) AS n_purchase,
        |  (SELECT count(*) FROM v JOIN p USING (user_id)) AS n_both,
        |  TRUE AS overlap_est_ok""".stripMargin),
    QuerySpec("r_session_var", sessionVar,
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem WHERE l_quantity < 25.0
        |GROUP BY l_returnflag""".stripMargin),
    QuerySpec("r_exec_immediate", execImmediate,
      """SELECT o_orderpriority, count(*) AS n,
        |  floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS sum_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin),
    QuerySpec("r_identifier", identifierClause,
      """SELECT count(*) AS n, CAST(max(n_nationkey) AS BIGINT) AS max_key
        |FROM nation""".stripMargin),
    QuerySpec("r_range_tvf", rangeTvf,
      """SELECT r.range AS qty, coalesce(f.n, 0) AS n
        |FROM range(1, 51) r
        |LEFT JOIN (SELECT CAST(l_quantity AS BIGINT) AS q, count(*) AS n
        |           FROM lineitem GROUP BY 1) f
        |  ON f.q = r.range""".stripMargin),
    QuerySpec("r_pivot_multi_agg", pivotMultiAgg,
      s"""SELECT l_linestatus,
         |  CAST(count_if(l_returnflag = 'A') AS BIGINT) AS A_n,
         |  ${rndSql("sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END)", 2)} AS A_qty,
         |  CAST(count_if(l_returnflag = 'N') AS BIGINT) AS N_n,
         |  ${rndSql("sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END)", 2)} AS N_qty,
         |  CAST(count_if(l_returnflag = 'R') AS BIGINT) AS R_n,
         |  ${rndSql("sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END)", 2)} AS R_qty
         |FROM lineitem GROUP BY l_linestatus""".stripMargin),
    QuerySpec("r_null_funcs", nullFuncs,
      s"""WITH s AS (SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END AS p,
         |    o_totalprice AS q
         |  FROM orders),
         |f AS (SELECT
         |    nullif(o_orderkey % 3, 0) AS nz,
         |    coalesce(p, -1.0) AS p_filled,
         |    CASE WHEN p IS NOT NULL THEN 'present' ELSE 'absent' END AS presence,
         |    (p IS NOT DISTINCT FROM q) AS eq_nn,
         |    greatest(p, q, 50000.0) AS g,
         |    least(p, 50000.0) AS l
         |  FROM s)
         |SELECT presence, count(*) AS n,
         |  CAST(count_if(nz IS NULL) AS BIGINT) AS n_null_nz,
         |  ${rndSql("sum(p_filled)", 2)} AS sum_p_filled,
         |  CAST(count_if(eq_nn) AS BIGINT) AS n_eq,
         |  ${rndSql("sum(g)", 2)} AS sum_g,
         |  ${rndSql("sum(l)", 2)} AS sum_l
         |FROM f GROUP BY presence""".stripMargin),
    QuerySpec("r_make_datetime", makeDatetime,
      """WITH d AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders),
        |m AS (SELECT o_orderkey,
        |    make_date(year(d), month(d), day(d)) AS md,
        |    epoch_us(make_timestamp(year(d), month(d), day(d), 12, 30, 45.5)) AS us
        |  FROM d)
        |SELECT o_orderkey % 7 AS k, count(*) AS n,
        |  strftime(min(md), '%Y-%m-%d') AS min_d,
        |  strftime(max(md), '%Y-%m-%d') AS max_d,
        |  CAST(sum(us) AS BIGINT) AS sum_us
        |FROM m GROUP BY 1""".stripMargin),
    QuerySpec("r_aes_roundtrip", aesRoundtrip,
      """SELECT count(*) AS n, TRUE AS all_roundtrip_ok,
        |  count(DISTINCT c_name) AS n_distinct
        |FROM customer""".stripMargin),
    QuerySpec("r_cume_dist", cumeDist,
      s"""WITH w AS (SELECT event_type, event_id, value,
         |    row_number() OVER o AS rn, cume_dist() OVER o AS cd,
         |    percent_rank() OVER o AS pr
         |  FROM events WINDOW o AS (PARTITION BY event_type
         |    ORDER BY value DESC, event_id ASC))
         |SELECT event_type, rn, event_id, ${rndSql("value", 4)} AS value,
         |  ${rndSql("cd", 6)} AS cd, ${rndSql("pr", 6)} AS pr
         |FROM w WHERE rn <= 5""".stripMargin),
    QuerySpec("r_percentile_disc", percentileDisc,
      s"""SELECT event_type, count(*) AS n,
         |  ${rndSql("quantile_cont(value, 0.5)", 6)} AS p50_cont,
         |  quantile_disc(value, 0.25) AS p25_disc,
         |  quantile_disc(value, 0.75) AS p75_disc
         |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("r_covar_stats", covarStats,
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${rndSql("covar_pop(l_extendedprice, l_quantity)", 4)} AS cov_pop,
         |  ${rndSql("covar_samp(l_extendedprice, l_quantity)", 4)} AS cov_samp,
         |  ${rndSql("regr_avgx(l_extendedprice, l_quantity)", 6)} AS avg_x,
         |  ${rndSql("regr_avgy(l_extendedprice, l_quantity)", 6)} AS avg_y
         |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("r_group_by_all", groupByAll,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ALL""".stripMargin),
    QuerySpec("r_lateral_join", lateralJoin,
      """SELECT n_name, s_name, s_acctbal
        |FROM nation,
        |LATERAL (SELECT s_name, s_acctbal FROM supplier
        |         WHERE s_nationkey = n_nationkey
        |         ORDER BY s_acctbal DESC, s_name LIMIT 2)""".stripMargin),
    QuerySpec("r_mask_func", maskFunc,
      """WITH m AS (SELECT
        |    regexp_replace(regexp_replace(regexp_replace(c_name,
        |      '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
        |      AS name_shape,
        |    regexp_replace(regexp_replace(regexp_replace(c_mktsegment,
        |      '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
        |      AS seg_shape
        |  FROM customer)
        |SELECT name_shape, seg_shape, count(*) AS n
        |FROM m GROUP BY name_shape, seg_shape""".stripMargin),
    QuerySpec("r_split_part", splitPart,
      """WITH c AS (SELECT c_mktsegment || '-' || c_nationkey || '-'
        |      || (c_custkey % 100) AS code, c_custkey
        |  FROM customer),
        |s AS (SELECT split_part(code, '-', 2) AS nk,
        |    array_to_string(string_split(code, '-')[1:2], '-') AS prefix2,
        |    CASE WHEN c_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
        |  FROM c)
        |SELECT nk, count(*) AS n,
        |  count(DISTINCT prefix2) AS n_prefixes,
        |  CAST(count_if(parity = 'even') AS BIGINT) AS n_even
        |FROM s GROUP BY nk""".stripMargin),
    QuerySpec("r_encoding_funcs", encodingFuncs,
      """SELECT n_name, to_base64(encode(n_name)) AS b64,
        |  hex(encode(n_name)) AS hx, TRUE AS rt_ok,
        |  ascii(n_name) AS a, chr(ascii(n_name) + 1) AS next_ch
        |FROM nation""".stripMargin),
    QuerySpec("r_bit_shift", bitShift,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(bit_count(event_id)) AS BIGINT) AS sum_popcount,
        |  CAST(sum((user_id % 16) << 2) AS BIGINT) AS sum_shl,
        |  CAST(sum(event_id >> 3) AS BIGINT) AS sum_shr,
        |  CAST(sum(xor(event_id, user_id)) AS BIGINT) AS sum_xor
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("r_stack", stackUdtf,
      s"""WITH a AS (SELECT ${rndSql("sum(l_quantity)", 2)} AS sq,
         |    ${rndSql("sum(l_extendedprice)", 2)} AS sp,
         |    count(*)::DOUBLE AS nr FROM lineitem)
         |SELECT 'sum_qty' AS metric, sq AS value FROM a
         |UNION ALL SELECT 'sum_price', sp FROM a
         |UNION ALL SELECT 'n_rows', nr FROM a""".stripMargin),
    QuerySpec("r_csv_expr", csvExpr,
      """SELECT n_nationkey || ',' || n_name AS line,
        |  CAST(n_nationkey AS BIGINT) AS k, n_name AS n
        |FROM nation""".stripMargin),
    QuerySpec("r_param_sql", paramSql,
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity < 25 AND l_discount >= 0.05
        |GROUP BY l_returnflag""".stripMargin),
    // exact strictly-above-the-10th-count set: the sketch is under
    // capacity so counts are exact, and excluding the boundary count
    // removes the sketch's hash-arbitrary tie choice (see approxTopK)
    QuerySpec("r_approx_topk", approxTopK,
      """WITH c AS (SELECT CAST(user_id % 100 AS VARCHAR) AS key,
        |  count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT min(n) AS t FROM (
        |  SELECT n FROM c ORDER BY n DESC LIMIT 10))
        |SELECT key, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS rank
        |FROM c, t WHERE n > t.t""".stripMargin))
}
