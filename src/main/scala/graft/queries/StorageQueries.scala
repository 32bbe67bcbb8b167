package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational rows over data sources, sinks and write layouts: text,
 * binary-file and XML round trips, permissive parsing of corrupt
 * records, range-partitioned and Z-ordered writes, and dynamic
 * partition overwrite. Each row stages what it writes under a
 * temporary directory, reads it back and reports what the reader sees
 * (counts, file invariants, content hashes), so the oracle predicts
 * the read-back rows.
 */
object StorageQueries {

  import RelationalQueries.{events, docs}

  /** Text-format sink + source round trip: pipe-delimited lines
   * written with the text writer, read back with the text reader and
   * re-parsed — the plain-text leg of the format matrix (csv/json/
   * orc/parquet round trips live in AdvancedQueries). */
  def textRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-text-rt").toString
    docs(spark, sfDir)
      .select(concat_ws("|", col("doc_id"), col("lang"), col("n_chars"))
        .as("value"))
      .write.mode("overwrite").text(dir)
    val parts = split(col("value"), "\\|")
    spark.read.text(dir)
      .select(parts.getItem(0).cast("long").as("doc_id"),
        parts.getItem(1).as("lang"),
        parts.getItem(2).cast("long").as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  /** Dynamic partition overwrite: a partitioned table is written
   * once, then ONE partition is rewritten with a filtered subset
   * under partitionOverwriteMode=dynamic — untouched partitions must
   * survive (static mode would truncate them all). The read-back
   * per-partition counts are the observable contract. */
  def dynamicPartitionOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dpo").toString
    val ev = events(spark, sfDir).select(col("event_id"), col("event_type"))
    ev.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    ev.where(col("event_type") === "click" && col("event_id") % 2 === 0)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(dir)
    spark.read.parquet(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
        max("event_id").as("max_id"))
      .orderBy("event_type")
  }

  /** Range-partitioned sorted write (the 100 TB output layout:
   * repartitionByRange + sortWithinPartitions so every output file
   * covers a disjoint key range, enabling file-level pruning on
   * read). The query PROVES the invariant from the written files:
   * per-file [min,max] event-time ranges must not overlap. */
  def rangePartitionedWrite(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rpw").toString
    events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"))
      .repartitionByRange(4, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(dir)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi"), count(lit(1)).as("n"))
    val overlaps = perFile.as("a").join(perFile.as("b"),
      col("a.f") < col("b.f") &&
        col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
    perFile.agg(
      count(lit(1)).as("n_files"),
      sum(col("n")).as("n_rows"))
      .crossJoin(overlaps.agg(count(lit(1)).as("n_overlaps")))
      .select(col("n_files"), col("n_rows"), col("n_overlaps"))
  }

  /** binaryFile SOURCE: whole files read as (path, length, content)
   * binary rows — the ingest leg for image/audio assets. Three known
   * documents are staged as raw files and read back; content md5 and
   * byte length must round-trip (path and mtime are environment
   * noise and are reduced to the staged file name). */
  def binarySource(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-binsrc")
    val staged = docs(spark, sfDir).select(col("doc_id"), col("text"))
      .where(col("doc_id") < 3).collect()
    staged.foreach { r =>
      java.nio.file.Files.write(dir.resolve(s"doc_${r.getLong(0)}.bin"),
        r.getString(1).getBytes("UTF-8")); ()
    }
    spark.read.format("binaryFile").load(dir.toString)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("h"))
      .orderBy("doc_id")
  }

  /** PERMISSIVE malformed-record ingest: a staged CSV where every
   * third row has a non-numeric id and every fifth is short one
   * column; the reader must keep good rows typed, capture bad lines
   * in _corrupt_record, and never fail the job (FAILFAST would) —
   * the quarantine pattern for dirty 100 TB feeds. Classification
   * counts are the observable contract. */
  def corruptRecords(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-badcsv").toString
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .select(concat(
        when(col("doc_id") % 3 === 0, concat(lit("id"), col("doc_id")))
          .otherwise(col("doc_id").cast("string")),
        lit(","), col("lang"),
        when(col("doc_id") % 5 === 0, lit(""))
          .otherwise(concat(lit(","), col("n_chars").cast("string"))))
        .as("value"))
      .write.mode("overwrite").text(dir)
    val schema = "doc_id LONG, lang STRING, n_chars LONG, _corrupt_record STRING"
    val parsed = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
      .cache() // corrupt-record capture requires the raw row in the same scan
    parsed.count()
    parsed.select(
      when(col("_corrupt_record").isNotNull, lit("corrupt"))
        .otherwise(lit("good")).as("status"),
      col("doc_id"), col("n_chars"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"),
        count(col("doc_id")).as("n_with_id"))
      .orderBy("status")
  }

  /** Bit-interleave (Morton / Z-order) spread of an 8-bit value —
   * the standard mask-shift cascade, identical integer ops on both
   * engines. */
  private def spread8(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s1 = (c.bitwiseOR(shiftleft(c, 4))).bitwiseAND(lit(0x0F0FL))
    val s2 = (s1.bitwiseOR(shiftleft(s1, 2))).bitwiseAND(lit(0x3333L))
    (s2.bitwiseOR(shiftleft(s2, 1))).bitwiseAND(lit(0x5555L))
  }

  /** Z-order clustering: events keyed by the Morton interleave of
   * (user bucket, hour bucket), range-written into 4 sorted files —
   * the multi-dimensional locality layout that lets BOTH user- and
   * time-filtered scans prune files at 100 TB (1-D range layout only
   * helps one dimension). Output: file invariants proven from the
   * written files (4 non-empty, disjoint morton ranges, no rows
   * lost) plus content stats of the morton key the oracle recomputes
   * bit-for-bit. */
  def zorderWrite(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val keyed = events(spark, sfDir)
      .select(col("event_id"),
        spread8(col("user_id").bitwiseAND(lit(255L)))
          .bitwiseOR(shiftleft(spread8(
            expr("unix_micros(ts) div 3600000000").bitwiseAND(lit(255L))), 1))
          .as("m"))
    keyed.repartitionByRange(4, col("m")).sortWithinPartitions(col("m"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val perFile = back.groupBy(input_file_name().as("f"))
      .agg(min("m").as("lo"), max("m").as("hi"), count(lit(1)).as("n"))
    val overlaps = perFile.as("a").join(perFile.as("b"),
      col("a.f") < col("b.f") &&
        col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
    perFile.agg(count(lit(1)).as("n_files"), sum(col("n")).as("n_rows"))
      .crossJoin(overlaps.agg(count(lit(1)).as("n_overlaps")))
      .crossJoin(back.agg(min("m").as("min_m"), max("m").as("max_m"),
        countDistinct(col("m")).as("n_distinct_m")))
      .select(col("n_files"), col("n_rows"), col("n_overlaps"),
        col("min_m"), col("max_m"), col("n_distinct_m"))
  }

  /** XML sink + source round trip through Spark 4's BUILT-IN XML
   * data source (merged into spark-sql in 4.0 — no external
   * spark-xml dependency): write the nation table as one
   * <nation>...</nation> element per row, read it back with a
   * declared schema (never inference — the round trip must not
   * depend on sampling), and aggregate. The XML writer escapes
   * markup characters, so values round-trip byte-exact and the
   * aggregate equals the oracle's direct parquet aggregation.
   * Staging rides [[GraphQueries.stagingDir]] — the one memoized
   * temp-dir + JVM-exit cleanup implementation the other roundtrips
   * use. */
  def xmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraphQueries.stagingDir(spark, s"xml:$sfDir")
    spark.read.parquet(s"$sfDir/nation.parquet")
      .write.mode("overwrite").option("rowTag", "nation")
      .format("xml").save(dir)
    spark.read.format("xml")
      .option("rowTag", "nation")
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .load(dir)
      .groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_nationkey")).cast("long").as("sum_key"),
        min(col("n_name")).as("first_name"),
        max(col("n_name")).as("last_name"))
      .orderBy("n_regionkey")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("r_zorder_write", zorderWrite,
      """WITH k AS (SELECT
        |    ((user_id & 255) | ((user_id & 255) << 4)) & 3855 AS a1,
        |    (((epoch_us(ts) // 3600000000) & 255)
        |      | (((epoch_us(ts) // 3600000000) & 255) << 4)) & 3855 AS b1
        |  FROM events),
        |s AS (SELECT
        |    ((a1 | (a1 << 2)) & 13107) AS a2, ((b1 | (b1 << 2)) & 13107) AS b2
        |  FROM k),
        |m AS (SELECT
        |    (((a2 | (a2 << 1)) & 21845)
        |      | (((b2 | (b2 << 1)) & 21845) << 1)) AS m FROM s)
        |SELECT 4 AS n_files, count(*) AS n_rows, 0 AS n_overlaps,
        |  min(m) AS min_m, max(m) AS max_m,
        |  count(DISTINCT m) AS n_distinct_m
        |FROM m""".stripMargin),
    // PERMISSIVE semantics mirrored: a row is corrupt if any field is
    // malformed (bad id via %3) OR the line is short (%5); within a
    // corrupt row the fields that DID parse are kept (id survives on
    // short-only rows, n_chars survives on bad-id-only rows)
    QuerySpec("r_corrupt_records", corruptRecords,
      """WITH c AS (SELECT doc_id, n_chars,
        |    (doc_id % 3 = 0 OR doc_id % 5 = 0) AS corrupt FROM documents)
        |SELECT CASE WHEN corrupt THEN 'corrupt' ELSE 'good' END AS status,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN NOT corrupt OR (doc_id % 3 = 0 AND doc_id % 5 <> 0)
        |    THEN n_chars END) AS BIGINT) AS sum_chars,
        |  CAST(sum(CASE WHEN NOT corrupt OR (doc_id % 5 = 0 AND doc_id % 3 <> 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_id
        |FROM c GROUP BY 1""".stripMargin),
    QuerySpec("r_binary_source", binarySource,
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS h
        |FROM documents WHERE doc_id < 3""".stripMargin),
    QuerySpec("r_range_write", rangePartitionedWrite,
      """SELECT 4 AS n_files, count(*) AS n_rows, 0 AS n_overlaps
        |FROM events""".stripMargin),
    QuerySpec("r_dynamic_overwrite", dynamicPartitionOverwrite,
      """SELECT event_type,
        |  count(*) FILTER (WHERE event_type <> 'click' OR event_id % 2 = 0) AS n,
        |  min(event_id) FILTER (WHERE event_type <> 'click' OR event_id % 2 = 0) AS min_id,
        |  max(event_id) FILTER (WHERE event_type <> 'click' OR event_id % 2 = 0) AS max_id
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("r_text_roundtrip", textRoundtrip,
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang""".stripMargin),
    // the round trip is lossless, so the read-back aggregate equals
    // the direct table aggregate
    QuerySpec("r_xml_roundtrip", xmlRoundtrip,
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
        |  min(n_name) AS first_name, max(n_name) AS last_name
        |FROM nation GROUP BY n_regionkey""".stripMargin))
}
