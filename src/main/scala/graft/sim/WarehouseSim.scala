package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * Deterministic warehouse simulation derived from the driver-provided
 * TPC-H-ish parquet tables (TESTDATA.md).
 *
 * The reference engine's inputs are two warehouse catalogs (tables,
 * partitions) and two HDFS file trees (SURVEY.md §1). The test harness only
 * provides relational parquet tables, so we *derive* a src and a dest
 * warehouse from them with pure column arithmetic. Every derivation here has
 * an exact SQL mirror in [[OracleCtes]] so the DuckDB oracle can reproduce
 * it; the replication operators (diff joins, manifest compares, audit
 * routing) then run on these inventories exactly as they would on real
 * catalog snapshots.
 *
 * Derivation fixtures (chosen so every diff branch is exercised):
 *  - table inventory ⇐ `part`: one "table" per p_partkey; dest is missing
 *    every 5th table (⇒ COPY), stale TLDT on every 3rd (⇒ UPDATE), and has
 *    extra tables from `supplier` (⇒ DROP).
 *  - partition inventory ⇐ `lineitem` grouped by (table, ds) for
 *    partitioned tables; dest drops every 11th, stales every 7th.
 *  - file manifests ⇐ `lineitem`: one file per line item; dest missing
 *    every 13th order, size-mismatched every 17th, extra files every 19th,
 *    hidden `.`/`_` files every 23rd (must be ignored by P5).
 *  - audit log ⇐ `events`: event_type maps onto Hive command types.
 */
object WarehouseSim {

  def read(spark: SparkSession, sfDir: String, table: String): DataFrame =
    normalizeTimestamps(spark.read.parquet(s"$sfDir/$table.parquet"))

  /**
   * Ingestion contract: downstream operators see session-zone `TIMESTAMP`
   * (session TZ is pinned to UTC in GraftSession) no matter which physical
   * timestamp shape the parquet writer chose. The warehouse's inputs have
   * already arrived in three shapes across test-data generations, so every
   * shape is handled here, at the single read choke point:
   *
   *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
   *    GraftSession sets `spark.sql.legacy.parquet.nanosAsLong` and the
   *    column surfaces as an epoch-nanos long. Converted with exact integer
   *    division — ns values exceed 2^53, so double division would corrupt
   *    them. (Only `ts` is known to use this shape; a generic long column
   *    can't be distinguished from it, so the rule is name-scoped.)
   *  - parquet timestamp[us] tz=None (pandas/arrow writer default): Spark
   *    reads TIMESTAMP_NTZ. Cast to TIMESTAMP — with the UTC session zone
   *    this preserves epoch micros exactly, matching DuckDB's `epoch_us`
   *    reading of the same naive value.
   *  - parquet timestamp[us] adjusted-to-UTC: already TIMESTAMP, untouched.
   */
  def normalizeTimestamps(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          d.withColumn(f.name, timestamp_micros(expr(s"`${f.name}` div 1000")))
        case TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }

  // ---- table inventories (⇐ part, supplier) -------------------------------

  /** Source-cluster table inventory. One table per part row. */
  def srcTables(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "part")
      .select(
        col("p_partkey"),
        concat(lit("db_"), (col("p_partkey") % 8).cast("string")).as("db"),
        concat(lit("t_"), col("p_partkey").cast("string")).as("tbl"),
        (col("p_size").cast("long") * 100 + col("p_partkey") % 7).as("tldt"),
        when(col("p_partkey") % 4 === 0, lit("s3a")).otherwise(lit("hdfs")).as("scheme"),
        (col("p_partkey") % 3 === 0).as("partitioned"))
      .withColumn("location",
        concat(col("scheme"), lit("://src-wh/"), col("db"), lit("/"), col("tbl")))

  /** Destination-cluster table inventory: src minus every 5th (missing ⇒
    * COPY), stale tldt on every 3rd (⇒ stale), plus dest-only tables from
    * supplier (⇒ DROP). */
  def destTables(spark: SparkSession, sfDir: String): DataFrame = {
    val fromSrc = srcTables(spark, sfDir)
      .filter(col("p_partkey") % 5 =!= 0)
      .select(
        col("db"), col("tbl"),
        when(col("p_partkey") % 3 === 0, col("tldt") - 1).otherwise(col("tldt")).as("tldt"),
        regexp_replace(col("location"), "://src-wh/", "://dest-wh/").as("location"),
        col("partitioned"))
    val destOnly = read(spark, sfDir, "supplier")
      .select(
        lit("db_x").as("db"),
        concat(lit("x_"), col("s_suppkey").cast("string")).as("tbl"),
        col("s_suppkey").cast("long").as("tldt"),
        concat(lit("hdfs://dest-wh/db_x/x_"), col("s_suppkey").cast("string")).as("location"),
        lit(false).as("partitioned"))
    fromSrc.unionAll(destOnly)
  }

  // ---- partition inventories (⇐ lineitem) ---------------------------------

  /** Source partition inventory: partitions of partitioned tables
    * (l_partkey % 3 == 0), one per (table, ds=shipdate). Sizes are summed
    * in integer cents so aggregation is order-independent (exact at any
    * parallelism). */
  def srcPartitions(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "lineitem")
      .filter(col("l_partkey") % 3 === 0)
      .groupBy(
        concat(lit("db_"), (col("l_partkey") % 8).cast("string")).as("db"),
        concat(lit("t_"), col("l_partkey").cast("string")).as("tbl"),
        concat(lit("ds="), date_format(col("l_shipdate"), "yyyy-MM-dd")).as("part_name"))
      .agg(
        count(lit(1)).as("nfiles"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("bytes"),
        max(floor(unix_timestamp(col("l_shipdate"))).cast("long")).as("tldt"))

  /** Dest partition inventory: src minus every 11th (by partkey+day-of-ds),
    * stale tldt on every 7th. */
  def destPartitions(spark: SparkSession, sfDir: String): DataFrame = {
    val p = srcPartitions(spark, sfDir)
      .withColumn("pk", regexp_extract(col("tbl"), "t_(\\d+)", 1).cast("long"))
      .withColumn("dayv", substring(col("part_name"), 12, 2).cast("int"))
    p.filter((col("pk") + col("dayv")) % 11 =!= 0)
      .select(
        col("db"), col("tbl"), col("part_name"), col("nfiles"), col("bytes"),
        when((col("pk") + col("dayv")) % 7 === 0, col("tldt") - 10)
          .otherwise(col("tldt")).as("tldt"))
  }

  // ---- file manifests (⇐ lineitem) ----------------------------------------

  /** Source file manifest: one file per line item, dir per table. */
  def srcFiles(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "lineitem")
      .select(
        concat(lit("t_"), col("l_partkey").cast("string")).as("dir"),
        concat(lit("t_"), col("l_partkey").cast("string"), lit("/part-"),
          col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string"), lit(".parquet")).as("rel_path"),
        round(col("l_extendedprice") * 100).cast("long").as("size"),
        floor(unix_timestamp(col("l_shipdate"))).cast("long").as("mtime"))

  /** Dest file manifest: missing every 13th order, size+1 every 17th,
    * dest-only extra file every 19th. */
  def destFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val li = read(spark, sfDir, "lineitem")
    val common = li.filter(col("l_orderkey") % 13 =!= 0)
      .select(
        concat(lit("t_"), col("l_partkey").cast("string")).as("dir"),
        concat(lit("t_"), col("l_partkey").cast("string"), lit("/part-"),
          col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string"), lit(".parquet")).as("rel_path"),
        (round(col("l_extendedprice") * 100).cast("long") +
          when(col("l_orderkey") % 17 === 0, 1L).otherwise(0L)).as("size"),
        floor(unix_timestamp(col("l_shipdate"))).cast("long").as("mtime"))
    val extra = li.filter(col("l_orderkey") % 19 === 0)
      .select(
        concat(lit("t_"), col("l_partkey").cast("string")).as("dir"),
        concat(lit("t_"), col("l_partkey").cast("string"), lit("/extra-"),
          col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string"), lit(".tmp")).as("rel_path"),
        lit(64L).as("size"),
        floor(unix_timestamp(col("l_shipdate"))).cast("long").as("mtime"))
    common.unionAll(extra)
  }

  /** Raw listing including hidden files (P5 must filter them): src files
    * plus `.`/`_`-prefixed entries every 23rd order. */
  def rawListing(spark: SparkSession, sfDir: String): DataFrame = {
    val li = read(spark, sfDir, "lineitem")
    val hidden = li.filter(col("l_orderkey") % 23 === 0)
      .select(
        concat(lit("t_"), col("l_partkey").cast("string")).as("dir"),
        concat(lit("t_"), col("l_partkey").cast("string"),
          when(col("l_orderkey") % 2 === 0, lit("/_tmp-")).otherwise(lit("/.stage-")),
          col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")).as("rel_path"),
        lit(0L).as("size"),
        floor(unix_timestamp(col("l_shipdate"))).cast("long").as("mtime"))
    srcFiles(spark, sfDir).unionAll(hidden)
  }

  // ---- audit log (⇐ events) -----------------------------------------------

  /** Audit-log entries: events mapped onto Hive command types
    * (FIXTURES.md A4). */
  def auditLog(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "events")
      .select(
        col("event_id").as("id"),
        col("ts").as("create_time"),
        col("user_id"),
        when(col("event_type") === "signup", "CREATETABLE")
          .when(col("event_type") === "purchase", "QUERY")
          .when(col("event_type") === "click", "ALTERTABLE_RENAME")
          .when(col("event_type") === "error", "DROPTABLE")
          .otherwise("SHOWTABLES").as("command_type"),
        concat(lit("db_"), (col("user_id") % 8).cast("string")).as("db"),
        concat(lit("t_"), col("user_id").cast("string")).as("tbl"),
        col("value"))

  /** Audit objects (1:N per entry): purchase entries emit 1-3 OUTPUT
    * partitions plus a REFERENCE_TABLE; others emit one OUTPUT table. */
  def auditObjects(spark: SparkSession, sfDir: String): DataFrame = {
    val log = auditLog(spark, sfDir).filter(col("command_type") =!= "SHOWTABLES")
    val parts = log.filter(col("command_type") === "QUERY")
      .select(col("id"), col("db"), col("tbl"),
        explode(sequence(lit(1L), col("id") % 3 + 1)).as("n"))
      .select(col("id"), lit("OUTPUT").as("category"), lit("PARTITION").as("object_type"),
        concat(col("db"), lit("."), col("tbl"), lit("/ds=2024-01-0"),
          col("n").cast("string")).as("name"))
    val refs = log.filter(col("command_type") === "QUERY")
      .select(col("id"), lit("REFERENCE_TABLE").as("category"),
        lit("TABLE").as("object_type"),
        concat(col("db"), lit("."), col("tbl")).as("name"))
    val tables = log.filter(col("command_type") =!= "QUERY")
      .select(col("id"), lit("OUTPUT").as("category"), lit("TABLE").as("object_type"),
        concat(col("db"), lit("."), col("tbl")).as("name"))
    parts.unionAll(refs).unionAll(tables)
  }

  /** Per-document crawl URLs: four deterministic variants per base page
    * (doc_id div 4), together exercising every canonicalization rule —
    * scheme/host case, `www.`, default port, `utm_*` params, param
    * order, trailing slash, fragment. All four variants of a base
    * canonicalize to the same URL, so URL dedup finds 4-groups. */
  def urlDocs(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "documents").select(col("doc_id"), urlColumn)

  /** The 4-variant URL expression over a `doc_id` column, kept apart
    * from [[urlDocs]] so a scaled-up corpus can reuse the certified
    * shape. */
  def urlColumn: Column = {
    val b = expr("doc_id div 4").cast("string")
    val site = expr("(doc_id div 4) % 50").cast("string")
    when(col("doc_id") % 4 === 0,
      concat(lit("http://example"), site, lit(".com/Page/"), b,
        lit("?a=1&b=2")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTP://WWW.EXAMPLE"), site, lit(".COM:80/Page/"), b,
          lit("/?b=2&a=1&utm_medium=email")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("http://example"), site, lit(".com/Page/"), b,
          lit("?a=1&utm_source=feed&b=2")))
      .otherwise(
        concat(lit("http://example"), site, lit(".com:80/Page/"), b,
          lit("?b=2&a=1#frag"))).as("url")
  }
}
