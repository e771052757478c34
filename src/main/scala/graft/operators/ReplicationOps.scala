package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.TaskType

/**
 * The engine's relational operators, as generic DataFrame transforms.
 *
 * Each function re-expresses one operator family from SURVEY.md §2 as a
 * declarative Spark plan (reference implements these as hand-rolled MR
 * mappers/reducers or driver loops). Only the query surface
 * ([[graft.SparkEntry]], `graft.queries`) calls them, over simulated
 * inventories; the replication engine plans with its own typed diffs
 * ([[graft.planner.DiffPlanner]]) and routes audit entries with
 * [[graft.incremental.JobFactory]].
 *
 * Scale notes: all diffs are key-partitioned shuffles on their join keys —
 * no driver-side collection anywhere; small dimension sides should be
 * broadcast by AQE (inventory sides are both large, manifest sides are
 * both large, so sort-merge with AQE skew handling is the right plan).
 */
object ReplicationOps {

  /**
   * J1 — table-inventory diff: full-outer join src/dest on (db, tbl),
   * classify each row into a replication action.
   * Reference: `incremental/primitives/TaskEstimator.java:74-143`.
   *
   * Inputs need columns (db, tbl, tldt[, partitioned]); src additionally
   * drives COPY_PARTITIONED vs COPY_UNPARTITIONED via `partitioned`.
   */
  def tableDiff(src: DataFrame, dest: DataFrame): DataFrame = {
    val s = src.select(col("db"), col("tbl"), col("tldt").as("src_tldt"),
      col("partitioned"))
    val d = dest.select(col("db"), col("tbl"), col("tldt").as("dest_tldt"))
    s.join(d, Seq("db", "tbl"), "full_outer")
      .select(col("db"), col("tbl"), col("src_tldt"), col("dest_tldt"),
        when(col("dest_tldt").isNull && col("src_tldt").isNotNull,
          when(col("partitioned"), TaskType.CopyPartitionedTable)
            .otherwise(TaskType.CopyUnpartitionedTable))
          .when(col("src_tldt").isNull, TaskType.DropTable)
          .when(col("src_tldt") > col("dest_tldt"), "COPY_METADATA")
          .otherwise(TaskType.NoOp).as("action"))
  }

  /**
   * J2 — partition-inventory diff on (db, tbl, part_name); data mismatch
   * (nfiles/bytes) forces a data copy, tldt-only mismatch a metadata copy.
   * Reference: `batch/hive/TableCompareWorker.java:158-172` +
   * `TaskEstimator.java:146-212`.
   */
  def partitionDiff(src: DataFrame, dest: DataFrame): DataFrame = {
    val s = src.select(col("db"), col("tbl"), col("part_name"),
      col("nfiles").as("src_nfiles"), col("bytes").as("src_bytes"),
      col("tldt").as("src_tldt"))
    val d = dest.select(col("db"), col("tbl"), col("part_name"),
      col("nfiles").as("dest_nfiles"), col("bytes").as("dest_bytes"),
      col("tldt").as("dest_tldt"))
    s.join(d, Seq("db", "tbl", "part_name"), "full_outer")
      .select(col("db"), col("tbl"), col("part_name"),
        col("src_tldt"), col("dest_tldt"),
        when(col("dest_tldt").isNull && col("src_tldt").isNotNull, TaskType.CopyPartition)
          .when(col("src_tldt").isNull, TaskType.DropPartition)
          .when(col("src_nfiles") =!= col("dest_nfiles") ||
                col("src_bytes") =!= col("dest_bytes"), TaskType.CopyPartition)
          .when(col("src_tldt") > col("dest_tldt"), "COPY_METADATA")
          .otherwise(TaskType.NoOp).as("action"))
  }

  /**
   * J3 — file-manifest diff: full-outer join on rel_path, per-file status,
   * then per-directory rollup (count/Σsize pre-check is the reference's
   * cheap-equality short circuit, `utils/common/FsUtils.java:270-381`).
   */
  def manifestFileStatus(srcFiles: DataFrame, destFiles: DataFrame): DataFrame = {
    val s = srcFiles.select(col("dir"), col("rel_path"),
      col("size").as("src_size"), col("mtime").as("src_mtime"))
    val d = destFiles.select(col("rel_path"), col("size").as("dest_size"))
    s.join(d, Seq("rel_path"), "full_outer")
      .select(col("rel_path"), col("dir"), col("src_size"), col("dest_size"),
        when(col("dest_size").isNull && col("src_size").isNotNull, "MISSING_DEST")
          .when(col("src_size").isNull, "MISSING_SRC")
          .when(col("src_size") =!= col("dest_size"), "SIZE_MISMATCH")
          .otherwise("MATCH").as("status"))
  }

  /** J3 rollup: per-dir counts + bytes that need copying. */
  def manifestDiffSummary(srcFiles: DataFrame, destFiles: DataFrame): DataFrame =
    manifestFileStatus(srcFiles, destFiles)
      .groupBy(coalesce(col("dir"),
        regexp_extract(col("rel_path"), "^([^/]+)", 1)).as("dir"))
      .agg(
        count(lit(1)).as("n_files"),
        count(when(col("status") === "MATCH", 1)).as("n_match"),
        count(when(col("status") === "SIZE_MISMATCH", 1)).as("n_size_mismatch"),
        count(when(col("status") === "MISSING_DEST", 1)).as("n_missing_dest"),
        count(when(col("status") === "MISSING_SRC", 1)).as("n_missing_src"),
        coalesce(sum(when(col("status").isin("MISSING_DEST", "SIZE_MISMATCH"),
          col("src_size"))), lit(0L)).as("bytes_to_copy"))

  /**
   * J4 — dest-not-in-src anti-join (`filesExistOnDestButNotSrc`,
   * `utils/common/FsUtils.java:246-268`): any hit blocks distcp -update.
   */
  def destOnlyFiles(srcFiles: DataFrame, destFiles: DataFrame): DataFrame =
    destFiles.join(srcFiles.select("rel_path"), Seq("rel_path"), "left_anti")

  /**
   * J5/O3 — latest-version-wins: top-1 per key by (ts desc, id desc).
   * Reference reducer: `batch/hdfs/ReplicationJob.java:215-318`.
   */
  def latestWins(df: DataFrame, keys: Seq[String], ts: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts).desc, col(tiebreak).desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /**
   * J6+A6 — audit 1:N assembly: left-outer join entries to objects, group
   * back to one row per entry with per-category object lists (sorted for
   * determinism). Reference: `incremental/auditlog/AuditLogReader.java:239-412`.
   */
  def auditAssemble(auditLog: DataFrame, auditObjects: DataFrame): DataFrame =
    auditLog
      .join(auditObjects, Seq("id"), "left_outer")
      .groupBy(col("id"), col("command_type"))
      .agg(
        sort_array(collect_list(when(
          col("category") === "OUTPUT" && col("object_type") === "TABLE",
          col("name")))).as("output_tables"),
        sort_array(collect_list(when(
          col("category") === "OUTPUT" && col("object_type") === "PARTITION",
          col("name")))).as("output_partitions"),
        sort_array(collect_list(when(
          col("category") === "REFERENCE_TABLE", col("name")))).as("reference_tables"))

  /** P1/P2 — regex blacklist/whitelist on (db, tbl) pairs.
    * Reference: `batch/hive/TableCompareWorker.java:50-64,120-131`,
    * `incremental/filter/RegexReplicationFilter.java:26-66`. */
  def blacklistFilter(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    val blocked: Column = pairs
      .map { case (dbRe, tblRe) => col("db").rlike(dbRe) && col("tbl").rlike(tblRe) }
      .reduceOption(_ || _).getOrElse(lit(false))
    df.filter(!blocked)
  }

  /** P5 — hidden-file predicate: basename must not start with `_` or `.`.
    * The basename extraction is evaluated once per row (single substring
    * after the last '/'), not once per comparison.
    * Reference: `batch/hive/Stage2DirectoryCopyMapper.java:36-41`. */
  def visibleFiles(listing: DataFrame, pathCol: String = "rel_path"): DataFrame =
    listing.filter(
      !regexp_like(col(pathCol), lit("(^|/)[_.][^/]*$")))

  /** P8 — location rewrite: same relative path under dest root; s3n/s3a
    * locations pass through untouched.
    * Reference: `incremental/configuration/DestinationObjectFactory.java:49-77`. */
  def rewriteLocation(location: Column, srcRoot: String, destRoot: String): Column =
    when(location.startsWith("s3n://") || location.startsWith("s3a://"), location)
      .otherwise(regexp_replace(location, java.util.regex.Pattern.quote(srcRoot), destRoot))

  /** ST7 — audit entry → operation-type router. SHOW and SWITCHDATABASE are
    * filtered at the source; everything else defaults to COPY — the
    * reference's switch default (`ReplicationJobFactory.java:585-620`), so
    * metadata-only ALTERTABLE_* ops still replicate.
    * Reference: `incremental/auditlog/AuditLogReader.java:202-203`. */
  def routeOpType(commandType: Column): Column =
    when(commandType.isin("SHOWTABLES", "SHOWPARTITIONS", "SWITCHDATABASE"),
      "IGNORE")
      .when(commandType.isin("DROPTABLE", "DROPVIEW", "ALTERTABLE_DROPPARTS",
        "THRIFT_DROP_TABLE", "THRIFT_DROP_PARTITION"), "DROP")
      .when(commandType.isin("ALTERTABLE_RENAME", "ALTERTABLE_RENAMEPART"), "RENAME")
      .otherwise("COPY")

  /**
   * ST8 — dynamic-partition compaction: N output partitions of one table in
   * one entry collapse into a single bulk COPY_PARTITIONS job.
   * Reference: `incremental/ReplicationJobFactory.java:660-671`.
   */
  def compactPartitionJobs(outputPartitions: DataFrame): DataFrame =
    outputPartitions
      .groupBy(col("id"), col("db"), col("tbl"))
      .agg(count(lit(1)).as("n_parts"),
        sort_array(collect_list(col("part_name"))).as("part_names"))
      .withColumn("task_type",
        when(col("n_parts") > 1, TaskType.CopyPartitions)
          .otherwise(TaskType.CopyPartition))

  /**
   * Declarative latest-wins replay of a routed audit stream — the
   * warehouse state the incremental server's sequential job execution
   * converges to (reference loop `incremental/ReplicationServer.java:
   * 348-506`), computed as two keyed aggregates instead of N ordered
   * jobs:
   *
   *  - a table is live iff the entry with the HIGHEST audit id touching
   *    it is not a DROP (a partition write after a table drop re-creates
   *    the table — dynamic-partition insert semantics);
   *  - a partition is live iff its last touch outlives the table's last
   *    DROP (sequential-replay semantics).
   *
   * Inputs: `routed` = (id, db, tbl, op_type) with IGNORE already
   * filtered (see [[routeOpType]]); `partTouches` = (id, db, tbl,
   * part_name) OUTPUT-partition objects. Returns (liveTables =
   * (db, tbl, id), livePartitions = (db, tbl, part_name, last_id)).
   * Rename entries are modeled as touches of their OUTPUT name —
   * renameFrom bookkeeping (dropping the old name) is the server's
   * job-execution concern, not part of this state model.
   *
   * The `pipe_incremental_e2e` oracle hash-certifies this computation
   * against a DuckDB window replay; IncrementalSpec's bridge test
   * additionally pins it against the ACTUAL server's converged dest
   * catalog on a randomized entry stream.
   */
  def replayAuditState(routed: DataFrame,
      partTouches: DataFrame): (DataFrame, DataFrame) = {
    val tableState = graft.operators.CdcApply.snapshot(
      routed.select(col("db"), col("tbl"), col("id"),
        when(col("op_type") === "DROP", lit("D")).otherwise(lit("U"))
          .as("op")),
      Seq("db", "tbl"), "id", "op", "op", "D")
      .select(col("db"), col("tbl"), col("id"))
    val lastDrop = routed.filter(col("op_type") === "DROP")
      .groupBy("db", "tbl").agg(max("id").as("drop_id"))
    val liveParts = partTouches
      .groupBy("db", "tbl", "part_name").agg(max("id").as("last_id"))
      .join(lastDrop, Seq("db", "tbl"), "left")
      .filter(col("last_id") > coalesce(col("drop_id"), lit(-1L)))
      .select(col("db"), col("tbl"), col("part_name"), col("last_id"))
    (tableState, liveParts)
  }
}
