package graft.tasks

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.CatalogClient
import graft.fs.CopyExec
import graft.model._

/**
 * The task layer (SURVEY §2.10 T1-T10): effectful execution of one plan
 * row against the destination catalog + filesystem, with the reference's
 * idempotency machinery — TLDT optimistic-concurrency guards on destructive
 * ops, conflict handling, and directory syncs that copy only what differs.
 *
 * Reference: the task classes under `incremental/primitives/`. Every task is safe to
 * re-run (equality checks + guards), which is what makes Spark task
 * retries and streaming replay safe.
 */
final case class TaskContext(
    spark: SparkSession,
    destCatalog: CatalogClient,
    srcFsRoot: String,
    destFsRoot: String,
    // overwrite-newer guard (`ReplicationUtils.isSrcOlder` +
    // `BATCH_JOB_OVERWRITE_NEWER`): with false, a copy whose destination
    // carries a newer modified-time than the source is skipped with
    // [[Tasks.DestNewer]] — protecting a two-way-sync dest from a delayed
    // replay of a stale event; true (default) replicates unconditionally
    overwriteNewer: Boolean = true) {

  /** P8: map a src location to its dest location (same relative path under
    * the dest root; s3 passthrough —
    * `configuration/DestinationObjectFactory.java:49-77`). */
  def destLocation(srcLoc: String): String =
    if (srcLoc.startsWith("s3a://") || srcLoc.startsWith("s3n://")) srcLoc
    else srcLoc.replace(srcFsRoot, destFsRoot)
}

object TaskContext {
  /** Context for metadata-only task paths. Batch stage-3 commits run inside
    * `mapPartitions` on executors, where no SparkSession exists — and none
    * is needed: the metadata tasks (conflict resolve, dest-object build,
    * catalog create/alter/drop) never touch the FS-copy layer, the only
    * consumer of `spark`. */
  def metadataOnly(destCatalog: CatalogClient, srcFsRoot: String,
      destFsRoot: String): TaskContext =
    TaskContext(null, destCatalog, srcFsRoot, destFsRoot)
}

object Tasks {

  sealed trait Outcome
  case object Done extends Outcome
  case object Noop extends Outcome
  /** Copy skipped because the destination was modified after the source —
    * only reachable with `TaskContext.overwriteNewer = false` (the
    * reference's `BATCH_JOB_OVERWRITE_NEWER` knob; its tasks return
    * `DEST_IS_NEWER`, `CopyUnpartitionedTableTask.java:109-120`). A
    * deliberate terminal no-op, distinct from Noop so operators can see
    * how often the guard fires in a two-way-sync setup. */
  case object DestNewer extends Outcome
  final case class NotCompletable(reason: String) extends Outcome

  /** P10 — build the dest object: src metadata, rewritten location, dest
    * params merged under src params, src-cluster stamp
    * (`DestinationObjectFactory.java:90-154`). */
  def destTableMeta(ctx: TaskContext, src: TableMeta): TableMeta = {
    val existing = ctx.destCatalog.getTable(src.db, src.table)
    src.copy(
      location = ctx.destLocation(src.location),
      parameters = existing.map(_.parameters).getOrElse(Map.empty) ++
        src.parameters + (TableMeta.SrcCluster -> "src"))
  }

  def destPartitionMeta(ctx: TaskContext, src: PartitionMeta): PartitionMeta = {
    val existing = ctx.destCatalog.getPartition(src.db, src.table, src.partName)
    src.copy(
      location = ctx.destLocation(src.location),
      parameters = existing.map(_.parameters).getOrElse(Map.empty) ++
        src.parameters + (TableMeta.SrcCluster -> "src"))
  }

  /** T9 — conflict handler: a dest table whose partition keys differ must
    * be dropped before copy (`ObjectConflictHandler.java:51-121`). */
  def resolveConflict(ctx: TaskContext, src: TableMeta): Unit =
    ctx.destCatalog.getTable(src.db, src.table).foreach { dest =>
      if (dest.partitionKeys != src.partitionKeys) {
        ctx.destCatalog.dropTable(src.db, src.table)
      }
    }

  /** T1 — copy an unpartitioned table: guards → conflict → dir sync
    * (copies nothing when already equal) → metadata commit
    * (`CopyUnpartitionedTableTask.java:82-201`). */
  def copyUnpartitionedTable(ctx: TaskContext, src: TableMeta): Outcome = {
    if (src.isPartitioned) return NotCompletable("table is partitioned")
    if (!ctx.overwriteNewer &&
        ctx.destCatalog.getTable(src.db, src.table)
          .exists(_.lastModified > src.lastModified)) return DestNewer
    resolveConflict(ctx, src)
    val destLoc = ctx.destLocation(src.location)
    if (destLoc != src.location) CopyExec.syncDir(ctx.spark, src.location, destLoc)
    commitTable(ctx, src)
    Done
  }

  /** T2 — partitioned table: metadata only (data flows per partition)
    * (`CopyPartitionedTableTask.java:69-154`). */
  def copyPartitionedTable(ctx: TaskContext, src: TableMeta): Outcome = {
    if (!src.isPartitioned) return NotCompletable("table is not partitioned")
    resolveConflict(ctx, src)
    commitTable(ctx, src)
    Done
  }

  private def commitTable(ctx: TaskContext, src: TableMeta): Unit = {
    val dest = destTableMeta(ctx, src)
    ctx.destCatalog.getTable(src.db, src.table) match {
      case None => ctx.destCatalog.createTable(dest)
      case Some(_) => ctx.destCatalog.alterTable(src.db, src.table, dest)
    }
  }

  /** T3 — copy one partition: parent table must exist (else T2 first),
    * dir sync (copies nothing when already equal), add/alter partition
    * (`CopyPartitionTask.java:98-263`). */
  def copyPartition(ctx: TaskContext, srcTable: TableMeta,
      src: PartitionMeta): Outcome = {
    if (!ctx.overwriteNewer &&
        ctx.destCatalog.getPartition(src.db, src.table, src.partName)
          .exists(_.lastModified > src.lastModified)) return DestNewer
    if (ctx.destCatalog.getTable(src.db, src.table).isEmpty) {
      copyPartitionedTable(ctx, srcTable)
    }
    val destLoc = ctx.destLocation(src.location)
    if (destLoc != src.location) CopyExec.syncDir(ctx.spark, src.location, destLoc)
    val dest = destPartitionMeta(ctx, src)
    ctx.destCatalog.getPartition(src.db, src.table, src.partName) match {
      case None => ctx.destCatalog.addPartition(dest)
      case Some(_) => ctx.destCatalog.alterPartition(dest)
    }
    Done
  }

  /**
   * T4 — bulk partition copy with the reference's optimistic common-dir
   * rewrite (`CopyPartitionsTask.java:137-283`): when every partition lives
   * under one common ancestor and that directory isn't more than 2× the
   * partitions' own bytes, ONE directory sync replaces N per-partition
   * copies; the per-partition step's sync then finds nothing to copy and
   * it commits metadata. Sizes come from a single manifest listing, not N.
   */
  def copyPartitions(ctx: TaskContext, srcTable: TableMeta,
      parts: Seq[PartitionMeta]): Outcome = {
    if (parts.isEmpty) return Noop
    val common = parts.map(_.location)
      .foldLeft(Option.empty[Vector[String]])(
        graft.planner.DiffPlanner.CommonAncestorAgg.reduce)
    val commonDir = graft.planner.DiffPlanner.CommonAncestorAgg.finish(common)
    if (commonDir.nonEmpty && parts.size > 1) {
      // Sizing needs only two sums: never materialize the per-file
      // manifest on the driver (at 100 TB a table's manifest is millions
      // of rows; the reference's driver-side partition materialization is
      // its own documented pain point).
      val manifest = graft.fs.FsOps.listFiles(ctx.spark, commonDir)
      val partRels = parts.map(p =>
        p.location.stripPrefix(commonDir).stripPrefix("/"))
      val sums = partitionSizeSums(manifest.toDF(), partRels).head()
      val (totalBytes, partBytes) = (sums.getLong(0), sums.getLong(1))
      if (totalBytes <= 2 * partBytes) {
        CopyExec.syncDir(ctx.spark, commonDir, ctx.destLocation(commonDir))
      }
    }
    // per-partition pass: with the bulk copy done the dirs are already
    // equal, so copyPartition only commits metadata (idempotent either way)
    val outcomes = parts.map(p => copyPartition(ctx, srcTable, p))
    outcomes.collectFirst { case nc: NotCompletable => nc }.getOrElse(Done)
  }

  /**
   * T4 sizing frame: ONE row `(totalBytes, partBytes)` — all bytes under
   * the common dir vs bytes inside any partition's relative dir.
   *
   * Membership is a broadcast join on the file's partition-depth path
   * prefix, NOT an O(partitions) OR-predicate: T8 feeds this every
   * partition of a table, and at 10k partitions the predicate form is a
   * ~20k-node boolean tree that blows whole-stage codegen's 64 KB method
   * limit (falling back to interpreted eval) and degrades analysis time
   * quadratically. The join keeps the plan constant-size at any partition
   * count (reference sizes from one listing the same way,
   * `CopyPartitionsTask.java:137-283`).
   */
  def partitionSizeSums(manifest: DataFrame, partRels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val total = coalesce(sum(col("size")), lit(0L))
    val rels = partRels.distinct
    if (rels.exists(_.isEmpty)) {
      // a partition located AT the common dir owns every file under it
      return manifest.agg(total.as("totalBytes"), total.as("partBytes"))
    }
    val spark = manifest.sparkSession
    import spark.implicits._
    val depths = rels.map(_.split('/').length).distinct.sorted
    val relsDf = broadcast(rels.toDF("__prel"))
    val inPart = coalesce(
      sum(when(col("__prel").isNotNull, col("size"))), lit(0L))
    if (depths.size == 1) {
      // uniform partition depth (the normal layout): one left broadcast
      // join on the depth-d prefix — rels are distinct so each file hits
      // ≤1 of them, and both sums come from a single scan
      manifest
        .withColumn("__p", substring_index(col("relPath"), "/", depths.head))
        .join(relsDf, col("__p") === col("__prel"), "left")
        .agg(total.as("totalBytes"), inPart.as("partBytes"))
    } else {
      // rare mixed-depth layout: try every depth's prefix per file, then
      // collapse back to one row per file (nested partition dirs could
      // otherwise double-count a file)
      manifest
        .select(col("relPath"), col("size"), explode(array(
          depths.map(d => substring_index(col("relPath"), "/", d)): _*))
          .as("__cand"))
        .join(relsDf, col("__cand") === col("__prel"), "left")
        .groupBy(col("relPath"))
        .agg(first(col("size")).as("size"),
          max(col("__prel").isNotNull).as("__hit"))
        .agg(total.as("totalBytes"),
          coalesce(sum(when(col("__hit"), col("size"))), lit(0L))
            .as("partBytes"))
    }
  }

  /** T5 — TLDT-guarded drops: only drop when the dest object still carries
    * the expected modified-time token (`DropTableTask.java:47-83`,
    * `DropPartitionTask.java:51-87`). */
  def dropTable(ctx: TaskContext, db: String, table: String,
      expectedTldt: Option[Long]): Outcome =
    ctx.destCatalog.getTable(db, table) match {
      case None => Noop
      case Some(t) =>
        if (expectedTldt.forall(_ >= t.lastModified)) {
          ctx.destCatalog.dropTable(db, table); Done
        } else NotCompletable(s"dest $db.$table modified after drop was logged")
    }

  def dropPartition(ctx: TaskContext, db: String, table: String,
      partName: String, expectedTldt: Option[Long]): Outcome =
    ctx.destCatalog.getPartition(db, table, partName) match {
      case None => Noop
      case Some(p) =>
        if (expectedTldt.forall(_ >= p.lastModified)) {
          ctx.destCatalog.dropPartition(db, table, partName); Done
        } else NotCompletable(s"dest $db.$table/$partName modified after drop")
    }

  /**
   * T8 — copy a COMPLETE table, data included for every partition
   * (`CopyCompleteTableTask.java:86-162`, invoked from `RenameTableTask`):
   * unpartitioned ⇒ T1; partitioned ⇒ T2 metadata commit, then enumerate
   * the source partitions and bulk-copy them (T4, with the common-dir
   * optimistic rewrite). The reference materializes every partition object
   * in driver memory — its own documented pain point; here the enumeration
   * is bounded to one table's partition names and all file volume flows
   * through the distributed copy path.
   */
  def copyCompleteTable(ctx: TaskContext, srcCatalog: CatalogClient,
      src: TableMeta): Outcome = {
    if (!src.isPartitioned) return copyUnpartitionedTable(ctx, src)
    copyPartitionedTable(ctx, src) match {
      case nc: NotCompletable => nc
      case _ =>
        val parts = srcCatalog.listPartitionNames(src.db, src.table)
          .flatMap(p => srcCatalog.getPartition(src.db, src.table, p))
        copyPartitions(ctx, src, parts)
    }
  }

  /** T6 — rename table with the reference's fallback chain
    * (`RenameTableTask.java:93-172`): renamed-to exists ⇒ NOOP; rename-from
    * missing ⇒ complete copy of the new name (T8 — metadata-only fallback
    * would converge a renamed partitioned table with zero partitions);
    * else catalog rename. */
  def renameTable(ctx: TaskContext, srcCatalog: CatalogClient,
      fromDb: String, fromTable: String, to: TableMeta): Outcome = {
    if (ctx.destCatalog.getTable(to.db, to.table).isDefined) return Noop
    ctx.destCatalog.getTable(fromDb, fromTable) match {
      case Some(_) =>
        ctx.destCatalog.alterTable(fromDb, fromTable, destTableMeta(ctx, to))
        Done
      case None =>
        copyCompleteTable(ctx, srcCatalog, to)
    }
  }

  /** T7 — rename partition; cross-table exchange degrades to copy
    * (`RenamePartitionTask.java:98-205`, HIVE-12865). `srcTable` is only
    * needed by the copy fallback: the common dest-side rename must not
    * depend on source state — the carried audit objects suffice even when
    * the source has drifted past the entry (e.g. the table was renamed
    * by a later, not-yet-replayed entry). */
  def renamePartition(ctx: TaskContext, srcTable: Option[TableMeta],
      fromName: String, to: PartitionMeta): Outcome = {
    if (ctx.destCatalog.getPartition(to.db, to.table, to.partName).isDefined)
      return Noop
    ctx.destCatalog.getPartition(to.db, to.table, fromName) match {
      case Some(_) =>
        ctx.destCatalog.renamePartition(to.db, to.table, fromName,
          destPartitionMeta(ctx, to))
        Done
      case None => srcTable match {
        case Some(t) => copyPartition(ctx, t, to)
        case None => NotCompletable(
          s"src ${to.db}.${to.table} gone and dest lacks rename-from $fromName")
      }
    }
  }

  /** T10 — retry wrapper: ≤8 attempts, exponential backoff base 2s cap 1h
    * (`ReplicationJob.java:60-103`; backoff `ReplicationUtils.java:446-463`).
    * Sleep scale injectable so tests don't wait. Only non-fatal errors are
    * retried: an interrupt (a drain deadline, a cancelled task) ends the
    * job at once and leaves the thread's interrupt flag set. */
  def withRetry[A](maxRetries: Int = 8, baseMs: Long = 2000L,
      capMs: Long = 3600000L, sleeper: Long => Unit = Thread.sleep)(f: => A): A = {
    var attempt = 0
    while (true) {
      try {
        if (attempt > 0) sleeper(math.min(capMs, baseMs * (1L << (attempt - 1))))
        return f
      } catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case NonFatal(e) =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
