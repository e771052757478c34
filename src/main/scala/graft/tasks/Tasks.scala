package graft.tasks

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.catalog.CatalogClient
import graft.fs.{CopyExec, SyncUnit}
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

  /** [[TaskContext.destLocation]] between this context's roots. */
  def destLocation(srcLoc: String): String =
    TaskContext.destLocation(srcFsRoot, destFsRoot, srcLoc)
}

object TaskContext {
  /** P8: map a src location to its dest location (same relative path under
    * the dest root; s3 passthrough —
    * `configuration/DestinationObjectFactory.java:49-77`). Plain strings in
    * and out, so Spark closures call it without capturing a context. */
  def destLocation(srcFsRoot: String, destFsRoot: String, srcLoc: String): String =
    if (srcLoc.startsWith("s3a://") || srcLoc.startsWith("s3n://")) srcLoc
    else srcLoc.replace(srcFsRoot, destFsRoot)

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

  /** P10 — build the dest object: src metadata, rewritten location, the
    * existing dest object's params merged under src params, src-cluster
    * stamp (`DestinationObjectFactory.java:90-154`). */
  private def destTableMeta(ctx: TaskContext, src: TableMeta,
      existing: Option[TableMeta]): TableMeta =
    src.copy(location = ctx.destLocation(src.location), parameters =
      existing.map(_.parameters).getOrElse(Map.empty) ++ src.parameters +
        (TableMeta.SrcCluster -> "src"))

  private def destPartitionMeta(ctx: TaskContext, src: PartitionMeta,
      existing: Option[PartitionMeta]): PartitionMeta =
    src.copy(location = ctx.destLocation(src.location), parameters =
      existing.map(_.parameters).getOrElse(Map.empty) ++ src.parameters +
        (TableMeta.SrcCluster -> "src"))

  /** T9 — conflict handler: a dest table whose partition keys differ is
    * dropped, so the commit creates it afresh
    * (`ObjectConflictHandler.java:51-121`). No catalog client deletes data
    * on a drop (tables are created external), so the drop may follow the
    * copy. Returns the dest table that is left. */
  def resolveConflict(ctx: TaskContext, src: TableMeta): Option[TableMeta] =
    ctx.destCatalog.getTable(src.db, src.table).filter { dest =>
      val keep = dest.partitionKeys == src.partitionKeys
      if (!keep) ctx.destCatalog.dropTable(src.db, src.table)
      keep
    }

  /** Table commit: conflict resolve, then create or alter the dest table.
    * Touches only `ctx.destCatalog`, so batch stage 3 runs it on executors. */
  def commitTable(ctx: TaskContext, src: TableMeta): Unit = {
    val existing = resolveConflict(ctx, src)
    val dest = destTableMeta(ctx, src, existing)
    if (existing.isEmpty) ctx.destCatalog.createTable(dest)
    else ctx.destCatalog.alterTable(src.db, src.table, dest)
  }

  /** Partition commit: create the dest table when it is missing (T2), then
    * add or alter each partition, reading it once. Touches only
    * `ctx.destCatalog`, so batch stage 3 runs it on executors. */
  def commitPartitions(ctx: TaskContext, srcTable: TableMeta,
      parts: Seq[PartitionMeta]): Unit = {
    if (ctx.destCatalog.getTable(srcTable.db, srcTable.table).isEmpty)
      copyPartitionedTable(ctx, srcTable)
    parts.foreach { src =>
      val existing = ctx.destCatalog.getPartition(src.db, src.table, src.partName)
      val dest = destPartitionMeta(ctx, src, existing)
      if (existing.isEmpty) ctx.destCatalog.addPartition(dest)
      else ctx.destCatalog.alterPartition(dest)
    }
  }

  /** T1 — copy an unpartitioned table: guard → dir sync (copies nothing
    * when already equal) → commit (`CopyUnpartitionedTableTask.java:82-201`). */
  def copyUnpartitionedTable(ctx: TaskContext, src: TableMeta): Outcome = {
    if (src.isPartitioned) return NotCompletable("table is partitioned")
    if (!ctx.overwriteNewer &&
        ctx.destCatalog.getTable(src.db, src.table)
          .exists(_.lastModified > src.lastModified)) return DestNewer
    val destLoc = ctx.destLocation(src.location)
    if (destLoc != src.location) CopyExec.syncDir(ctx.spark, src.location, destLoc)
    commitTable(ctx, src)
    Done
  }

  /** T2 — partitioned table: metadata only (data flows per partition)
    * (`CopyPartitionedTableTask.java:69-154`). */
  def copyPartitionedTable(ctx: TaskContext, src: TableMeta): Outcome = {
    if (!src.isPartitioned) return NotCompletable("table is not partitioned")
    commitTable(ctx, src)
    Done
  }

  /** T3 — copy one partition (`CopyPartitionTask.java:98-263`): T4 with
    * one partition. */
  def copyPartition(ctx: TaskContext, srcTable: TableMeta,
      src: PartitionMeta): Outcome =
    copyPartitions(ctx, srcTable, Seq(src))

  /**
   * T4 — copy partitions of one table (`CopyPartitionsTask.java:137-283`).
   * Each partition a newer dest does not guard is one copy unit, its own
   * dir mirrored into its dest dir, and all of them run as one copy plan;
   * then their metadata is committed. The reference copies a common
   * ancestor dir instead when that is cheap, because each of its DistCp
   * runs has a fixed cost; one plan over many units has no such cost, and
   * touches nothing outside the job's partitions. [[DestNewer]] when the
   * guard held back every partition.
   */
  def copyPartitions(ctx: TaskContext, srcTable: TableMeta,
      parts: Seq[PartitionMeta]): Outcome = {
    if (parts.isEmpty) return Noop
    val open = parts.filter(p => ctx.overwriteNewer ||
      !ctx.destCatalog.getPartition(p.db, p.table, p.partName)
        .exists(_.lastModified > p.lastModified))
    if (open.isEmpty) return DestNewer
    val units = open.map(p => SyncUnit(Seq(p.location), ctx.destLocation(p.location)))
      .filter(u => u.srcRoots.head != u.destRoot)
    if (units.nonEmpty) CopyExec.execute(CopyExec.plan(ctx.spark, units,
      CopyExec.AllOps, verifyChecksum = false, parallelism = 32, CopyExec.DefaultBound))
    commitPartitions(ctx, srcTable, open)
    Done
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
   * the source partitions and copy them as one T4 job (one copy plan). The
   * reference materializes every partition object in driver memory — its
   * own documented pain point; here the enumeration is bounded to one
   * table's partition names, and the copy engine takes the file volume to
   * Spark once it crosses its driver-side bound.
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
        ctx.destCatalog.alterTable(fromDb, fromTable, destTableMeta(ctx, to, None))
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
          destPartitionMeta(ctx, to, None))
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
