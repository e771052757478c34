package graft.hdfs

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.fs.{CopyExec, FileOp, SyncUnit}

/**
 * Standalone multi-root HDFS directory sync — the reference's 2-stage MR
 * job (`batch/hdfs/ReplicationJob.java:61-103`) as one [[CopyExec]] unit:
 *
 *   compare: all source roots + the dest listed, latest mtime wins per
 *            relative path across roots (J5), size-compare vs dest
 *            ⇒ ADD / UPDATE / DELETE actions;
 *   sync:    execute ADD/UPDATE copies, then DELETE if enabled.
 *
 * The hand-rolled argmax reducer (`:215-318`) becomes a window top-1 (a
 * driver-side pick under the engine's bound); the murmur3 rebalancing
 * shuffle (`:322-332`) becomes `repartition`.
 * `dryRun` stops after compare (reference `:536-541`). Unlike the
 * reference (DELETE parsed but unexecuted, `:359`), deletes are executed
 * when enabled.
 */
final case class SyncAction(relPath: String, op: String, srcRoot: String,
    size: Long, mtime: Long)

final case class HdfsSyncStats(added: Long, updated: Long, deleted: Long)

object HdfsSync {

  /** Stage 1 — compare: plan ADD/UPDATE/DELETE actions (a dry run). */
  def plan(spark: SparkSession, srcRoots: Seq[String], destRoot: String,
      operations: Set[String] = Set("a", "u", "d"),
      parallelism: Int = 32): Dataset[SyncAction] =
    run(spark, srcRoots, destRoot, operations, dryRun = true, parallelism)._1

  /**
   * Stage 2 — sync: plan once, then execute the planned actions.
   *
   * The returned actions are the plan. Under the driver-side bound they are
   * the very actions this call executed, held as a local Dataset. Over it
   * they stay lazy: evaluating them lists the trees again, so after a run
   * they show what is still left to do (nothing, once converged). A dry run
   * returns the plan without touching the dest.
   */
  def run(spark: SparkSession, srcRoots: Seq[String], destRoot: String,
      operations: Set[String] = Set("a", "u", "d"), dryRun: Boolean = false,
      parallelism: Int = 32): (Dataset[SyncAction], Option[HdfsSyncStats]) =
    run(spark, srcRoots, destRoot, operations, dryRun, parallelism, CopyExec.DefaultBound)

  private[graft] def run(spark: SparkSession, srcRoots: Seq[String], destRoot: String,
      operations: Set[String], dryRun: Boolean, parallelism: Int,
      bound: CopyExec.Bound): (Dataset[SyncAction], Option[HdfsSyncStats]) = {
    import spark.implicits._
    val p = CopyExec.plan(spark, Seq(SyncUnit(srcRoots, destRoot)),
      CopyExec.AllOps.filter(op => operations(op.take(1).toLowerCase)), false,
      parallelism, bound)
    val stats = Option.when(!dryRun) {
      val t = CopyExec.execute(p)
      HdfsSyncStats(t.added, t.updated, t.deleted)
    }
    def action(o: FileOp) = SyncAction(o.relPath, o.op, o.srcRoot, o.size, o.mtime)
    (p.ops.fold(_.map(action).toDS(), _.map(action)), stats)
  }
}
