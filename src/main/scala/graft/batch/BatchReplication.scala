package graft.batch

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{CatalogConnector, CatalogSnapshot}
import graft.fs.{CopyExec, SyncUnit}
import graft.model._
import graft.tasks.{TaskContext, Tasks}

/**
 * Batch replication driver — the Spark re-expression of the reference's
 * 3-stage MR pipeline (`batch/hive/MetastoreReplicationJob.java:53-100`):
 *
 *   1. plan:   diff both catalog snapshots → Dataset[Action] → parquet
 *   2. data:   plan's data dirs → one copy-engine run (CopyExec)
 *   3. commit: metadata ops per action against the dest catalog
 *
 * One Spark application, three stages; `--step` resume semantics come from
 * the persisted plan parquet (reference: `MetastoreReplicationJob.java:308-356`).
 * Blacklist filtering happens before any FS probing (early pruning, P1).
 */
final case class BatchConfig(
    srcConnector: CatalogConnector,
    destConnector: CatalogConnector,
    srcFsRoot: String,
    destFsRoot: String,
    planDir: String,
    blacklist: Seq[(String, String)] = Seq.empty,
    copyParallelism: Int = 32,
    tableListPath: Option[String] = None,
    // checksum copy level: detect + re-copy same-size corrupted files
    // (CopyExec.md5 — config-gated, off on stores where reads are costly)
    verifyChecksum: Boolean = false)

final case class BatchStats(
    planned: Long, copies: Long, drops: Long, commitFailures: Long) {
  def +(o: BatchStats): BatchStats = BatchStats(planned + o.planned,
    copies + o.copies, drops + o.drops, commitFailures + o.commitFailures)
}

object BatchStats {
  val Zero: BatchStats = BatchStats(0, 0, 0, 0)
}

object BatchReplication {

  /** S2 — table-list file scan (`MetastoreReplicationJob.java:435-462,
    * 589-626`): one `db.table` per line, malformed lines skipped (the
    * reference logs and continues). The standard entry point for partial
    * replication runs — the result feeds [[plan]] as an allowlist. */
  def tableList(spark: SparkSession, path: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.textFile(path)
      .map(_.trim)
      .flatMap { line =>
        line.split('.') match {
          case Array(db, tbl) if db.nonEmpty && tbl.nonEmpty => Some((db, tbl))
          case _ => None
        }
      }
  }

  /** Stage 1: snapshot + diff + persist the plan. */
  def plan(spark: SparkSession, cfg: BatchConfig): Dataset[Action] = {
    import spark.implicits._
    def blacklisted(db: String, table: String): Boolean =
      cfg.blacklist.exists { case (d, t) => db.matches(d) && table.matches(t) }
    // S2 allowlist: collected driver-side deliberately — a table list is a
    // human-supplied file (the reference caps splits at 60 KB of text)
    val allow: Option[Set[(String, String)]] =
      cfg.tableListPath.map(p => tableList(spark, p).collect().toSet)
    def allowed(db: String, table: String): Boolean =
      allow.forall(_.contains((db, table)))

    // partitions are listed from the filtered table snapshots, so no
    // catalog call reaches a blacklisted or unlisted table's partitions
    def snapshot(c: CatalogConnector): (Dataset[TableMeta], Dataset[PartitionMeta]) = {
      val tables = CatalogSnapshot.tables(spark, c)
        .filter((t: TableMeta) => !blacklisted(t.db, t.table) && allowed(t.db, t.table))
      (tables, CatalogSnapshot.partitionsOf(spark, c, tables))
    }

    val actions = graft.planner.DiffPlanner.plan(
      snapshot(cfg.srcConnector), snapshot(cfg.destConnector))
    actions.write.mode("overwrite").parquet(cfg.planDir)
    spark.read.parquet(cfg.planDir).as[Action]
  }

  /**
   * Stage 2: every COPY action with data is one [[CopyExec]] unit: its
   * source dir mirrored into its dest dir, dest-only files deleted, as the
   * reference's stage 2 recreates each dest dir
   * (`Stage2DirectoryCopyMapper.java:49-132` + reducer). Dirs that stay
   * under the engine's bound together copy on the driver; otherwise one
   * distributed plan covers all of them. Returns the number of files copied.
   */
  def copyData(spark: SparkSession, cfg: BatchConfig): Long =
    copyData(spark, cfg, CopyExec.DefaultBound)

  private[graft] def copyData(spark: SparkSession, cfg: BatchConfig,
      bound: CopyExec.Bound): Long = {
    import spark.implicits._
    val (srcRoot, destRoot) = (cfg.srcFsRoot, cfg.destFsRoot)
    val units = spark.read.parquet(cfg.planDir).as[Action]
      .filter((a: Action) =>
        a.updateData && a.srcPath.isDefined &&
          (a.taskType == TaskType.CopyUnpartitionedTable ||
           a.taskType == TaskType.CopyPartition))
      .map(a => SyncUnit(Seq(a.srcPath.get),
        TaskContext.destLocation(srcRoot, destRoot, a.srcPath.get)))
      .filter((u: SyncUnit) => u.srcRoots.head != u.destRoot)
    CopyExec.execute(CopyExec.plan(units, CopyExec.AllOps, cfg.verifyChecksum,
      cfg.copyParallelism, bound)).copied
  }

  /** Commit one plan action's metadata against the dest catalog (data moved
    * in stage 2). Runs on executors — uses only catalog connections. */
  private def commitOne(ctx: TaskContext, src: graft.catalog.CatalogClient,
      a: Action): Unit = a.taskType match {
    case TaskType.CopyUnpartitionedTable =>
      src.getTable(a.db, a.table).foreach(Tasks.commitTable(ctx, _))
    case TaskType.CopyPartitionedTable =>
      src.getTable(a.db, a.table).foreach(Tasks.copyPartitionedTable(ctx, _))
    case TaskType.CopyPartition =>
      for {
        t <- src.getTable(a.db, a.table)
        p <- src.getPartition(a.db, a.table, a.partName.get)
      } Tasks.commitPartitions(ctx, t, Seq(p))
    case TaskType.DropTable =>
      Tasks.dropTable(ctx, a.db, a.table, None)
    case TaskType.DropPartition =>
      Tasks.dropPartition(ctx, a.db, a.table, a.partName.get, None)
    case _ => ()
  }

  /** Commit a run of plan actions through one pair of catalog connections
    * and count them; a failed commit is counted, never rethrown. */
  private def commitAll(cfg: BatchConfig, actions: Iterator[Action]): BatchStats = {
    val src = cfg.srcConnector.connect()
    val ctx = TaskContext.metadataOnly(cfg.destConnector.connect(),
      cfg.srcFsRoot, cfg.destFsRoot)
    actions.foldLeft(BatchStats.Zero) { (stats, a) =>
      val failed = try { commitOne(ctx, src, a); 0L }
                   catch { case _: Throwable => 1L }
      stats + BatchStats(1,
        if (a.taskType.startsWith("COPY")) 1 else 0,
        if (a.taskType.startsWith("DROP")) 1 else 0, failed)
    }
  }

  /** Stage 3: commit metadata per action (T1-T7 dispatch, reference
    * `Stage3CommitChangeMapper.java:72-168` — 150 commit mappers). The plan
    * is hash-partitioned by (db, table) so each table's actions land in one
    * partition, sorted tables-before-partitions within it (a partition add
    * requires its table); cross-table commits run in parallel on executors
    * with one catalog connection per partition. The driver sees one
    * [[BatchStats]] per partition, never O(actions) rows, and folds them
    * from zero: an empty plan (a converged warehouse) may scan no
    * partition at all once AQE drops the empty shuffle. */
  def commit(spark: SparkSession, cfg: BatchConfig): BatchStats = {
    import spark.implicits._
    val sorted = spark.read.parquet(cfg.planDir).as[Action]
      .repartition(cfg.copyParallelism, col("db"), col("table"))
      .sortWithinPartitions(col("db"), col("table"),
        col("partName").isNotNull, col("partName"))
    if (!cfg.srcConnector.executorSafe || !cfg.destConnector.executorSafe)
      // a session-bound catalog is reachable only from the driver: stream
      // the plan through one driver-side pass (toLocalIterator — bounded
      // memory, one partition at a time); a cluster deployment plugs in an
      // executor-safe Thrift-style connector and takes the path below
      commitAll(cfg, sorted.toLocalIterator().asScala)
    else
      sorted.mapPartitions(it => Iterator.single(commitAll(cfg, it)))
        .collect().foldLeft(BatchStats.Zero)(_ + _)
  }

  /** Run all three stages (steps resumable individually). */
  def run(spark: SparkSession, cfg: BatchConfig): BatchStats = {
    plan(spark, cfg)
    copyData(spark, cfg)
    commit(spark, cfg)
  }
}
