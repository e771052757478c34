package graft

import scala.jdk.CollectionConverters._

import graft.batch.{BatchConfig, BatchReplication, BatchStats}
import graft.catalog.{CatalogClient, CatalogConnector, InMemoryConnector}
import graft.fs.CopyExec
import graft.model._

/**
 * End-to-end batch replication — the port of the reference's
 * `BatchReplicationTest.testCopyNewTables/testDrops`
 * (`main/src/test/java/test/BatchReplicationTest.java:45-170`) and the
 * SURVEY §7.2 minimum slice: partitioned + unpartitioned table on src,
 * empty dest → plan yields exactly {COPY_UNPARTITIONED_TABLE,
 * COPY_PARTITIONED_TABLE, COPY_PARTITION×3} → execute → dest converges →
 * re-run is a no-op → src drop propagates.
 */
class BatchReplicationSpec extends TestBase {

  test("copy new tables end-to-end, converge, then drop") {
    val srcWh = tmpDir("batch-src-wh")
    val destWh = tmpDir("batch-dest-wh")
    val srcConn = freshCatalog("batch-src")
    val destConn = freshCatalog("batch-dest")
    val src = srcConn.connect()

    val unp = unpartitionedTable("test_db", "unp_table", srcWh)
    val part = partitionedTable("test_db", "part_table", srcWh)
    src.createTable(unp)
    src.createTable(part)
    Seq("ds=1/hr=1", "ds=1/hr=2", "ds=1/hr=3")
      .foreach(p => src.addPartition(partition(part, p)))

    val cfg = BatchConfig(srcConn, destConn,
      srcFsRoot = srcWh.toUri.toString.stripSuffix("/"),
      destFsRoot = destWh.toUri.toString.stripSuffix("/"),
      planDir = tmpDir("batch-plan").toUri.toString + "plan",
      copyParallelism = 4)

    // stage 1: plan
    val actions = BatchReplication.plan(spark, cfg).collect()
    val byType = actions.groupBy(_.taskType).view.mapValues(_.length).toMap
    assert(byType == Map(
      TaskType.CopyUnpartitionedTable -> 1,
      TaskType.CopyPartitionedTable -> 1,
      TaskType.CopyPartition -> 3), s"plan was: ${actions.mkString("\n")}")

    // stages 2+3
    val copied = BatchReplication.copyData(spark, cfg)
    assert(copied == 8, s"expected 8 files copied (2 + 3*2), got $copied")
    val stats = BatchReplication.commit(spark, cfg)
    assert(stats.commitFailures == 0)

    val dest = destConn.connect()
    assert(dest.getTable("test_db", "unp_table").isDefined)
    assert(dest.getTable("test_db", "part_table").isDefined)
    assert(dest.listPartitionNames("test_db", "part_table").size == 3)
    val destUnp = dest.getTable("test_db", "unp_table").get
    assert(destUnp.location.startsWith(cfg.destFsRoot))
    assert(destUnp.parameters(TableMeta.SrcCluster) == "src")
    assert(CopyExec.equalDirs(spark, unp.location, destUnp.location))
    val destPart = dest.getPartition("test_db", "part_table", "ds=1/hr=2").get
    assert(CopyExec.equalDirs(spark,
      part.location + "/ds=1/hr=2", destPart.location))

    // convergence: re-plan is empty
    val again = BatchReplication.plan(spark, cfg).collect()
    assert(again.isEmpty, s"expected converged plan, got: ${again.mkString(",")}")

    // drop on src propagates as DROP_TABLE
    src.dropTable("test_db", "unp_table")
    val planAfterDrop = BatchReplication.plan(spark, cfg).collect()
    assert(planAfterDrop.map(_.taskType).toSeq == Seq(TaskType.DropTable))
    BatchReplication.commit(spark, cfg)
    assert(dest.getTable("test_db", "unp_table").isEmpty)
  }

  test("a rewritten partition with one fewer file converges, " +
      "and no staging dir is left") {
    val srcWh = tmpDir("shrink-src-wh")
    val destWh = tmpDir("shrink-dest-wh")
    val srcConn = freshCatalog("shrink-src")
    val destConn = freshCatalog("shrink-dest")
    val src = srcConn.connect()
    val part = partitionedTable("db1", "t", srcWh)
    src.createTable(part)
    Seq("ds=1/hr=1", "ds=1/hr=2").foreach(p => src.addPartition(partition(part, p)))
    src.createTable(unpartitionedTable("db1", "u", srcWh))
    val cfg = BatchConfig(srcConn, destConn,
      srcFsRoot = srcWh.toUri.toString.stripSuffix("/"),
      destFsRoot = destWh.toUri.toString.stripSuffix("/"),
      planDir = tmpDir("shrink-plan").toUri.toString + "plan",
      copyParallelism = 4)
    BatchReplication.run(spark, cfg)

    // the partition is rewritten without file2.txt, with a newer tldt
    val rewritten = partition(part, "ds=1/hr=2", tldt = 2000L)
    java.nio.file.Files.delete(srcWh.resolve("db1/t/ds=1/hr=2/file2.txt"))
    src.alterPartition(rewritten)
    val stats = BatchReplication.run(spark, cfg)
    assert(stats.commitFailures == 0)

    val destPart = destConn.connect().getPartition("db1", "t", "ds=1/hr=2").get
    assert(CopyExec.equalDirs(spark, rewritten.location, destPart.location))
    assert(!java.nio.file.Files.exists(destWh.resolve("db1/t/ds=1/hr=2/file2.txt")))
    val staging = java.nio.file.Files.walk(destWh)
    try assert(!staging.anyMatch(_.getFileName.toString == ".graft-tmp"))
    finally staging.close()
  }

  test("driver and executor commit paths yield equal stats and dest catalogs") {
    val srcWh = tmpDir("paths-src-wh")
    val srcConn = freshCatalog("paths-src")
    val src = srcConn.connect()
    val part = partitionedTable("db1", "part", srcWh)
    src.createTable(part)
    Seq("ds=1/hr=1", "ds=1/hr=2").foreach(p => src.addPartition(partition(part, p)))
    src.createTable(unpartitionedTable("db1", "unp", srcWh))
    src.createTable(unpartitionedTable("db1", "gone", srcWh))
    def cfgFor(name: String, wrap: InMemoryConnector => CatalogConnector) =
      BatchConfig(wrap(srcConn), wrap(freshCatalog(s"paths-$name-dest")),
        srcWh.toUri.toString.stripSuffix("/"),
        tmpDir(s"paths-$name-wh").toUri.toString.stripSuffix("/"),
        planDir = tmpDir(s"paths-$name-plan").toUri.toString + "plan",
        copyParallelism = 4)
    val executor = cfgFor("executor", identity)
    val driver = cfgFor("driver", DriverOnly)
    assert(!driver.destConnector.executorSafe)
    /** Every dest table and partition, locations relative to the dest root. */
    def destCatalog(cfg: BatchConfig) = {
      val c = cfg.destConnector.connect()
      def rel(loc: String) = loc.stripPrefix(cfg.destFsRoot)
      for (db <- c.listDatabases(); t <- c.listTables(db)) yield (
        c.getTable(db, t).map(m => m.copy(location = rel(m.location))),
        c.listPartitionNames(db, t).sorted.flatMap(c.getPartition(db, t, _))
          .map(p => p.copy(location = rel(p.location))))
    }
    def runBoth() = {
      val stats = (BatchReplication.run(spark, executor), BatchReplication.run(spark, driver))
      assert(stats._1 == stats._2)
      assert(destCatalog(executor) == destCatalog(driver))
      stats._1
    }
    assert(runBoth() == BatchStats(planned = 5, copies = 5, drops = 0, commitFailures = 0))
    src.dropTable("db1", "gone")
    src.dropPartition("db1", "part", "ds=1/hr=2")
    assert(runBoth() == BatchStats(planned = 2, copies = 0, drops = 2, commitFailures = 0))
    assert(destCatalog(driver).map(_._1.get.table).sorted == Seq("part", "unp"))
    // converged: an empty plan commits through both paths as all zeros
    assert(runBoth() == BatchStats.Zero)
  }

  test("blacklist prunes before planning") {
    val srcWh = tmpDir("bl-src-wh")
    val srcConn = freshCatalog("bl-src")
    val destConn = freshCatalog("bl-dest")
    srcConn.connect().createTable(unpartitionedTable("tmp_db", "scratch", srcWh))
    srcConn.connect().createTable(unpartitionedTable("prod_db", "keep", srcWh))
    // a blacklisted partitioned table on both sides: its partitions must
    // never be listed or fetched
    val parted = partitionedTable("tmp_db", "parted", srcWh)
    Seq(srcConn, destConn).foreach { c =>
      c.connect().createTable(parted)
      c.connect().addPartition(partition(parted, "ds=1/hr=1"))
    }
    val cfg = BatchConfig(PartitionReadLog(srcConn), PartitionReadLog(destConn),
      srcWh.toUri.toString.stripSuffix("/"), tmpDir("bl-dest-wh").toUri.toString,
      planDir = tmpDir("bl-plan").toUri.toString + "plan",
      blacklist = Seq(("^tmp_.*", ".*")), copyParallelism = 4)
    val actions = BatchReplication.plan(spark, cfg).collect()
    assert(actions.map(_.table).toSeq == Seq("keep"))
    val reads = BatchReplicationSpec.partitionReads.asScala
      .filter { case (id, _) => id == srcConn.id || id == destConn.id }
    assert(!reads.exists(_._2.startsWith("tmp_db.")), s"partition reads: $reads")
  }

  test("S2: table-list file restricts the plan to listed tables") {
    val srcWh = tmpDir("s2-src-wh")
    val srcConn = freshCatalog("s2-src")
    val destConn = freshCatalog("s2-dest")
    val src = srcConn.connect()
    src.createTable(unpartitionedTable("db1", "listed_a", srcWh))
    src.createTable(unpartitionedTable("db1", "listed_b", srcWh))
    src.createTable(unpartitionedTable("db1", "unlisted", srcWh))

    val listFile = tmpDir("s2-list").resolve("tables.txt")
    java.nio.file.Files.writeString(listFile,
      "db1.listed_a\n \nnot-a-spec\ndb1.listed_b\n")

    val cfg = BatchConfig(srcConn, destConn,
      srcWh.toUri.toString.stripSuffix("/"), tmpDir("s2-dest-wh").toUri.toString,
      planDir = tmpDir("s2-plan").toUri.toString + "plan",
      copyParallelism = 4, tableListPath = Some(listFile.toUri.toString))
    val actions = BatchReplication.plan(spark, cfg).collect()
    assert(actions.map(_.table).sorted.toSeq == Seq("listed_a", "listed_b"))
  }

  test("stale dest table is re-planned (TLDT comparison)") {
    val srcWh = tmpDir("tldt-src-wh")
    val destWh = tmpDir("tldt-dest-wh")
    val srcConn = freshCatalog("tldt-src")
    val destConn = freshCatalog("tldt-dest")
    val t = unpartitionedTable("db1", "t1", srcWh, tldt = 2000L)
    srcConn.connect().createTable(t)
    destConn.connect().createTable(t.copy(
      location = destWh.resolve("db1").resolve("t1").toUri.toString,
      parameters = Map(TableMeta.Tldt -> "1000")))
    val cfg = BatchConfig(srcConn, destConn,
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"),
      planDir = tmpDir("tldt-plan").toUri.toString + "plan", copyParallelism = 4)
    val actions = BatchReplication.plan(spark, cfg).collect()
    assert(actions.map(_.taskType).toSeq == Seq(TaskType.CopyUnpartitionedTable))
  }
}

object BatchReplicationSpec {
  /** (connector id, `db.table`) of every partition read a
    * [[PartitionReadLog]] client served: global, because clients are
    * opened inside Spark tasks. */
  val partitionReads = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}

/** In-memory connector that logs which tables' partitions are read. */
final case class PartitionReadLog(inner: InMemoryConnector) extends CatalogConnector {
  def connect(): CatalogClient = new CatalogClient {
    private val c = inner.connect()
    private def logged[A](db: String, table: String)(read: => A): A = {
      BatchReplicationSpec.partitionReads.add((inner.id, s"$db.$table"))
      read
    }
    def listPartitionNames(db: String, table: String): Seq[String] =
      logged(db, table)(c.listPartitionNames(db, table))
    def getPartition(db: String, table: String, partName: String): Option[PartitionMeta] =
      logged(db, table)(c.getPartition(db, table, partName))
    def listDatabases(): Seq[String] = c.listDatabases()
    def createDatabase(db: String): Unit = c.createDatabase(db)
    def listTables(db: String): Seq[String] = c.listTables(db)
    def getTable(db: String, table: String): Option[TableMeta] = c.getTable(db, table)
    def createTable(t: TableMeta): Unit = c.createTable(t)
    def alterTable(db: String, table: String, t: TableMeta): Unit = c.alterTable(db, table, t)
    def dropTable(db: String, table: String): Unit = c.dropTable(db, table)
    def addPartition(p: PartitionMeta): Unit = c.addPartition(p)
    def alterPartition(p: PartitionMeta): Unit = c.alterPartition(p)
    def dropPartition(db: String, table: String, partName: String): Unit =
      c.dropPartition(db, table, partName)
    def renamePartition(db: String, table: String, from: String, to: PartitionMeta): Unit =
      c.renamePartition(db, table, from, to)
  }
}

/** In-memory connector reachable only from the driver, as a catalog bound
  * to the driver's SparkSession is: routes stage 3 through its driver pass. */
final case class DriverOnly(inner: InMemoryConnector) extends CatalogConnector {
  def connect(): CatalogClient = inner.connect()
  override def executorSafe: Boolean = false
}
