package graft

import graft.model._
import graft.planner.DiffPlanner
import graft.tasks.{TaskContext, Tasks}

/** Task-layer guards and pure planner pieces — mirrors the reference's
  * `TaskEstimatorTest` transitions and drop/rename task tests. */
class TasksSpec extends TestBase {

  private def ctx(destConn: graft.catalog.InMemoryConnector,
      srcRoot: String = "file:/src", destRoot: String = "file:/dest") =
    TaskContext(spark, destConn.connect(), srcRoot, destRoot)

  test("dropTable honors the TLDT optimistic-concurrency guard") {
    val destConn = freshCatalog("guard-dest")
    val wh = tmpDir("guard-wh")
    val t = unpartitionedTable("db1", "t1", wh, tldt = 5000L)
    destConn.connect().createTable(t)

    // logged drop carries an *older* token than the dest object ⇒ refuse
    val refused = Tasks.dropTable(ctx(destConn), "db1", "t1", Some(4000L))
    assert(refused.isInstanceOf[Tasks.NotCompletable])
    assert(destConn.connect().getTable("db1", "t1").isDefined)

    // matching/newer token ⇒ drop
    val done = Tasks.dropTable(ctx(destConn), "db1", "t1", Some(5000L))
    assert(done == Tasks.Done)
    assert(destConn.connect().getTable("db1", "t1").isEmpty)

    // already gone ⇒ NOOP (idempotent replay)
    assert(Tasks.dropTable(ctx(destConn), "db1", "t1", Some(5000L)) == Tasks.Noop)
  }

  test("dropPartition guard") {
    val destConn = freshCatalog("guardp-dest")
    val wh = tmpDir("guardp-wh")
    val t = partitionedTable("db1", "pt", wh)
    destConn.connect().createTable(t)
    destConn.connect().addPartition(partition(t, "ds=1/hr=1", tldt = 5000L))
    assert(Tasks.dropPartition(ctx(destConn), "db1", "pt", "ds=1/hr=1", Some(4000L))
      .isInstanceOf[Tasks.NotCompletable])
    assert(Tasks.dropPartition(ctx(destConn), "db1", "pt", "ds=1/hr=1", Some(6000L))
      == Tasks.Done)
  }

  test("renameTable: renamed-to already present is a NOOP; missing rename-from copies") {
    val destConn = freshCatalog("ren-dest")
    val srcConn = freshCatalog("ren-src")
    val srcWh = tmpDir("ren-src-wh")
    val destWh = tmpDir("ren-dest-wh")
    val src = srcConn.connect()
    val c = TaskContext(spark, destConn.connect(),
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"))

    val renamed = unpartitionedTable("db1", "new_name", srcWh)
    src.createTable(renamed)
    // dest already has new_name ⇒ NOOP
    destConn.connect().createTable(renamed)
    assert(Tasks.renameTable(c, src, "db1", "old_name", renamed) == Tasks.Noop)

    // rename-from missing on dest ⇒ falls back to a fresh copy
    val destConn2 = freshCatalog("ren-dest2")
    val c2 = TaskContext(spark, destConn2.connect(),
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"))
    assert(Tasks.renameTable(c2, src, "db1", "old_name", renamed) == Tasks.Done)
    assert(destConn2.connect().getTable("db1", "new_name").isDefined)

    // rename-from present ⇒ catalog rename
    val destConn3 = freshCatalog("ren-dest3")
    destConn3.connect().createTable(renamed.copy(table = "old_name"))
    val c3 = TaskContext(spark, destConn3.connect(),
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"))
    assert(Tasks.renameTable(c3, src, "db1", "old_name", renamed) == Tasks.Done)
    assert(destConn3.connect().getTable("db1", "old_name").isEmpty)
    assert(destConn3.connect().getTable("db1", "new_name").isDefined)
  }

  test("T8: rename fallback of a partitioned table copies ALL partitions with data") {
    val srcConn = freshCatalog("t8-src")
    val destConn = freshCatalog("t8-dest")
    val srcWh = tmpDir("t8-src-wh")
    val destWh = tmpDir("t8-dest-wh")
    val src = srcConn.connect()
    val c = TaskContext(spark, destConn.connect(),
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"))

    // src already holds the renamed-to table with three partitions
    val to = partitionedTable("db1", "pt_new", srcWh)
    src.createTable(to)
    val parts = Seq("ds=1/hr=1", "ds=1/hr=2", "ds=2/hr=1").map(p => partition(to, p))
    parts.foreach(src.addPartition)

    // rename-from never existed on dest ⇒ T8 complete copy, partitions included
    assert(Tasks.renameTable(c, src, "db1", "pt_old", to) == Tasks.Done)
    val dest = destConn.connect()
    assert(dest.getTable("db1", "pt_new").isDefined)
    assert(dest.listPartitionNames("db1", "pt_new") ==
      Seq("ds=1/hr=1", "ds=1/hr=2", "ds=2/hr=1"))
    parts.foreach { p =>
      assert(graft.fs.CopyExec.equalDirs(spark, p.location,
        c.destLocation(p.location)), s"partition ${p.partName} data not copied")
    }
  }

  test("F4: exchange-partition command parse") {
    import graft.incremental.ExchangePartitionParser
    val parsed = ExchangePartitionParser.parse(
      "ALTER TABLE db2.target EXCHANGE PARTITION (ds='2024-01-01', hr='02') WITH TABLE db1.source")
    assert(parsed.contains(ExchangePartitionParser.Exchange(
      "db2", "target", "db1", "source", "ds=2024-01-01/hr=02")))
    // bare table names assume default db (reference behavior)
    val bare = ExchangePartitionParser.parse(
      "alter table t2 exchange partition (ds='1') with table t1")
    assert(bare.contains(ExchangePartitionParser.Exchange(
      "default", "t2", "default", "t1", "ds=1")))
    assert(ExchangePartitionParser.parse("SELECT 1").isEmpty)
    // values containing commas and (doubled) quotes parse correctly
    // instead of splitting mid-value or dropping the entry
    val quoted = ExchangePartitionParser.parse(
      "ALTER TABLE db.t EXCHANGE PARTITION (city='San Jose, CA', note='it''s') " +
        "WITH TABLE db.s")
    assert(quoted.map(_.partName).contains("city=San Jose, CA/note=it's"),
      s"got $quoted")
  }

  test("conflict handler drops dest table with mismatched partition keys") {
    val destConn = freshCatalog("conf-dest")
    val wh = tmpDir("conf-wh")
    val partitioned = partitionedTable("db1", "t1", wh)
    destConn.connect().createTable(partitioned)
    val unpartitioned = unpartitionedTable("db1", "t1", wh)
    Tasks.resolveConflict(ctx(destConn), unpartitioned)
    assert(destConn.connect().getTable("db1", "t1").isEmpty)
  }

  test("T4 copies its partitions in one copy plan and touches nothing outside them") {
    def fresh(name: String, overwriteNewer: Boolean = true)
        : (TaskContext, graft.catalog.InMemoryConnector, java.nio.file.Path) = {
      val destConn = freshCatalog(s"$name-dest")
      val srcWh = tmpDir(s"$name-src-wh")
      val destWh = tmpDir(s"$name-dest-wh")
      (TaskContext(spark, destConn.connect(), srcWh.toUri.toString.stripSuffix("/"),
        destWh.toUri.toString.stripSuffix("/"), overwriteNewer), destConn, srcWh)
    }
    def dir(loc: String) = java.nio.file.Paths.get(java.net.URI.create(loc))
    def converged(c: TaskContext, p: PartitionMeta) = assert(
      graft.fs.CopyExec.equalDirs(spark, p.location, c.destLocation(p.location)),
      s"partition ${p.partName} not copied")

    val (c, destConn, srcWh) = fresh("bulk")
    val t = partitionedTable("db1", "bulk_t", srcWh)
    val parts = Seq("ds=1/hr=1", "ds=1/hr=2", "ds=1/hr=3").map(p => partition(t, p))
    assert(Tasks.copyPartitions(c, t, parts) == Tasks.Done)
    assert(destConn.connect().listPartitionNames("db1", "bulk_t").size == 3)
    assert(graft.fs.CopyExec.equalDirs(spark, t.location, c.destLocation(t.location)))

    // unrelated source data under the table dir is not dragged along
    val (c2, _, srcWh2) = fresh("bulk-unrelated")
    val t2 = partitionedTable("db1", "bulk_u", srcWh2)
    val parts2 = Seq("ds=1/hr=1", "ds=1/hr=2").map(p => partition(t2, p))
    writeFile(dir(t2.location).resolve("unrelated"), "huge.bin", "x" * 10000)
    assert(Tasks.copyPartitions(c2, t2, parts2) == Tasks.Done)
    parts2.foreach(converged(c2, _))
    assert(!java.nio.file.Files.exists(dir(c2.destLocation(t2.location)).resolve("unrelated")))

    // a dest-only file under the table dir but outside both partitions is
    // left alone: no TLDT drop guard ever covered it
    val (c3, _, srcWh3) = fresh("bulk-dest-only")
    val t3 = partitionedTable("db1", "bulk_d", srcWh3)
    val parts3 = Seq("ds=1/hr=1", "ds=2/hr=1").map(p => partition(t3, p))
    val destOnly = dir(c3.destLocation(t3.location)).resolve("ds=3").resolve("hr=1")
    writeFile(destOnly, "file1.txt", "dest-only")
    assert(Tasks.copyPartitions(c3, t3, parts3) == Tasks.Done)
    parts3.foreach(converged(c3, _))
    assert(java.nio.file.Files.readString(destOnly.resolve("file1.txt")) == "dest-only")

    // overwriteNewer = false: a partition the dest holds a newer version of
    // keeps its dest files byte for byte; the other one is copied
    val (c4, destConn4, srcWh4) = fresh("bulk-newer", overwriteNewer = false)
    val t4 = partitionedTable("db1", "bulk_n", srcWh4)
    val Seq(older, newer) = Seq("ds=1/hr=1", "ds=2/hr=1").map(p => partition(t4, p))
    val newerDir = dir(c4.destLocation(newer.location))
    writeFile(newerDir, "file1.txt", "written on the dest later")
    writeFile(newerDir, "file2.txt", "4567")
    destConn4.connect().createTable(t4.copy(location = c4.destLocation(t4.location)))
    destConn4.connect().addPartition(newer.copy(location = c4.destLocation(newer.location),
      parameters = newer.parameters + (TableMeta.Tldt -> "9999")))
    assert(Tasks.copyPartitions(c4, t4, Seq(older, newer)) == Tasks.Done)
    converged(c4, older)
    assert(java.nio.file.Files.readString(newerDir.resolve("file1.txt")) ==
      "written on the dest later")
    assert(java.nio.file.Files.readString(newerDir.resolve("file2.txt")) == "4567")
    assert(destConn4.connect().getPartition("db1", "bulk_n", newer.partName).get
      .parameters(TableMeta.Tldt) == "9999")
    // every partition guarded: the job reports DestNewer
    assert(Tasks.copyPartitions(c4, t4, Seq(newer)) == Tasks.DestNewer)
  }

  test("T8 on a many-partition table converges through one copy plan") {
    val srcConn = freshCatalog("many-src")
    val destConn = freshCatalog("many-dest")
    val srcWh = tmpDir("many-src-wh")
    val destWh = tmpDir("many-dest-wh")
    val src = srcConn.connect()
    val c = TaskContext(spark, destConn.connect(),
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"))
    val t = partitionedTable("db1", "many_t", srcWh)
    src.createTable(t)
    val parts = (0 until 120).map(i => partition(t, s"ds=${i / 24}/hr=${i % 24}"))
    parts.foreach(src.addPartition)
    assert(Tasks.copyCompleteTable(c, src, t) == Tasks.Done)
    assert(destConn.connect().listPartitionNames("db1", "many_t").size == 120)
    assert(graft.fs.CopyExec.equalDirs(spark, t.location, c.destLocation(t.location)))
  }

  test("overwriteNewer=false guards a newer dest from a stale replay") {
    val destConn = freshCatalog("newer-dest")
    val srcWh = tmpDir("newer-src-wh")
    val destWh = tmpDir("newer-dest-wh")
    val base = TaskContext(spark, destConn.connect(),
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"))
    val guarded = base.copy(overwriteNewer = false)

    // dest already holds a NEWER version of the table than the replayed event
    val srcT = unpartitionedTable("db1", "t_guard", srcWh, tldt = 1000L)
    val newerDest = srcT.copy(
      location = guarded.destLocation(srcT.location),
      parameters = srcT.parameters + (TableMeta.Tldt -> "9999"))
    destConn.connect().createTable(newerDest)
    assert(Tasks.copyUnpartitionedTable(guarded, srcT) == Tasks.DestNewer)
    // the guard left the newer dest untouched
    assert(destConn.connect().getTable("db1", "t_guard").get
      .parameters(TableMeta.Tldt) == "9999")
    // default config overwrites (one-way replication semantics)
    assert(Tasks.copyUnpartitionedTable(base, srcT) == Tasks.Done)
    assert(destConn.connect().getTable("db1", "t_guard").get
      .parameters(TableMeta.Tldt) == "1000")

    // same guard on the partition path
    val pt = partitionedTable("db1", "pt_guard", srcWh)
    val srcP = partition(pt, "ds=1/hr=1", tldt = 1000L)
    destConn.connect().createTable(pt.copy(location = guarded.destLocation(pt.location)))
    destConn.connect().addPartition(srcP.copy(
      location = guarded.destLocation(srcP.location),
      parameters = srcP.parameters + (TableMeta.Tldt -> "9999")))
    assert(Tasks.copyPartition(guarded, pt, srcP) == Tasks.DestNewer)
    assert(Tasks.copyPartition(base, pt, srcP) == Tasks.Done)
  }

  test("retry wrapper: exponential backoff then success / exhaustion") {
    var sleeps = Seq.empty[Long]
    var calls = 0
    val out = Tasks.withRetry(maxRetries = 8, sleeper = s => sleeps :+= s) {
      calls += 1
      if (calls < 4) throw new RuntimeException("flaky")
      42
    }
    assert(out == 42 && calls == 4)
    assert(sleeps == Seq(2000L, 4000L, 8000L))

    intercept[RuntimeException] {
      Tasks.withRetry(maxRetries = 2, sleeper = _ => ()) {
        throw new RuntimeException("always")
      }
    }
  }

  test("common-ancestor aggregator (A5)") {
    import spark.implicits._
    val locs = Seq(
      "hdfs://nn/wh/db/t/ds=1/hr=1",
      "hdfs://nn/wh/db/t/ds=1/hr=2",
      "hdfs://nn/wh/db/t/ds=2/hr=1").toDS()
    val lcp = locs.select(DiffPlanner.CommonAncestorAgg.toColumn).head()
    assert(lcp == "hdfs://nn/wh/db/t")

    // different scheme/authority ⇒ no common ancestor beyond nothing
    val mixed = Seq("hdfs://nn1/wh/db", "hdfs://nn2/wh/db").toDS()
    assert(mixed.select(DiffPlanner.CommonAncestorAgg.toColumn).head() == "")

    // scheme-less locations render with "/" separators, not concatenated
    val bare = Seq("/wh/db/t/ds=1", "/wh/db/t/ds=2").toDS()
    assert(bare.select(DiffPlanner.CommonAncestorAgg.toColumn).head() == "/wh/db/t")
  }
}
