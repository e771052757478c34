package graft

import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger

import graft.incremental._
import graft.model._
import graft.sources.AuditLogJdbc

/** Incremental server: audit entries → jobs → ordered parallel execution →
  * converged dest; state-table recovery; per-key lock ordering —
  * mirroring `ReplicationServerTest`. */
class IncrementalSpec extends TestBase {

  private def entry(id: Long, cmd: String, outTables: Seq[String] = Seq.empty,
      outParts: Seq[String] = Seq.empty, renameFrom: Option[String] = None) =
    AuditLogEntry(id, new Timestamp(1700000000000L + id), cmd, s"cmd-$id",
      outTables, outParts, renameFrom, Seq.empty)

  private def newServer(name: String): (IncrementalServer,
      graft.catalog.InMemoryConnector, graft.catalog.InMemoryConnector,
      java.nio.file.Path, java.nio.file.Path) = {
    val srcConn = freshCatalog(s"$name-src")
    val destConn = freshCatalog(s"$name-dest")
    val srcWh = tmpDir(s"$name-src-wh")
    val destWh = tmpDir(s"$name-dest-wh")
    val stateDir = tmpDir(s"$name-state")
    val cfg = IncrementalConfig(srcConn, destConn,
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"),
      stateDir.toUri.toString + "jobs",
      stateDir.toUri.toString + "watermark", workers = 4)
    (new IncrementalServer(spark, cfg), srcConn, destConn, srcWh, destWh)
  }

  test("create/insert/drop/rename entries converge the dest warehouse") {
    import spark.implicits._
    val (server, srcConn, destConn, srcWh, _) = newServer("incr")
    val src = srcConn.connect()

    val unp = unpartitionedTable("db1", "t_new", srcWh)
    src.createTable(unp)
    val pt = partitionedTable("db1", "t_part", srcWh)
    src.createTable(pt)
    src.addPartition(partition(pt, "ds=1/hr=1"))
    src.addPartition(partition(pt, "ds=1/hr=2"))
    val renamed = unpartitionedTable("db1", "t_renamed", srcWh)
    src.createTable(renamed)

    val entries = Seq(
      entry(1, "CREATETABLE", outTables = Seq("db1.t_new")),
      entry(2, "QUERY",
        outParts = Seq("db1.t_part/ds=1/hr=1", "db1.t_part/ds=1/hr=2")),
      entry(3, "SHOWTABLES"), // filtered at source
      entry(4, "ALTERTABLE_RENAME", outTables = Seq("db1.t_renamed"),
        renameFrom = Some("db1.t_old")))

    val results = server.processBatch(spark.createDataset(entries))
    assert(results.forall(_._2 == JobStatus.Successful),
      s"statuses: ${results.map(r => (r._1.operation, r._2))}")

    val dest = destConn.connect()
    assert(dest.getTable("db1", "t_new").isDefined)
    assert(dest.listPartitionNames("db1", "t_part") == Seq("ds=1/hr=1", "ds=1/hr=2"))
    assert(dest.getTable("db1", "t_renamed").isDefined)
    assert(server.watermark.get().contains(4L))

    // ST8 compaction: both partitions of entry 2 became ONE bulk job
    val partJobs = results.map(_._1).filter(_.operation == TaskType.CopyPartitions)
    assert(partJobs.size == 1 && partJobs.head.partitions.size == 2)

    // drop with a valid token
    val dropped = server.processBatch(spark.createDataset(Seq(
      entry(5, "DROPTABLE", outTables = Seq("db1.t_new")))))
    assert(dropped.head._2 == JobStatus.Successful)
    assert(dest.getTable("db1", "t_new").isEmpty)
  }

  test("state store: latest status wins; recovery re-runs pending jobs") {
    import spark.implicits._
    val (server, srcConn, destConn, srcWh, _) = newServer("recov")
    srcConn.connect().createTable(unpartitionedTable("db1", "t_crash", srcWh))

    // simulate a crash: job persisted PENDING but never executed
    val job = JobState(10L, 1700000000000L, "COPY_TABLE", JobStatus.Pending,
      "db1", "t_crash", Seq.empty, None, None, None, Map.empty)
    server.state.append(Seq(job))
    assert(server.state.restoreRunnable().map(_.id) == Seq(10L))

    val replayed = server.recover()
    assert(replayed.map(_._2) == Seq(JobStatus.Successful))
    assert(destConn.connect().getTable("db1", "t_crash").isDefined)
    assert(server.state.restoreRunnable().isEmpty)
    // state table holds both transitions, current() resolves to the latest
    assert(server.state.current().collect().head.status == JobStatus.Successful)
  }

  test("lock executor: per-key id order, cross-key parallelism, rename dual locks") {
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def job(id: Long, db: String, table: String,
        renameTo: Option[(String, String)] = None) =
      JobState(id, 0L, "X", JobStatus.Pending, db, table, Seq.empty, None,
        renameTo.map(_._1), renameTo.map(_._2), Map.empty)

    val jobs = Seq(
      job(1, "db", "a"), job(2, "db", "a"), job(3, "db", "a"),
      job(4, "db", "b"),
      job(5, "db", "c", renameTo = Some(("db", "a"))))
    val results = LockExecutor.execute(jobs, workers = 4) { j =>
      order.add(j.id); Thread.sleep(20); "OK"
    }
    assert(results.forall(_._2 == "OK"))
    val seq = order.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    // same-key jobs 1,2,3 must appear in id order
    val aOrder = seq.filter(Seq(1L, 2L, 3L).contains)
    assert(aOrder == Seq(1L, 2L, 3L), s"got order $seq")
    // job 5 (locks a+c) must run after 1-3 (holds a)
    assert(seq.indexOf(5L) > seq.indexOf(3L))
  }

  test("lock executor: a job outliving the drain deadline is RUNNING, never FAILED") {
    def job(id: Long, table: String) =
      JobState(id, 0L, "X", JobStatus.Pending, "db", table, Seq.empty, None,
        None, None, Map.empty)
    // default (no deadline): a job far longer than the old 10-min-style
    // latch would allow still completes SUCCESSFUL — execute waits
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val waited = LockExecutor.execute(Seq(job(1, "slow")), workers = 1) { _ =>
      Thread.sleep(300); slowDone.set(true); JobStatus.Successful
    }
    assert(slowDone.get(), "execute returned before the job finished")
    assert(waited.map(_._2) == Seq(JobStatus.Successful))

    // with a deadline: the straggler is interrupted and reported RUNNING —
    // a replayable state, not a false terminal FAILED
    val interrupted = new java.util.concurrent.CountDownLatch(1)
    val rs = LockExecutor.execute(Seq(job(1, "fast"), job(2, "stuck")),
      workers = 2, timeoutMillis = Some(250)) { j =>
      if (j.table == "stuck") {
        try Thread.sleep(60000)
        catch { case _: InterruptedException => interrupted.countDown() }
        "FAILED: interrupted" // post-interrupt result must NOT be reported
      } else JobStatus.Successful
    }
    assert(rs.toMap.apply(job(1, "fast")) == JobStatus.Successful)
    assert(rs.toMap.apply(job(2, "stuck")) == JobStatus.Running,
      s"straggler status: ${rs.toMap.apply(job(2, "stuck"))}")
    assert(interrupted.await(5, java.util.concurrent.TimeUnit.SECONDS),
      "shutdownNow did not interrupt the straggler")
  }

  test("T10: transient failures are retried and the job ends SUCCESSFUL") {
    import spark.implicits._
    val srcConn = freshCatalog("retry-src")
    val destConn = freshCatalog("retry-dest")
    val srcWh = tmpDir("retry-src-wh")
    val destWh = tmpDir("retry-dest-wh")
    val stateDir = tmpDir("retry-state")
    srcConn.connect().createTable(unpartitionedTable("db1", "t_flaky", srcWh))

    // src connector fails twice then recovers — the retry wrapper (T10)
    // must absorb the transient errors instead of marking the job FAILED
    IncrementalSpec.flakyCalls.set(0)
    val statsDir = tmpDir("retry-stats")
    val cfg = IncrementalConfig(FlakySrcConnector(srcConn, failFirst = 2),
      destConn,
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"),
      stateDir.toUri.toString + "jobs", stateDir.toUri.toString + "watermark",
      workers = 2, retrySleeper = _ => (),
      statsDir = Some(statsDir.toString))
    val server = new IncrementalServer(spark, cfg)
    val rs = server.processBatch(spark.createDataset(Seq(
      entry(1, "CREATETABLE", outTables = Seq("db1.t_flaky")))))
    assert(rs.map(_._2) == Seq(JobStatus.Successful),
      s"statuses: ${rs.map(_._2)}")
    assert(destConn.connect().getTable("db1", "t_flaky").isDefined)

    // MapRedStats analog: the execution wrote one stats row carrying the
    // retry count (2 transient failures + 1 success = 3 attempts)
    val stats = graft.observability.JobStatsLog
      .read(spark, statsDir.toUri.toString).collect()
    assert(stats.length == 1, stats.mkString(","))
    val r = stats.head
    assert(r.getAs[Long]("job_id") == 1L)
    assert(r.getAs[String]("operation") == graft.model.TaskType.CopyCompleteTable)
    assert(r.getAs[String]("db") == "db1" && r.getAs[String]("table") == "t_flaky")
    assert(r.getAs[String]("status") == JobStatus.Successful)
    assert(r.getAs[Int]("attempts") == 3, s"attempts=${r.getAs[Int]("attempts")}")
    assert(r.getAs[Long]("duration_ms") >= 0)
  }

  test("overwriteNewer=false: a stale replay records DEST_IS_NEWER, not SUCCESSFUL") {
    import spark.implicits._
    val srcConn = freshCatalog("destnewer-src")
    val destConn = freshCatalog("destnewer-dest")
    val srcWh = tmpDir("destnewer-src-wh")
    val destWh = tmpDir("destnewer-dest-wh")
    val stateDir = tmpDir("destnewer-state")
    val t = unpartitionedTable("db1", "t_two_way", srcWh, tldt = 1000L)
    srcConn.connect().createTable(t)
    // dest was modified AFTER the replayed event
    destConn.connect().createTable(
      t.copy(parameters = t.parameters + (TableMeta.Tldt -> "9999")))
    val cfg = IncrementalConfig(srcConn, destConn,
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"),
      stateDir.toUri.toString + "jobs", stateDir.toUri.toString + "watermark",
      workers = 2, overwriteNewer = false)
    val server = new IncrementalServer(spark, cfg)
    val rs = server.processBatch(spark.createDataset(Seq(
      entry(1, "ALTERTABLE_PROPERTIES", outTables = Seq("db1.t_two_way")))))
    assert(rs.map(_._2) == Seq(JobStatus.DestNewer), s"got ${rs.map(_._2)}")
    // the guard activation is visible in the persisted state, distinct
    // from a real copy's SUCCESSFUL
    assert(server.state.current().collect()
      .exists(_.status == JobStatus.DestNewer))
    assert(destConn.connect().getTable("db1", "t_two_way").get
      .parameters(TableMeta.Tldt) == "9999")

    // the partition path: a partition job whose one dest partition is newer
    val pt = partitionedTable("db1", "pt_two_way", srcWh)
    val p = partition(pt, "ds=1/hr=1", tldt = 1000L)
    srcConn.connect().createTable(pt)
    srcConn.connect().addPartition(p)
    def destLoc(loc: String) = graft.tasks.TaskContext.destLocation(
      cfg.srcFsRoot, cfg.destFsRoot, loc)
    destConn.connect().createTable(pt.copy(location = destLoc(pt.location)))
    destConn.connect().addPartition(p.copy(location = destLoc(p.location),
      parameters = p.parameters + (TableMeta.Tldt -> "9999")))
    val prs = server.processBatch(spark.createDataset(Seq(
      entry(2, "QUERY", outParts = Seq("db1.pt_two_way/ds=1/hr=1")))))
    assert(prs.map(r => (r._1.operation, r._2)) ==
      Seq((TaskType.CopyPartition, JobStatus.DestNewer)), s"got $prs")
    assert(destConn.connect().getPartition("db1", "pt_two_way", "ds=1/hr=1").get
      .parameters(TableMeta.Tldt) == "9999")
  }

  test("exchange-partition entry plans and executes a COPY_PARTITION of the target") {
    import spark.implicits._
    val (server, srcConn, destConn, srcWh, _) = newServer("exch")
    val src = srcConn.connect()
    val t = partitionedTable("db2", "target", srcWh)
    src.createTable(t)
    src.addPartition(partition(t, "ds=1/hr=1"))

    // HIVE-12865: the exchange entry carries NO outputs — only the command
    val e = AuditLogEntry(7L, new Timestamp(1700000000007L),
      "ALTERTABLE_EXCHANGEPARTITION",
      "ALTER TABLE db2.target EXCHANGE PARTITION (ds='1', hr='1') WITH TABLE db2.source",
      Seq.empty, Seq.empty, None, Seq.empty)
    val rs = server.processBatch(spark.createDataset(Seq(e)))
    assert(rs.map(r => (r._1.operation, r._1.partitions, r._2)) ==
      Seq((TaskType.CopyPartition, Seq("ds=1/hr=1"), JobStatus.Successful)))
    assert(destConn.connect().listPartitionNames("db2", "target") == Seq("ds=1/hr=1"))
  }

  test("T8: CREATETABLE replicates all partitions; property churn stays metadata-only") {
    import spark.implicits._
    val (server, srcConn, destConn, srcWh, _) = newServer("t8copy")
    val src = srcConn.connect()
    val t = partitionedTable("db1", "t_full", srcWh)
    src.createTable(t)
    Seq("ds=1/hr=1", "ds=1/hr=2").foreach(p => src.addPartition(partition(t, p)))

    // table creation intends a complete copy (partitions included)
    val rs = server.processBatch(spark.createDataset(Seq(
      entry(1, "CREATETABLE", outTables = Seq("db1.t_full")))))
    assert(rs.map(r => (r._1.operation, r._2)) ==
      Seq((TaskType.CopyCompleteTable, JobStatus.Successful)))
    assert(destConn.connect().listPartitionNames("db1", "t_full") ==
      Seq("ds=1/hr=1", "ds=1/hr=2"))

    // a later table-level mutation must NOT re-enumerate partitions: add a
    // src partition that has no audit event, alter properties — the
    // metadata-only COPY_TABLE leaves the dest partition set unchanged
    src.addPartition(partition(t, "ds=9/hr=9"))
    val rs2 = server.processBatch(spark.createDataset(Seq(
      entry(2, "ALTERTABLE_PROPERTIES", outTables = Seq("db1.t_full")))))
    assert(rs2.map(r => (r._1.operation, r._2)) ==
      Seq(("COPY_TABLE", JobStatus.Successful)))
    assert(destConn.connect().listPartitionNames("db1", "t_full") ==
      Seq("ds=1/hr=1", "ds=1/hr=2"))
  }

  test("S11: incremental scenario converges into Spark's own ExternalCatalog") {
    import spark.implicits._
    val srcConn = freshCatalog("sc-src")
    val destConn = graft.catalog.SparkCatalogConnector()
    val srcWh = tmpDir("sc-src-wh")
    val destWh = tmpDir("sc-dest-wh")
    val stateDir = tmpDir("sc-state")
    val src = srcConn.connect()
    val t = partitionedTable("graft_sc_db", "t_sc", srcWh)
    src.createTable(t)
    src.addPartition(partition(t, "ds=1/hr=1"))

    val cfg = IncrementalConfig(srcConn, destConn,
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"),
      stateDir.toUri.toString + "jobs", stateDir.toUri.toString + "watermark",
      workers = 2)
    val server = new IncrementalServer(spark, cfg)
    val rs = server.processBatch(spark.createDataset(Seq(
      entry(1, "CREATETABLE", outTables = Seq("graft_sc_db.t_sc")))))
    assert(rs.map(_._2) == Seq(JobStatus.Successful),
      s"statuses: ${rs.map(r => (r._1.operation, r._2))}")

    val dest = destConn.connect()
    assert(dest.getTable("graft_sc_db", "t_sc").isDefined)
    assert(dest.getTable("graft_sc_db", "t_sc").get.partitionKeys.map(_.name) ==
      Seq("ds", "hr"))
    assert(dest.listPartitionNames("graft_sc_db", "t_sc") == Seq("ds=1/hr=1"))

    // drop propagates through the same catalog
    val rs2 = server.processBatch(spark.createDataset(Seq(
      entry(2, "DROPTABLE", outTables = Seq("graft_sc_db.t_sc")))))
    assert(rs2.map(_._2) == Seq(JobStatus.Successful))
    assert(dest.getTable("graft_sc_db", "t_sc").isEmpty)
  }

  test("hooks loop: AuditLoggingCatalog mutations stream into a converged dest") {
    val (server, srcConn, destConn, srcWh, _) = newServer("hooks")
    val auditDir = tmpDir("hooks-audit")
    val ckpt = tmpDir("hooks-ckpt")
    // all src-side DDL goes through the audit hook (the reference's
    // hive-hooks → audit log → server loop, MetastoreAuditLogListenerTest)
    val hooked = new AuditLoggingCatalog(srcConn.connect(), auditDir.toString)
    val t = partitionedTable("db1", "t_hook", srcWh)
    hooked.createTable(t)
    hooked.addPartition(partition(t, "ds=1/hr=1"))

    val q = server.start(auditDir.toUri.toString, ckpt.toUri.toString)
    try {
      q.processAllAvailable()
      val dest = destConn.connect()
      assert(dest.getTable("db1", "t_hook").isDefined)
      assert(dest.listPartitionNames("db1", "t_hook") == Seq("ds=1/hr=1"))

      // keep mutating while the stream runs
      hooked.addPartition(partition(t, "ds=1/hr=2"))
      hooked.dropPartition("db1", "t_hook", "ds=1/hr=1")
      q.processAllAvailable()
      assert(dest.listPartitionNames("db1", "t_hook") == Seq("ds=1/hr=2"))
    } finally q.stop()
  }

  test("hooks loop: an exchange-partition command converges the dest partition") {
    val (server, srcConn, destConn, srcWh, _) = newServer("hooks-exch")
    val auditDir = tmpDir("hooks-exch-audit")
    val ckpt = tmpDir("hooks-exch-ckpt")
    val hooked = new AuditLoggingCatalog(srcConn.connect(), auditDir.toString)
    val staging = partitionedTable("db3", "staging", srcWh)
    val target = partitionedTable("db3", "target", srcWh)
    hooked.createTable(staging)
    hooked.createTable(target)
    hooked.addPartition(partition(staging, "ds=1/hr=1"))
    // the exchange moves the partition (metadata; files land under target)
    // out of staging into target on the SOURCE warehouse
    val moved = partition(target, "ds=1/hr=1")
    hooked.exchangePartition("db3", "staging", moved)
    assert(srcConn.connect().listPartitionNames("db3", "staging").isEmpty)

    // the emitted entry carries the REAL SQL (outputs are empty per
    // HIVE-12865) and the source table as an input — the server can only
    // replicate this by parsing the command text
    val files = java.nio.file.Files.list(auditDir).toArray.map(_.toString).sorted
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val last = mapper.readTree(new java.io.File(files.last))
    assert(last.get("command").asText ==
      "ALTER TABLE db3.target EXCHANGE PARTITION (ds='1', hr='1') WITH TABLE db3.staging")
    assert(last.get("referenceTables").get(0).asText == "db3.staging")
    assert(last.get("outputPartitions").size() == 0)

    val q = server.start(auditDir.toUri.toString, ckpt.toUri.toString)
    try {
      q.processAllAvailable()
      val dest = destConn.connect()
      assert(dest.listPartitionNames("db3", "target") == Seq("ds=1/hr=1"))
      val destP = dest.getPartition("db3", "target", "ds=1/hr=1").get
      assert(graft.fs.CopyExec.equalDirs(spark, moved.location, destP.location))
    } finally q.stop()
  }

  test("hooks loop: Thrift-typed drop + exchange + rename converge the dest") {
    val (server, srcConn, destConn, srcWh, _) = newServer("hooks-thrift")
    val auditDir = tmpDir("hooks-thrift-audit")
    val ckpt = tmpDir("hooks-thrift-ckpt")
    // metastore-listener origin: DDL over the Thrift wire to a metastore
    // over the server's src catalog, audited by the real listener —
    // THRIFT_* command types, command text THRIFT_API
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set(graft.hooks.MetastoreAuditListener.DirKey, auditDir.toString)
    val hms = new MockHmsServer(graft.catalog.InMemoryCatalog.get(srcConn.id),
      Seq(new graft.hooks.MetastoreAuditListener(conf)))
    try {
      val hooked = graft.catalog.ThriftHmsCatalogConnector("127.0.0.1", hms.port).connect()
      val staging = partitionedTable("db7", "staging", srcWh)
      val target = partitionedTable("db7", "target", srcWh)
      hooked.createTable(staging)
      hooked.createTable(target)
      hooked.addPartition(partition(staging, "ds=1/hr=1"))
      hooked.addPartition(partition(staging, "ds=1/hr=2"))
      hooked.dropPartition("db7", "staging", "ds=1/hr=2")
      // an API-side exchange reaches the metastore as a drop then an add:
      // there is no exchange RPC, and no SQL to parse
      val moved = partition(target, "ds=1/hr=1")
      hooked.dropPartition("db7", "staging", moved.partName)
      hooked.addPartition(moved)

      // every emitted entry is Thrift-shaped: THRIFT_* type, THRIFT_API text
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val nodes = java.nio.file.Files.list(auditDir).toArray.map(_.toString)
        .sorted.map(f => mapper.readTree(new java.io.File(f)))
      assert(nodes.nonEmpty)
      nodes.foreach { n =>
        assert(n.get("commandType").asText.startsWith("THRIFT_"), n)
        assert(n.get("command").asText == "THRIFT_API", n)
      }
      // the exchange emitted the drop+add pair, not an EXCHANGEPARTITION SQL
      assert(nodes.map(_.get("commandType").asText).takeRight(2).toSeq ==
        Seq("THRIFT_DROP_PARTITION", "THRIFT_ADD_PARTITION"))

      val q = server.start(auditDir.toUri.toString, ckpt.toUri.toString)
      try {
        q.processAllAvailable()
        val dest = destConn.connect()
        assert(dest.listPartitionNames("db7", "staging").isEmpty)
        assert(dest.listPartitionNames("db7", "target") == Seq("ds=1/hr=1"))
        val destP = dest.getPartition("db7", "target", "ds=1/hr=1").get
        assert(graft.fs.CopyExec.equalDirs(spark, moved.location, destP.location))

        // THRIFT_ALTER_TABLE with a name change routes as RENAME_TABLE
        val renamed = target.copy(table = "target2")
        hooked.alterTable("db7", "target", renamed)
        q.processAllAvailable()
        assert(dest.getTable("db7", "target").isEmpty)
        assert(dest.getTable("db7", "target2").isDefined)
      } finally q.stop()
    } finally hms.stop()
  }

  test("unparseable exchange command surfaces as NOT_COMPLETABLE, not a silent skip") {
    import spark.implicits._
    val (server, _, _, _, _) = newServer("exch-bad")
    val results = server.processBatch(spark.createDataset(Seq(
      entry(1, "ALTERTABLE_EXCHANGEPARTITION")))) // command text "cmd-1"
    assert(results.map(_._2) == Seq(JobStatus.NotCompletable),
      s"statuses: ${results.map(_._2)}")
    // the failed parse is a persisted state row the operator can see
    val rows = server.state.current().collect()
    assert(rows.exists(j => j.status == JobStatus.NotCompletable &&
      j.extras.get("command").contains("cmd-1")), s"rows: ${rows.toSeq}")
  }

  test("audit JSON entries survive names with quotes and backslashes") {
    val srcConn = freshCatalog("esc-src")
    val auditDir = tmpDir("esc-audit")
    val hooked = new AuditLoggingCatalog(srcConn.connect(), auditDir.toString)
    val weird = """t_"weird"\name"""
    hooked.dropTable("db1", weird)

    val files = java.nio.file.Files.list(auditDir).toArray
    assert(files.length == 1)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(files.head.asInstanceOf[java.nio.file.Path].toFile)
    assert(node.get("outputTables").get(0).asText == s"db1.$weird")
  }

  test("state store compaction keeps current view, seq continuity, and repairs a crashed swap") {
    val dir = tmpDir("compact-state")
    val path = dir.toUri.toString + "jobs"
    val state = new StateStore(spark, path)
    def job(id: Long, table: String, status: String) =
      JobState(id, 1700000000000L, "COPY_TABLE", status, "db", table,
        Seq.empty, None, None, None, Map.empty)
    // 3 transitions for job 1, 2 for job 2 → 5 appends
    state.append(Seq(job(1, "t1", JobStatus.Pending), job(2, "t2", JobStatus.Pending)))
    state.append(Seq(job(1, "t1", JobStatus.Running)))
    state.append(Seq(job(1, "t1", JobStatus.Successful)))
    val before = state.current().collect().sortBy(_.id).toSeq

    state.compact()
    val after = state.current().collect().sortBy(_.id).toSeq
    assert(after == before, s"compaction changed the view: $after vs $before")
    // physically one row per job now
    assert(spark.read.json(path).count() == 2)
    assert(state.restoreRunnable().map(_.table) == Seq("t2"))

    // a NEW store over the compacted log continues seq strictly above the
    // retained max (latest-wins must stay deterministic after restart)
    val reopened = new StateStore(spark, path)
    reopened.append(Seq(job(2, "t2", JobStatus.Successful)))
    assert(reopened.current().collect()
      .find(_.table == "t2").get.status == JobStatus.Successful)

    // crashed swap: dir deleted, tmp generation present → repaired on open
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact-tmp")
    fs.rename(new org.apache.hadoop.fs.Path(path), tmp)
    val repaired = new StateStore(spark, path)
    assert(repaired.current().count() == 2)
  }

  test("P2: non-default whitelist/blacklist regexes prune object names") {
    import spark.implicits._
    val filters = JobFilterConfig(whitelist = "prod_.*", blacklist = ".*\\.tmp_.*")
    val jobs = JobFactory.planJobs(spark, spark.createDataset(Seq(
      entry(1, "CREATETABLE", outTables = Seq("prod_db.keep")),
      entry(2, "CREATETABLE", outTables = Seq("scratch_db.skip")), // not whitelisted
      entry(3, "CREATETABLE", outTables = Seq("prod_db.tmp_skip")), // blacklisted
      entry(4, "QUERY", outParts = Seq( // partition names filter too
        "prod_db.keep/ds=1", "prod_db.tmp_part/ds=1")))), filters)
      .collect().sortBy(_.id)
    assert(jobs.map(j => (j.id, j.db, j.table)).toSeq ==
      Seq((1L, "prod_db", "keep"), (4L, "prod_db", "keep")))
  }

  test("P7: mixed-case audit names normalize to lowercase jobs") {
    import spark.implicits._
    val jobs = JobFactory.planJobs(spark, spark.createDataset(Seq(
      entry(1, "CREATETABLE", outTables = Seq("Db1.T_Mixed")),
      entry(2, "QUERY", outParts = Seq("DB1.T_Mixed/ds=CaseKept/hr=1")))))
      .collect().sortBy(_.id)
    assert(jobs.map(j => (j.db, j.table)).toSeq ==
      Seq(("db1", "t_mixed"), ("db1", "t_mixed")))
    // partition VALUES keep their case — only identifiers normalize
    assert(jobs(1).partitions == Seq("ds=CaseKept/hr=1"))
  }

  test("F6: rename of an already-dropped source object replays from its payload") {
    import spark.implicits._
    val (server, srcConn, destConn, srcWh, _) = newServer("payload")
    val src = srcConn.connect()
    val dest = destConn.connect()

    // the rename happened on src and the new name was then dropped — the
    // source catalog has NEITHER name when the entry is processed
    val renamed = unpartitionedTable("db1", "t_after", srcWh)
    dest.createTable(renamed.copy(table = "t_before"))
    assert(src.getTable("db1", "t_after").isEmpty)

    val e = AuditLogEntry(1L, new Timestamp(1700000000001L),
      "ALTERTABLE_RENAME", "cmd", Seq("db1.t_after"), Seq.empty,
      Some("db1.t_before"), Seq.empty,
      objects = Seq(AuditObject("OUTPUT", "TABLE", "db1.t_after",
        MetaJson.writeTable(renamed))))
    val rs = server.processBatch(spark.createDataset(Seq(e)))
    assert(rs.map(_._2) == Seq(JobStatus.Successful), s"got ${rs.map(_._2)}")
    assert(dest.getTable("db1", "t_before").isEmpty)
    assert(dest.getTable("db1", "t_after").isDefined)
  }

  test("ST3: a flood of entries is admitted in bounded micro-batches") {
    import spark.implicits._
    val srcConn = freshCatalog("bp-src")
    val destConn = freshCatalog("bp-dest")
    val srcWh = tmpDir("bp-src-wh")
    val destWh = tmpDir("bp-dest-wh")
    val stateDir = tmpDir("bp-state")
    val src = srcConn.connect()
    val n = 10
    (1 to n).foreach(i => src.createTable(unpartitionedTable("db1", s"t_bp$i", srcWh)))

    val cfg = IncrementalConfig(srcConn, destConn,
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"),
      stateDir.toUri.toString + "jobs", stateDir.toUri.toString + "watermark",
      workers = 4, maxJobsPerBatch = 3) // admission cap ≪ entry count
    val server = new IncrementalServer(spark, cfg)

    val auditDir = tmpDir("bp-audit")
    val ckpt = tmpDir("bp-ckpt")
    (1 to n).foreach { i =>
      spark.createDataset(Seq(
        entry(i.toLong, "CREATETABLE", outTables = Seq(s"db1.t_bp$i"))))
        .coalesce(1).write.mode("append").json(auditDir.toUri.toString)
    }

    val q = server.start(auditDir.toUri.toString, ckpt.toUri.toString)
    try q.processAllAvailable()
    finally q.stop()

    val dest = destConn.connect()
    (1 to n).foreach(i => assert(dest.getTable("db1", s"t_bp$i").isDefined))
    // every micro-batch stayed within the source-side admission cap
    val batchSizes = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
    assert(batchSizes.nonEmpty && batchSizes.forall(_ <= cfg.maxJobsPerBatch),
      s"batch sizes: $batchSizes")
    assert(batchSizes.size >= 2, s"expected multiple bounded batches: $batchSizes")
  }

  test("ST1/S6: JDBC audit tail with paging, pushdown filter, restart watermark") {
    val (server, srcConn, destConn, srcWh, _) = newServer("jdbc")
    val src = srcConn.connect()
    src.createTable(unpartitionedTable("db1", "t_a", srcWh))
    src.createTable(unpartitionedTable("db1", "t_b", srcWh))

    // embedded Derby stands in for the reference's MySQL audit DB
    val dbDir = tmpDir("jdbc-audit-db").resolve("db")
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE audit_log (id BIGINT PRIMARY KEY, " +
      "create_time TIMESTAMP, command_type VARCHAR(64), command VARCHAR(4000))")
    st.executeUpdate("CREATE TABLE audit_objects (audit_log_id BIGINT, " +
      "category VARCHAR(32), object_type VARCHAR(32), name VARCHAR(256))")
    def insertEntry(id: Long, cmd: String, objs: Seq[(String, String, String)]): Unit = {
      // objects first, then the log row — the hook commit order the
      // reference's share-lock read relies on
      objs.foreach { case (cat, typ, name) =>
        st.executeUpdate("INSERT INTO audit_objects VALUES " +
          s"($id, '$cat', '$typ', '$name')")
      }
      st.executeUpdate(s"INSERT INTO audit_log VALUES ($id, " +
        s"TIMESTAMP('2024-01-01 00:00:00'), '$cmd', 'cmd-$id')")
    }
    insertEntry(1, "CREATETABLE", Seq(("OUTPUT", "TABLE", "db1.t_a")))
    insertEntry(2, "SHOWTABLES", Seq.empty) // filtered by the pushed-down WHERE
    insertEntry(3, "CREATETABLE", Seq(("OUTPUT", "TABLE", "db1.t_b")))

    val source = AuditLogJdbc.Settings(url, pageSize = 1) // force paging: one entry per poll
    // SHOWTABLES (id 2) never leaves the database — 2 entries total
    assert(server.drainJdbc(source) == 2)
    val dest = destConn.connect()
    assert(dest.getTable("db1", "t_a").isDefined)
    assert(dest.getTable("db1", "t_b").isDefined)
    assert(server.watermark.get().contains(3L))

    // restart: a NEW server over the same watermark path resumes after id 3
    src.createTable(unpartitionedTable("db1", "t_c", srcWh))
    insertEntry(4, "CREATETABLE", Seq(("OUTPUT", "TABLE", "db1.t_c")))
    val server2 = new IncrementalServer(spark, server.cfg)
    assert(server2.drainJdbc(source) == 1) // only the new entry
    assert(dest.getTable("db1", "t_c").isDefined)
    assert(server2.watermark.get().contains(4L))

    // a poll is a driver-side JDBC page fetch: it starts no Spark job
    src.createTable(unpartitionedTable("db1", "t_d", srcWh))
    insertEntry(5, "CREATETABLE", Seq(("OUTPUT", "TABLE", "db1.t_d")))
    val (polled, jobs) = jobsStartedBy(server2.pollJdbc(source))
    assert(polled == 1 && jobs == 0, s"entries $polled, Spark jobs $jobs")
    assert(dest.getTable("db1", "t_d").isDefined)
    conn.close()

    // --start-after-id 3 sets the watermark, the tail's only position: a
    // fresh server draining from it admits only ids above 3
    val (server3, _, _, _, _) = newServer("jdbc-start")
    server3.watermark.set(3L)
    assert(server3.drainJdbc(source) == 2)
    assert(server3.state.current().collect().map(_.id).sorted.toSeq == Seq(4L, 5L))
    assert(server3.watermark.get().contains(5L))

    // table names are spliced into SQL: the settings reject a non-identifier
    intercept[IllegalArgumentException](
      AuditLogJdbc.Settings(url, auditTable = "audit_log; DROP"))
    intercept[IllegalArgumentException](
      AuditLogJdbc.Settings(url, objectsTable = "audit_objects'--"))
  }

  test("audit reader: a page's entry objects come in key order") {
    val url = s"jdbc:derby:${tmpDir("jdbc-order-db").resolve("db")};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE audit_log (id BIGINT PRIMARY KEY, " +
      "create_time TIMESTAMP, command_type VARCHAR(64), command VARCHAR(4000))")
    st.executeUpdate("CREATE TABLE audit_objects (audit_log_id BIGINT, " +
      "category VARCHAR(32), object_type VARCHAR(32), name VARCHAR(256))")
    // one entry's objects inserted out of key order
    Seq(("OUTPUT", "TABLE", "db1.t_out"), ("INPUT", "TABLE", "db1.t_in"),
        ("OUTPUT", "PARTITION", "db1.t_out/ds=1")).foreach { case (cat, typ, name) =>
      st.executeUpdate(s"INSERT INTO audit_objects VALUES (1, '$cat', '$typ', '$name')")
    }
    st.executeUpdate("INSERT INTO audit_log VALUES (1, " +
      "TIMESTAMP('2024-01-01 00:00:00'), 'QUERY', 'cmd-1')")
    conn.close()

    val e = AuditLogJdbc.fetchPage(AuditLogJdbc.Settings(url), 0L).head
    assert(e.objects.map(o => (o.category, o.objectType, o.name)) == Seq(
      ("INPUT", "TABLE", "db1.t_in"), ("OUTPUT", "PARTITION", "db1.t_out/ds=1"),
      ("OUTPUT", "TABLE", "db1.t_out")))
    assert(e.outputTables == Seq("db1.t_out"))
    assert(e.outputPartitions == Seq("db1.t_out/ds=1"))
  }

  test("structured streaming tail executes batches via foreachBatch") {
    import spark.implicits._
    val (server, srcConn, destConn, srcWh, _) = newServer("stream")
    srcConn.connect().createTable(unpartitionedTable("db1", "t_stream", srcWh))

    val auditDir = tmpDir("audit-json")
    val checkpoint = tmpDir("audit-ckpt")
    def land(es: AuditLogEntry*): Unit =
      spark.createDataset(es).coalesce(1).write.mode("append")
        .json(auditDir.toUri.toString)
    land(entry(1, "CREATETABLE", outTables = Seq("db1.t_stream")),
      entry(5, "SHOWTABLES"))

    val q = server.start(auditDir.toUri.toString, checkpoint.toUri.toString,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable()
      assert(destConn.connect().getTable("db1", "t_stream").isDefined)
      assert(server.watermark.get().contains(5L))
      // an entry file landing late, below ids already processed, and
      // dropped whole by the filters: read, but the watermark stays put
      land(entry(2, "SHOWTABLES"))
      q.processAllAvailable()
      assert(server.watermark.get().contains(5L))
    } finally q.stop()
  }

  /** Seeded randomized audit stream for the bridge tests, restricted to
    * the declarative model's domain (see the batch bridge test for the
    * discipline rationale): CREATETABLE on unpartitioned t0..t2,
    * partition QUERYs on t3..t5, DROPTABLE only on currently-live
    * tables, SHOWTABLES noise. */
  private def bridgeEntries(seed: Long, n: Int): Seq[AuditLogEntry] = {
    val rnd = new scala.util.Random(seed)
    val live = scala.collection.mutable.Set.empty[Int]
    (1 to n).map { id =>
      rnd.nextInt(10) match {
        case 0 | 1 if live.nonEmpty =>
          val k = live.toSeq.sorted.apply(rnd.nextInt(live.size))
          live -= k
          entry(id, "DROPTABLE", outTables = Seq(s"db1.t$k"))
        case 2 | 3 =>
          val k = rnd.nextInt(3) // unpartitioned only
          live += k
          entry(id, "CREATETABLE", outTables = Seq(s"db1.t$k"))
        case 4 | 5 | 6 | 7 =>
          val k = 3 + rnd.nextInt(3)
          live += k
          val parts = Seq.fill(1 + rnd.nextInt(3))(1 + rnd.nextInt(3))
            .distinct
          entry(id, "QUERY", outParts = parts.map(d => s"db1.t$k/ds=$d"))
        case _ => entry(id, "SHOWTABLES")
      }
    }
  }

  /** Src-side fixtures shared by the bridge tests: t0..t2 unpartitioned,
    * t3..t5 partitioned with ds=1..3 (src holds the full current state;
    * entries drive what reaches dest). */
  private def bridgeFixtures(src: graft.catalog.CatalogClient,
      srcWh: java.nio.file.Path): Unit = {
    (0 to 2).foreach(i =>
      src.createTable(unpartitionedTable("db1", s"t$i", srcWh)))
    (3 to 5).foreach { i =>
      val t = partitionedTable("db1", s"t$i", srcWh)
      src.createTable(t)
      (1 to 3).foreach(d => src.addPartition(partition(t, s"ds=$d")))
    }
  }

  /** The declarative model's (liveTables, liveParts) over bridge
    * entries, plus the dest-catalog inventory to compare against. */
  private def assertBridgeConvergence(entries: Seq[AuditLogEntry],
      dest: graft.catalog.CatalogClient): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val touches = entries.flatMap { e =>
      val tb = e.outputTables.map { t =>
        val Array(d, nm) = t.split('.'); (d, nm)
      }
      val pb = e.outputPartitions.map { p =>
        val d = p.substring(0, p.indexOf('.'))
        val rest = p.substring(p.indexOf('.') + 1)
        (d, rest.substring(0, rest.indexOf('/')))
      }
      (tb ++ pb).distinct.map { case (d, nm) => (e.id, e.commandType, d, nm) }
    }.toDF("id", "command_type", "db", "tbl")
    val routed = touches.select(col("id"), col("db"), col("tbl"),
        graft.operators.ReplicationOps.routeOpType(col("command_type"))
          .as("op_type"))
      .filter(col("op_type") =!= "IGNORE")
    val partTouches = entries.flatMap { e =>
      e.outputPartitions.map { p =>
        val d = p.substring(0, p.indexOf('.'))
        val rest = p.substring(p.indexOf('.') + 1)
        (e.id, d, rest.substring(0, rest.indexOf('/')),
          rest.substring(rest.indexOf('/') + 1))
      }
    }.toDF("id", "db", "tbl", "part_name")
    val (liveTables, liveParts) =
      graft.operators.ReplicationOps.replayAuditState(routed, partTouches)

    val modelTables = liveTables.select("db", "tbl")
      .as[(String, String)].collect().toSet
    val destTables = (0 to 5).map(i => ("db1", s"t$i"))
      .filter { case (d, nm) => dest.getTable(d, nm).isDefined }.toSet
    assert(destTables === modelTables,
      s"table inventory diverged: server-only ${destTables diff modelTables}, " +
        s"model-only ${modelTables diff destTables}")
    val modelParts = liveParts.select("db", "tbl", "part_name")
      .as[(String, String, String)].collect().toSet
    val destParts = (3 to 5).map(i => s"t$i")
      .filter(nm => dest.getTable("db1", nm).isDefined)
      .flatMap(nm => dest.listPartitionNames("db1", nm)
        .map(p => ("db1", nm, p))).toSet
    assert(destParts === modelParts,
      s"partition inventory diverged: server-only ${destParts diff modelParts}, " +
        s"model-only ${modelParts diff destParts}")
    assert(modelTables.nonEmpty && modelParts.nonEmpty)
  }

  test("bridge: declarative replayAuditState matches the server's " +
      "converged dest catalog on a randomized entry stream") {
    // The pipe_incremental_e2e oracle certifies the declarative replay
    // against DuckDB; THIS certifies it against the actual server: a
    // seeded stream of create/partition-write/drop/noise entries is
    // executed by the real job loop (three batches, cross-batch state,
    // per-key id order), and the dest catalog's final table+partition
    // inventory must equal ReplicationOps.replayAuditState's answer.
    // Generator discipline matching the model's domain: CREATETABLE
    // targets unpartitioned tables only (on partitioned tables the
    // server replicates ALL src partitions — T8 — which a touch-based
    // model deliberately does not track), partitioned tables are
    // touched via QUERY partition writes, DROPTABLE only targets
    // currently-live tables (dest-missing drops are out of scope), and
    // renames are excluded (renameFrom bookkeeping is job-execution
    // semantics, not state replay).
    import spark.implicits._
    val (server, srcConn, destConn, srcWh, _) = newServer("bridge")
    bridgeFixtures(srcConn.connect(), srcWh)
    val entries = bridgeEntries(seed = 42, n = 48)
    // sanity: the stream actually exercises drops and re-creates
    assert(entries.count(_.commandType == "DROPTABLE") >= 3)

    entries.grouped(16).foreach { b =>
      val rs = server.processBatch(spark.createDataset(b))
      assert(rs.forall(_._2 == JobStatus.Successful),
        s"non-successful jobs: ${rs.filter(_._2 != JobStatus.Successful)
          .map(r => (r._1.id, r._1.operation, r._2))}")
    }
    assertBridgeConvergence(entries, destConn.connect())
  }

  test("streaming bridge: JSON audit stream with a mid-stream server " +
      "restart converges to the declarative model") {
    // Same certification through the PRODUCTION delivery path: entries
    // arrive as JSON files via server.start (file source + checkpoint),
    // the server is stopped after wave 1 and a NEW server instance on
    // the same state/watermark/checkpoint dirs resumes wave 2 — restart
    // must neither re-apply wave 1 (checkpoint) nor miss wave 2, and
    // the converged dest must equal replayAuditState's answer.
    import spark.implicits._
    val srcConn = freshCatalog("sbridge-src")
    val destConn = freshCatalog("sbridge-dest")
    val srcWh = tmpDir("sbridge-src-wh")
    val destWh = tmpDir("sbridge-dest-wh")
    val stateDir = tmpDir("sbridge-state")
    val cfg = IncrementalConfig(srcConn, destConn,
      srcWh.toUri.toString.stripSuffix("/"),
      destWh.toUri.toString.stripSuffix("/"),
      stateDir.toUri.toString + "jobs",
      stateDir.toUri.toString + "watermark", workers = 4)
    bridgeFixtures(srcConn.connect(), srcWh)
    val entries = bridgeEntries(seed = 7, n = 36)
    val (wave1, wave2) = entries.splitAt(18)
    val auditDir = tmpDir("sbridge-audit")
    val ckpt = tmpDir("sbridge-ckpt")

    spark.createDataset(wave1).write.mode("append")
      .json(auditDir.toUri.toString)
    val s1 = new IncrementalServer(spark, cfg)
    s1.recover()
    val q1 = s1.start(auditDir.toUri.toString, ckpt.toUri.toString)
    try q1.processAllAvailable() finally q1.stop()
    assert(s1.watermark.get().contains(wave1.map(_.id).max))

    spark.createDataset(wave2).write.mode("append")
      .json(auditDir.toUri.toString)
    val s2 = new IncrementalServer(spark, cfg) // fresh instance = restart
    s2.recover()
    val q2 = s2.start(auditDir.toUri.toString, ckpt.toUri.toString)
    try q2.processAllAvailable() finally q2.stop()
    assert(s2.watermark.get().contains(entries.map(_.id).max))

    assertBridgeConvergence(entries, destConn.connect())
  }
}

object IncrementalSpec {
  val flakyCalls = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Src connector whose first `failFirst` connects throw — exercises the
  * job-level retry wrapper (T10). */
final case class FlakySrcConnector(inner: graft.catalog.InMemoryConnector,
    failFirst: Int) extends graft.catalog.CatalogConnector {
  def connect(): graft.catalog.CatalogClient = {
    if (IncrementalSpec.flakyCalls.getAndIncrement() < failFirst)
      throw new RuntimeException("transient catalog hiccup")
    inner.connect()
  }
}
