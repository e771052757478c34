package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{lit, max}

import graft.catalog.{CatalogClient, CatalogConnector}
import graft.incremental._
import graft.model._
import graft.observability.StatusServer

/** The incremental control plane off Spark: a page is planned on the
  * driver, the state log is written as driver-side atomic files and read
  * through Spark, and the failure paths (interrupts, thrown jobs, a crash
  * inside `Watermark.set`) leave replayable, explained state. */
class IncrementalStateSpec extends TestBase {

  private def entry(id: Long, cmd: String, outTables: Seq[String] = Seq.empty,
      renameFrom: Option[String] = None) =
    AuditLogEntry(id, new Timestamp(1700000000000L + id), cmd, s"cmd-$id",
      outTables, Seq.empty, renameFrom, Seq.empty)

  private def job(id: Long, table: String, status: String) =
    JobState(id, 1700000000000L, "COPY_TABLE", status, "db", table,
      Seq.empty, None, None, None, Map.empty)

  /** A server over fresh catalogs and dirs; `src` wraps the source
    * connector (to stall or fail it). */
  private def newServer(name: String,
      src: CatalogConnector => CatalogConnector = identity,
      drainTimeoutMillis: Option[Long] = None, maxRetries: Int = 8) = {
    val srcConn = freshCatalog(s"$name-src")
    val destConn = freshCatalog(s"$name-dest")
    val srcWh = tmpDir(s"$name-src-wh")
    val destWh = tmpDir(s"$name-dest-wh")
    val stateDir = tmpDir(s"$name-state")
    val cfg = IncrementalConfig(src(srcConn), destConn,
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"),
      stateDir.toUri.toString + "jobs", stateDir.toUri.toString + "watermark",
      workers = 2, maxRetries = maxRetries, retrySleeper = _ => (),
      drainTimeoutMillis = drainTimeoutMillis)
    (new IncrementalServer(spark, cfg), srcConn, destConn, srcWh)
  }

  test("processBatch on a local 4-entry page starts no Spark job") {
    import spark.implicits._
    val (server, srcConn, destConn, srcWh) = newServer("nojobs")
    val src = srcConn.connect()
    Seq("t_a", "t_b", "t_renamed").foreach(t =>
      src.createTable(unpartitionedTable("db1", t, srcWh)))
    val page = spark.createDataset(Seq(
      entry(1, "CREATETABLE", Seq("db1.t_a")),
      entry(2, "CREATETABLE", Seq("db1.t_b")),
      entry(3, "ALTERTABLE_RENAME", Seq("db1.t_renamed"), Some("db1.t_old")),
      entry(4, "DROPTABLE", Seq("db1.t_gone"))))
    val (rs, jobs) = jobsStartedBy(server.processBatch(page))
    assert(rs.map(_._2) == Seq.fill(4)(JobStatus.Successful), s"got $rs")
    assert(jobs == 0, s"$jobs Spark jobs for one local page")
    val dest = destConn.connect()
    assert(Seq("t_a", "t_b", "t_renamed").forall(dest.getTable("db1", _).isDefined))
    // PENDING then the final transitions, both persisted
    assert(server.state.current().collect().map(_.status).toSet ==
      Set(JobStatus.Successful))
    assert(server.watermark.get().contains(4L))
  }

  test("a page the filters drop whole advances the watermark") {
    import spark.implicits._
    val (server, _, _, _) = newServer("allfiltered")
    server.watermark.set(4L)
    // SHOWTABLES is a no-op command type; a QUERY with no outputs writes nothing
    val page = spark.createDataset(Seq(entry(5, "SHOWTABLES"), entry(6, "QUERY")))
    assert(server.processBatch(page).isEmpty)
    assert(server.state.current().collect().isEmpty)
    assert(server.watermark.get().contains(6L))
  }

  test("state log: a stray hidden tmp append is invisible to current() and restoreRunnable") {
    val dir = tmpDir("stray-state")
    val path = dir.toUri.toString + "jobs"
    val state = new StateStore(spark, path)
    state.append(Seq(job(1, "t1", JobStatus.Pending)))
    // the next append cut short by a crash: still hidden, one whole line
    // (a later transition of job 1) and one torn
    Files.writeString(dir.resolve("jobs").resolve(".transitions-0000000000000000002.json.tmp"),
      """{"id":1,"createTime":1700000000000,"operation":"COPY_TABLE",""" +
        """"status":"SUCCESSFUL","db":"db","table":"t1","partitions":[],""" +
        """"extras":{},"seq":2}""" + "\n" + """{"id":2,"createTime":17""")
    assert(state.current().collect().toSeq == Seq(job(1, "t1", JobStatus.Pending)))
    assert(state.restoreRunnable().map(_.id) == Seq(1L))
    // a restarted store takes the stray's seq for its first append
    val reopened = new StateStore(spark, path)
    assert(reopened.restoreRunnable() == Seq(job(1, "t1", JobStatus.Pending)))
    reopened.append(Seq(job(1, "t1", JobStatus.Running)))
    assert(reopened.current().collect().toSeq == Seq(job(1, "t1", JobStatus.Running)))
  }

  test("state log: a JobState round-trips unchanged through append, current() and compact()") {
    val t = unpartitionedTable("db1", "t_rt", tmpDir("rt-wh"))
    val meta = t.copy(parameters = t.parameters +
      ("comment" -> "say \"hi\"\nsecond line — ünïcödé 表 😀"))
    val full = JobState(42L, 1700000000042L, TaskType.CopyPartitions,
      JobStatus.Pending, "db1", "t_rt", Seq("ds=1/hr=1", "ds=2/hr=1"),
      Some(1234L), Some("db2"), Some("t_rt2"),
      Map(JobState.SerializedMeta -> MetaJson.writeTable(meta),
        "note" -> "tab\there, quote \" and backslash \\"))
    val bare = JobState(43L, 1700000000043L, TaskType.DropTable,
      JobStatus.Pending, "db1", "t_bare", Seq.empty, None, None, None, Map.empty)
    val state = new StateStore(spark, tmpDir("rt-state").toUri.toString + "jobs")
    state.append(Seq(full, bare))
    def read() = state.current().collect().sortBy(_.id).toSeq
    assert(read() == Seq(full, bare))
    assert(MetaJson.readTable(read().head.extras(JobState.SerializedMeta)) == meta)
    // the compacted generation is written by Spark, not by append
    state.compact()
    assert(read() == Seq(full, bare))
  }

  test("state log: a parquet state dir in the old layout opens, migrated") {
    import spark.implicits._
    val path = tmpDir("parquet-state").toUri.toString + "jobs"
    def oldAppend(jobs: Seq[JobState], seq: Long): Unit =
      spark.createDataset(jobs).withColumn("seq", lit(seq))
        .write.mode("append").parquet(path)
    oldAppend(Seq(job(3, "t3", JobStatus.Pending), job(1, "t1", JobStatus.Pending),
      job(2, "t2", JobStatus.Pending)), 1L)
    oldAppend(Seq(job(2, "t2", JobStatus.Successful), job(1, "t1", JobStatus.Running)), 2L)

    val state = new StateStore(spark, path)
    assert(state.restoreRunnable() ==
      Seq(job(1, "t1", JobStatus.Running), job(3, "t3", JobStatus.Pending)))
    val fs = new Path(path).getFileSystem(new Configuration())
    assert(fs.globStatus(new Path(path, "*.parquet")).isEmpty, "parquet files left")

    // the next append's seq is above the old max, so it wins
    state.append(Seq(job(1, "t1", JobStatus.Successful)))
    val maxSeq = spark.read.schema(StateStore.schema).json(path)
      .agg(max("seq")).head().getLong(0)
    assert(maxSeq > 2L, s"seq $maxSeq")
    assert(state.restoreRunnable().map(_.id) == Seq(3L))
    assert(new StateStore(spark, path).restoreRunnable().map(_.id) == Seq(3L))
  }

  test("drain deadline through processBatch: the job body runs once, ends RUNNING, recover() replays it") {
    import spark.implicits._
    val calls = new AtomicInteger(0)
    val stall = new AtomicBoolean(true)
    def stalling(inner: CatalogConnector): CatalogConnector = new CatalogConnector {
      def connect(): CatalogClient = {
        calls.incrementAndGet()
        if (stall.get()) Thread.sleep(5000)
        inner.connect()
      }
    }
    val (server, srcConn, destConn, srcWh) =
      newServer("drain", stalling, drainTimeoutMillis = Some(300))
    srcConn.connect().createTable(unpartitionedTable("db1", "t_slow", srcWh))

    val rs = server.processBatch(spark.createDataset(Seq(
      entry(1, "CREATETABLE", Seq("db1.t_slow")))))
    assert(rs.map(_._2) == Seq(JobStatus.Running), s"got $rs")
    // the interrupt ended the job: no retry ran the body a second time
    assert(calls.get() == 1, s"job body ran ${calls.get()} times")
    assert(server.state.current().collect().map(_.status).toSeq == Seq(JobStatus.Running))
    assert(destConn.connect().getTable("db1", "t_slow").isEmpty)

    stall.set(false)
    assert(server.recover().map(_._2) == Seq(JobStatus.Successful))
    assert(destConn.connect().getTable("db1", "t_slow").isDefined)
    assert(server.state.restoreRunnable().isEmpty)
  }

  test("a job that always throws shows its exception class on /job?id=N") {
    import spark.implicits._
    val message = "catalog unreachable: " + "x" * 5000
    def failing(inner: CatalogConnector): CatalogConnector = new CatalogConnector {
      def connect(): CatalogClient = throw new IllegalStateException(message)
    }
    val (server, _, _, _) = newServer("fails", failing, maxRetries = 1)
    val rs = server.processBatch(spark.createDataset(Seq(
      entry(1, "CREATETABLE", Seq("db1.t_x")))))
    assert(rs.map(_._2.startsWith(JobStatus.Failed)) == Seq(true), s"got $rs")

    val srv = new StatusServer(server.state, server.watermark)
    val port = srv.start()
    try {
      val conn = new java.net.URI(s"http://localhost:$port/job?id=1").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = try new String(conn.getInputStream.readAllBytes())
        finally conn.disconnect()
      val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      assert(j.get("status").asText == JobStatus.Failed)
      val error = j.get("extras").get("error").asText
      assert(error.startsWith("java.lang.IllegalStateException: catalog unreachable"),
        error.take(200))
      assert(error.length == IncrementalServer.MaxErrorChars)
    } finally srv.stop()
  }

  test("watermark: a tmp file left alone by a crash inside set() still holds the id") {
    val dir = tmpDir("wm-crash")
    val p = new Path(dir.toUri.toString + "watermark")
    val fs = p.getFileSystem(new Configuration())
    val wm = new Watermark(p.toString)
    wm.set(5L)
    // set(9) crashed after deleting the old file, before its rename
    val out = fs.create(new Path(p.getParent, ".watermark.tmp"), true)
    try out.write("9".getBytes) finally out.close()
    fs.delete(p, false)
    assert(wm.get().contains(9L))
    wm.set(10L)
    assert(wm.get().contains(10L))
    assert(new Watermark(p.toString).get().contains(10L))
  }
}
