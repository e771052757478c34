package graft

import org.apache.spark.sql.functions._

import graft.incremental.{StateStore, Watermark}
import graft.model.{JobState, JobStatus}
import graft.observability.{Metrics, StatsdReporter, StatusServer}

/** Counters via observe + listener, job lag from the state table via `/status`. */
class ObservabilitySpec extends TestBase {

  test("observe counters flow through the listener") {
    import spark.implicits._
    val collector = Metrics.install(spark)
    val df = Seq((1L, 100L), (2L, 250L), (3L, 0L)).toDF("id", "bytes")
    Metrics.observeCounters(df, "copy_metrics", Some("bytes")).collect()
    // QueryExecutionListener fires asynchronously
    val deadline = System.currentTimeMillis() + 10000
    while (!collector.metrics.contains("copy_metrics") &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    val m = collector.metrics("copy_metrics")
    assert(m("rows") == 3L && m("bytes") == 350L, s"got $m")
  }

  test("job lag from the state table + alert buckets") {
    val dir = tmpDir("lag-state")
    val state = new StateStore(spark, dir.toUri.toString + "jobs")
    val now = System.currentTimeMillis()
    state.append(Seq(
      JobState(1, now - 4000_000L, "COPY_TABLE", JobStatus.Pending,
        "db", "t1", Seq.empty, None, None, None, Map.empty),
      JobState(2, now - 1000_000L, "COPY_TABLE", JobStatus.Successful,
        "db", "t2", Seq.empty, None, None, None, Map.empty)))
    val srv = new StatusServer(state, new Watermark(dir.toUri.toString + "watermark"))
    val port = srv.start()
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def status() = mapper.readTree(
        new java.net.URI(s"http://localhost:$port/status").toURL.openStream())
      // oldest non-terminal job is 4000s old (plus the time this test took)
      val lagged = status()
      val lag = lagged.get("lagSeconds").asLong
      assert(lag >= 4000L && lag < 4120L, s"lagSeconds $lag")
      assert(lagged.get("lagBucket").asInt == 2) // past 1800 and 3600
      assert(Metrics.lagBucket(4000L) == 2)
      assert(Metrics.lagBucket(100L) == 0)
      // once it completes, no lag
      state.appendStatus(Seq(state.restoreRunnable().head), JobStatus.Successful)
      val done = status()
      assert(!done.has("lagSeconds") && !done.has("lagBucket"), s"$done")
    } finally srv.stop()
  }

  test("status endpoint serves job counts, watermark, and health over HTTP") {
    val dir = tmpDir("status-state")
    val state = new StateStore(spark, dir.toUri.toString + "jobs")
    val wm = new Watermark(dir.toUri.toString + "watermark")
    state.append(Seq(
      JobState(1, 1700000000000L, "COPY_TABLE", JobStatus.Successful,
        "db", "t1", Seq.empty, None, None, None, Map.empty),
      JobState(2, 1700000000000L, "COPY_TABLE", JobStatus.Pending,
        "db", "t2", Seq.empty, None, None, None, Map.empty)))
    wm.set(2L)

    val srv = new StatusServer(state, wm)
    val port = srv.start()
    try {
      def get(path: String): String = {
        val conn = new java.net.URI(s"http://localhost:$port$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        try new String(conn.getInputStream.readAllBytes())
        finally conn.disconnect()
      }
      assert(get("/health").contains("\"ok\":true"))
      // dashboard renders the reference jobs page (WebServer.java:74-117,
      // templates/jobs.html): per-job columns, Active/Retired sections,
      // 'Many' partition collapse, lag-in-minutes header
      val html = get("/")
      assert(html.contains("graft replication status"))
      for (f <- Seq("Active Jobs", "Retired Jobs", "<th>ID</th>",
          "<th>Create Time</th>", "<th>Operation</th>", "<th>Status</th>",
          "<th>Table</th>", "<th>Partitions</th>", "<th>Rename to</th>",
          "<th>Extras</th>", "<th>Duration</th>", "'Many'", "min)"))
        assert(html.contains(f), s"dashboard missing reference field: $f")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val status = mapper.readTree(get("/status"))
      assert(status.get("jobs").get(JobStatus.Successful).asLong == 1L)
      assert(status.get("jobs").get(JobStatus.Pending).asLong == 1L)
      assert(status.get("watermark").asLong == 2L)
      assert(status.get("lagSeconds").asLong >= 0L)

      // repeated polls between batches are O(1) driver work: no new Spark
      // job runs until the state table changes
      val jobsStarted = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobsStarted.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        get("/status"); get("/status"); get("/status")
        Thread.sleep(1000) // listener events are async
        assert(jobsStarted.get() == 0,
          s"${jobsStarted.get()} Spark jobs ran for cached polls")

        // a state change invalidates the cache: next poll recomputes
        state.appendStatus(Seq(
          JobState(2, 1700000000000L, "COPY_TABLE", JobStatus.Pending,
            "db", "t2", Seq.empty, None, None, None, Map.empty)),
          JobStatus.Successful)
        val after = mapper.readTree(get("/status"))
        assert(after.get("jobs").get(JobStatus.Successful).asLong == 2L)
        assert(after.get("jobs").get(JobStatus.Pending).asLong == 0L)
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally srv.stop()
  }

  test("statsd gauges emit on rollup recompute; /jobs serves bounded drill-down") {
    val dir = tmpDir("statsd-state")
    val state = new StateStore(spark, dir.toUri.toString + "jobs")
    val wm = new Watermark(dir.toUri.toString + "watermark")
    state.append(Seq(
      JobState(1, 1700000000000L, "COPY_TABLE", JobStatus.Successful,
        "db", "t1", Seq.empty, None, None, None, Map.empty),
      JobState(2, 1700000000000L, "COPY_PARTITION", JobStatus.Pending,
        "db", "t2", Seq("ds=1"), None, Some("db2"), Some("t2r"),
        Map("k" -> "v"))))

    val recv = new java.net.DatagramSocket(0)
    recv.setSoTimeout(10000)
    val reporter = new StatsdReporter("localhost", recv.getLocalPort)
    val srv = new StatusServer(state, wm, statsd = Some(reporter))
    val port = srv.start()
    try {
      def get(path: String): String = {
        val conn = new java.net.URI(s"http://localhost:$port$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        try new String(conn.getInputStream.readAllBytes())
        finally conn.disconnect()
      }
      get("/status") // triggers rollup recompute → gauge emission
      val seen = scala.collection.mutable.Set.empty[String]
      val buf = new Array[Byte](512)
      while (!seen.exists(_.startsWith("graft.jobs.pending:1|g"))) {
        val pkt = new java.net.DatagramPacket(buf, buf.length)
        recv.receive(pkt) // SoTimeout fails the test if nothing arrives
        seen += new String(pkt.getData, 0, pkt.getLength)
      }
      assert(seen.exists(_.startsWith("graft.jobs.pending:1|g")), s"got $seen")

      // drill-down: filtered, newest-first, bounded
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val pending = mapper.readTree(get("/jobs?status=PENDING&limit=10"))
      assert(pending.size() == 1 && pending.get(0).get("table").asText == "db.t2",
        s"got $pending")
      assert(pending.get(0).get("partitions").asText == "ds=1")
      // reference jobs-page fields (jobs.html: Rename to DB/Table, Extras)
      assert(pending.get(0).get("renameToDb").asText == "db2")
      assert(pending.get(0).get("renameToTable").asText == "t2r")
      assert(pending.get(0).get("extras").asText == "k=v")
      val all = mapper.readTree(get("/jobs"))
      assert(all.size() == 2 && all.get(0).get("id").asLong == 2L,
        s"newest first: $all")
    } finally { srv.stop(); reporter.close(); recv.close() }
  }

  test("/job serves one job's full detail with execution history") {
    val dir = tmpDir("jobdetail-state")
    val state = new StateStore(spark, dir.toUri.toString + "jobs")
    val wm = new Watermark(dir.toUri.toString + "watermark")
    state.append(Seq(
      JobState(7, 1700000000000L, "COPY_PARTITION", JobStatus.Successful,
        "db", "t1", Seq("ds=1", "ds=2"), Some(123L), None, None,
        Map("src_path" -> "/wh/db/t1"))))

    val statsDir = tmpDir("jobdetail-stats")
    val log = new graft.observability.JobStatsLog(statsDir.toString)
    // a crashed first run then a successful replay: two execution rows
    log.append(graft.observability.JobStats(7, "COPY_PARTITION", "db", "t1",
      2, JobStatus.Failed, 3, 40L, "2026-01-01T00:00:00.000"))
    log.append(graft.observability.JobStats(7, "COPY_PARTITION", "db", "t1",
      2, JobStatus.Successful, 1, 12L, "2026-01-01T00:05:00.000"))

    val srv = new StatusServer(state, wm,
      statsDir = Some(statsDir.toUri.toString))
    val port = srv.start()
    try {
      def get(path: String): (Int, String) = {
        val conn = new java.net.URI(s"http://localhost:$port$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        try {
          val code = conn.getResponseCode
          val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
          (code, new String(is.readAllBytes()))
        } finally conn.disconnect()
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val (code, body) = get("/job?id=7")
      assert(code == 200, s"$code: $body")
      val j = mapper.readTree(body)
      assert(j.get("operation").asText == "COPY_PARTITION")
      assert(j.get("status").asText == JobStatus.Successful)
      assert(j.get("db").asText == "db" && j.get("table").asText == "t1")
      assert(j.get("partitions").size == 2)
      assert(j.get("srcTldt").asLong == 123L)
      assert(j.get("extras").get("src_path").asText == "/wh/db/t1")
      val execs = j.get("executions")
      assert(execs.size == 2, s"executions: $execs")
      // ordered by completed_at: the failed run first, then the replay
      assert(execs.get(0).get("status").asText == JobStatus.Failed)
      assert(execs.get(0).get("attempts").asInt == 3)
      assert(execs.get(1).get("status").asText == JobStatus.Successful)
      assert(execs.get(1).get("duration_ms").asLong == 12L)

      assert(get("/job?id=99")._1 == 404)
      assert(get("/job")._1 == 400)
    } finally srv.stop()
  }
}
