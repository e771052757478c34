package graft.observability

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.incremental.{StateStore, Watermark}
import graft.model.JobStatus

/**
 * Monitoring endpoint — the engine's replacement for the reference's
 * Thrift progress API (`thrift/src/main/resources/reair.thrift`,
 * `TReplicationService.getStatus`) and the small web UI that fronts it
 * (`web-server/src/main/java/com/airbnb/reair/WebServer.java`): one plain
 * HTTP/JSON endpoint on the JDK's built-in server (zero dependencies).
 *
 *  - `GET /status`  → job counts by status, watermark, lag seconds +
 *    alert bucket (the reference's 1800/3600/7200/10800/21600 thresholds),
 *    and any collected `observe` counters (A7/A8).
 *  - `GET /jobs?status=S&limit=N` → newest-first job rows for drill-down
 *    (the reference web UI's per-job detail page). Bounded by `limit`
 *    (default 50, max 500); cached per state-log version like the
 *    rollup, so the dashboard's 10 s poll costs one Spark job per state
 *    BATCH, not per poll or per viewer.
 *  - `GET /job?id=N` → full detail for ONE job (every state field incl.
 *    rename targets and extras) plus its execution history from the
 *    [[JobStatsLog]] sidecar when `statsDir` is configured — per-attempt
 *    status/duration/retry rows, the drill-down the reference web UI
 *    renders per active/retired job (`web-server/.../WebServer.java:74`).
 *  - `GET /health`  → 200 "ok" (liveness).
 *
 * All numbers come from the state table's latest-wins view and the
 * in-memory metrics collector — the endpoint reads, never mutates. With a
 * [[StatsdReporter]] attached, every rollup recompute (i.e. once per
 * state change, not per poll) also pushes the reference's statsd gauges.
 */
final class StatusServer(state: StateStore, watermark: Watermark,
    collector: Option[Metrics.Collector] = None, port: Int = 0,
    statsd: Option[StatsdReporter] = None,
    statsdPeriodMillis: Long = 30000L,
    statsDir: Option[String] = None) {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private var server: HttpServer = _
  private var emitter: java.util.concurrent.ScheduledExecutorService = _

  /** Start listening; returns the bound port (useful with port=0). */
  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/status", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        // a poll can race the state log's compaction swap (millisecond
        // rename window): retry once, else answer 503 instead of
        // aborting the exchange
        val body =
          try Some(statusJson())
          catch {
            case _: Throwable =>
              try Some(statusJson()) catch { case _: Throwable => None }
          }
        body match {
          case Some(b) => respond(ex, 200, b)
          case None =>
            respond(ex, 503, """{"error":"state temporarily unavailable"}""")
        }
      }
    })
    server.createContext("/jobs", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val body =
          try Some(jobsJson(ex.getRequestURI.getQuery))
          catch { case _: Throwable => None }
        body match {
          case Some(b) => respond(ex, 200, b)
          case None =>
            respond(ex, 503, """{"error":"state temporarily unavailable"}""")
        }
      }
    })
    // longest-prefix routing: /jobs wins over /job for the list URL
    server.createContext("/job", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val id = Option(ex.getRequestURI.getQuery).getOrElse("").split('&')
          .map(_.split("=", 2))
          .collectFirst { case Array("id", v) => v }.flatMap(_.toLongOption)
        id match {
          case None =>
            respond(ex, 400, """{"error":"id parameter required"}""")
          case Some(i) =>
            (try Some(jobJson(i)) catch { case _: Throwable => None }) match {
              case Some(Some(b)) => respond(ex, 200, b)
              case Some(None) =>
                respond(ex, 404, s"""{"error":"no job $i"}""")
              case None => respond(ex, 503,
                """{"error":"state temporarily unavailable"}""")
            }
        }
      }
    })
    server.createContext("/health", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex, 200, """{"ok":true}""")
    })
    // minimal dashboard (the reference's web-server front end); the JDK
    // server picks the longest matching prefix, so /status and /health win
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        respond(ex, 200, StatusServer.IndexHtml, "text/html")
    })
    server.start()
    // statsd pushes on a fixed cadence like the reference's StatsTracker
    // loop — emission must not depend on anyone polling /status
    statsd.foreach { _ =>
      emitter = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        r => { val t = new Thread(r, "graft-statsd"); t.setDaemon(true); t })
      emitter.scheduleAtFixedRate(
        () => try emitStats() catch { case _: Throwable => () },
        0L, statsdPeriodMillis, java.util.concurrent.TimeUnit.MILLISECONDS)
      ()
    }
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (emitter != null) { emitter.shutdownNow(); () }
    if (server != null) server.stop(0)
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Cached per state-log version: (counts by status, oldest runnable
    * createTime). A 10 s dashboard poll against a large state log must not
    * keep the driver running window aggregations — the rollup only changes
    * when the state table does, so one Spark job per *batch*, not per
    * poll; lag stays live because it derives from the cached oldest
    * timestamp and the current clock. */
  @volatile private var rollupCache: (Long, Map[String, Long], Option[Long]) =
    (-1L, Map.empty, None)

  private def rollup(): (Map[String, Long], Option[Long]) = {
    val v = state.version
    val cached = rollupCache
    if (cached._1 == v) (cached._2, cached._3)
    else {
      import org.apache.spark.sql.functions._
      // counts and the oldest PENDING/RUNNING createTime in ONE pass
      val rows = state.current()
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          min(when(col("status").isin(JobStatus.Pending, JobStatus.Running),
            col("createTime"))).as("oldest"))
        .collect()
      val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val oldest = rows.flatMap(r =>
        if (r.isNullAt(2)) None else Some(r.getLong(2))).minOption
      rollupCache = (v, counts, oldest)
      (counts, oldest)
    }
  }

  /** One statsd emission from the (possibly cached) rollup. Lag derives
    * from the cached oldest-runnable timestamp and the CURRENT clock, so
    * a stalled server reports growing lag — the condition the gauge
    * exists to alert on — even though no state version changes. */
  private[observability] def emitStats(): Unit = statsd.foreach { r =>
    val (counts, oldest) = rollup()
    r.emitJobStats(counts,
      oldest.map(o => (System.currentTimeMillis() - o) / 1000L))
  }

  private[observability] def statusJson(): String = {
    val node = mapper.createObjectNode()
    val (byStatus, oldestRunnable) = rollup()
    val jobs = node.putObject("jobs")
    JobStatus.All.foreach(s => jobs.put(s, byStatus.getOrElse(s, 0L)))
    watermark.get().foreach(node.put("watermark", _))
    oldestRunnable.foreach { oldest =>
      val lag = (System.currentTimeMillis() - oldest) / 1000L
      node.put("lagSeconds", lag)
      node.put("lagBucket", Metrics.lagBucket(lag))
    }
    val counters = node.putObject("counters")
    collector.foreach(_.metrics.foreach { case (name, m) =>
      val c = counters.putObject(name)
      m.foreach {
        case (k, v: Long) => c.put(k, v)
        case (k, v: Int) => c.put(k, v.toLong)
        case (k, v) => c.put(k, String.valueOf(v))
      }
    })
    mapper.writeValueAsString(node)
  }

  /** Newest-first job rows, optionally filtered by status; bounded. */
  // /jobs responses cached per (state version, query string): the
  // dashboard polls `jobs?limit=500` every 10 s, and without this each
  // open tab would run one latest-wins scan + sort on the driver per
  // poll (the exact load the rollup cache exists to prevent). Cleared
  // whenever the version moves, so drill-down filters stay correct;
  // CAPPED per version so a client sweeping query strings
  // (`jobs?limit=1,2,3,…`) cannot grow driver memory without bound on
  // an idle stream — past the cap, uncached queries recompute, which
  // is the pre-cache behavior, not an error.
  private val JobsCacheMaxEntries = 32
  @volatile private var jobsCache: (Long, Map[String, String]) =
    (-1L, Map.empty)

  private[observability] def jobsJson(query: String): String = {
    val key = Option(query).getOrElse("")
    val v = state.version
    val cached = jobsCache
    if (cached._1 == v) cached._2.get(key) match {
      case Some(body) => return body
      case None => ()
    }
    val body = jobsJsonUncached(key)
    // benign race on the volatile: a concurrent writer may drop this
    // entry (one extra recompute on a later poll), never serve stale
    // data — entries are only valid for the version they were read at
    val cur = jobsCache
    jobsCache =
      if (cur._1 == v) {
        if (cur._2.size < JobsCacheMaxEntries) (v, cur._2 + (key -> body))
        else cur // full for this version: serve uncached, don't grow
      } else (v, Map(key -> body))
    body
  }

  private def jobsJsonUncached(query: String): String = {
    val params = query.split('&').iterator
      .map(_.split("=", 2)).collect { case Array(k, v) => (k, v) }.toMap
    val limit = math.min(params.get("limit").flatMap(_.toIntOption)
      .getOrElse(50), 500)
    val base = state.current()
    val filtered = params.get("status") match {
      case Some(s) => base.filter((j: graft.model.JobState) => j.status == s)
      case None => base
    }
    val rows = filtered.orderBy(org.apache.spark.sql.functions.col("id").desc)
      .limit(limit).collect()
    val arr = mapper.createArrayNode()
    rows.foreach { j =>
      val n = arr.addObject()
      n.put("id", j.id)
      n.put("createTime", j.createTime)
      n.put("operation", j.operation)
      n.put("status", j.status)
      n.put("table", s"${j.db}.${j.table}")
      if (j.partitions.nonEmpty)
        n.put("partitions", j.partitions.mkString(","))
      // the reference jobs page renders these per-row (jobs.html:
      // Rename to DB / Rename to Table / Extras) — serve them so the
      // dashboard can, too
      j.renameToDb.foreach(n.put("renameToDb", _))
      j.renameToTable.foreach(n.put("renameToTable", _))
      if (j.extras.nonEmpty)
        n.put("extras", j.extras.map { case (k, v) => s"$k=$v" }
          .mkString(","))
    }
    mapper.writeValueAsString(arr)
  }

  /** Full state row for one job + its per-execution stats history;
    * None = unknown id. Both collects are bounded: latest-wins yields at
    * most one state row, and executions are bounded by the retry cap
    * times replay count. */
  private[observability] def jobJson(id: Long): Option[String] = {
    val cur = state.current()
    cur.filter((j: graft.model.JobState) => j.id == id).limit(1)
      .collect().headOption.map { j =>
        val n = mapper.createObjectNode()
        n.put("id", j.id)
        n.put("createTime", j.createTime)
        n.put("operation", j.operation)
        n.put("status", j.status)
        n.put("db", j.db)
        n.put("table", j.table)
        if (j.partitions.nonEmpty) {
          val a = n.putArray("partitions")
          j.partitions.foreach(a.add)
        }
        j.srcTldt.foreach(n.put("srcTldt", _))
        j.renameToDb.foreach(n.put("renameToDb", _))
        j.renameToTable.foreach(n.put("renameToTable", _))
        if (j.extras.nonEmpty) {
          val e = n.putObject("extras")
          j.extras.foreach { case (k, v) => e.put(k, v); () }
        }
        statsDir.foreach { d =>
          import org.apache.spark.sql.functions.col
          // the sidecar dir appears on the first completed execution —
          // before that, "no history yet" and "no dir yet" both mean []
          val execs =
            try JobStatsLog.readJob(cur.sparkSession, d, id)
              .filter(col("job_id") === id)
              .orderBy(col("completed_at")).collect()
            catch {
              case _: org.apache.spark.sql.AnalysisException =>
                Array.empty[org.apache.spark.sql.Row]
            }
          val arr = n.putArray("executions")
          execs.foreach { r =>
            val o = arr.addObject()
            o.put("status", r.getAs[String]("status"))
            o.put("attempts", r.getAs[Int]("attempts"))
            o.put("duration_ms", r.getAs[Long]("duration_ms"))
            o.put("completed_at", r.getAs[String]("completed_at"))
            ()
          }
        }
        mapper.writeValueAsString(n)
      }
  }
}

object StatusServer {
  /** Terminal statuses — the reference's "retired" set (everything a
    * job can end in; PENDING/RUNNING are "active"). */
  private[observability] val RetiredStatuses: Set[String] =
    JobStatus.All.toSet -- Set(JobStatus.Pending, JobStatus.Running)

  /** One-file dashboard polling every 10 s (the reference refreshes its
    * progress page on the same cadence as the server's poll sleep).
    * Renders the reference web UI's jobs page (`WebServer.java:74-117`,
    * `templates/jobs.html`): lag header, then per-job rows split into
    * an Active Jobs section (PENDING/RUNNING, with a live duration
    * column from createTime) and a last-200 Retired Jobs section —
    * columns ID / Create Time / Operation / Status / Table /
    * Partitions ('Many' beyond one, like the reference) / Rename to /
    * Extras. Data comes from the same `/jobs` JSON the API serves. */
  val IndexHtml: String =
    """<!doctype html><html><head><title>graft replication status</title>
      |<style>body{font-family:monospace;margin:2em}table{border-collapse:collapse}
      |td,th{border:1px solid #999;padding:4px 10px;text-align:right}
      |th{text-align:left}td.sec{background:#ddd;text-align:left}</style></head><body>
      |<h2>graft replication status</h2>
      |<p id="meta"></p>
      |<table id="rollup"></table>
      |<h3 id="counts"></h3>
      |<table id="jobs"></table>
      |<script>
      |const RETIRED = new Set([@RETIRED@]);
      |const esc = x => String(x ?? '').replace(/[&<>"]/g,
      |  c => ({'&':'&amp;','<':'&lt;','>':'&gt;','"':'&quot;'}[c]));
      |function jobRow(j, now){
      |  const parts = (j.partitions ?? '').split(',').filter(x => x);
      |  const dur = RETIRED.has(j.status) ? ''
      |    : Math.max(0, Math.round((now - j.createTime)/1000)) + 's';
      |  return `<tr><td>${j.id}</td>` +
      |    `<td>${new Date(j.createTime).toISOString()}</td>` +
      |    `<td>${esc(j.operation)}</td><td>${esc(j.status)}</td>` +
      |    `<td>${esc(j.table)}</td>` +
      |    `<td>${parts.length > 1 ? 'Many' : esc(parts[0] ?? '')}</td>` +
      |    `<td>${esc(j.renameToDb ?? '')}${j.renameToTable ? '.' + esc(j.renameToTable) : ''}</td>` +
      |    `<td>${esc(j.extras ?? '')}</td><td>${dur}</td></tr>`;
      |}
      |async function refresh(){
      |  const s = await (await fetch('status')).json();
      |  const rollup = Object.entries(s.jobs)
      |    .map(([k,v]) => `<tr><th>${esc(k)}</th><td>${v}</td></tr>`).join('');
      |  document.getElementById('rollup').innerHTML = rollup;
      |  document.getElementById('meta').textContent =
      |    `watermark=${s.watermark ?? '-'} lag=${s.lagSeconds ?? 0}s ` +
      |    `(${Math.round((s.lagSeconds ?? 0)/60)} min) bucket=${s.lagBucket ?? 0}`;
      |  const all = await (await fetch('jobs?limit=500')).json();
      |  const now = Date.now();
      |  const active = all.filter(j => !RETIRED.has(j.status));
      |  const retired = all.filter(j => RETIRED.has(j.status)).slice(0, 200);
      |  document.getElementById('counts').textContent =
      |    `Jobs: ${active.length} Active`;
      |  const head = '<tr><th>ID</th><th>Create Time</th><th>Operation</th>' +
      |    '<th>Status</th><th>Table</th><th>Partitions</th>' +
      |    '<th>Rename to</th><th>Extras</th><th>Duration</th></tr>';
      |  const sec = t => `<tr><td class="sec" colspan="9">${t}</td></tr>`;
      |  document.getElementById('jobs').innerHTML = head +
      |    (active.length ? sec('Active Jobs') : '') +
      |    active.map(j => jobRow(j, now)).join('') +
      |    (retired.length ? sec('Retired Jobs') : '') +
      |    retired.map(j => jobRow(j, now)).join('');
      |}
      |refresh(); setInterval(refresh, 10000);
      |</script></body></html>""".stripMargin
      // single source of truth: the JS retired set is generated from
      // RetiredStatuses so a new terminal JobStatus cannot silently
      // stay "Active" in the dashboard
      .replace("@RETIRED@",
        RetiredStatuses.toSeq.sorted.map("'" + _ + "'").mkString(","))
}
