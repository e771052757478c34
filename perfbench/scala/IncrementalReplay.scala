package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Encoders

import graft.catalog.{CatalogConnector, InMemoryConnector}
import graft.incremental.{AuditLoggingCatalog, IncrementalConfig, IncrementalServer, JobFactory}
import graft.model.{AuditLogEntry, JobStatus}

/**
 * incremental_replay: catch-up after downtime. Set-up builds a source
 * warehouse and a converged copy of it as the destination. Each round
 * applies a fixed mix of source mutations through AuditLoggingCatalog (so
 * entries carry serialized-metadata payloads), reads the recorded entries
 * back, and feeds them to IncrementalServer.processBatch in fixed-size
 * pages in id order. Data copies run beside metadata-only operations.
 */
final class IncrementalReplay(env: Env) extends Workload {
  import IncrementalReplay._

  private var wh: Warehouse = _
  private var ids: (String, String) = _
  private var lastId = 0L
  private def dir = wh.srcDir.getParent
  private def auditDir = dir.resolve("audit")

  def setup(): Unit = {
    val d = env.work.resolve("incremental")
    ids = ("perfbench-ir-src", "perfbench-ir-dest")
    wh = new Warehouse(d.resolve("src"), d.resolve("dest"), FilesPerDir, 1024, 16384)
    val rng = new Random(env.seed)
    val src = InMemoryConnector(ids._1).connect()
    (0 until PartitionedTables).foreach(i =>
      wh.createTable(src, s"db${i % Dbs}", partitioned = true, PartsPerTable, rng))
    (0 until UnpartitionedTables).foreach(i =>
      wh.createTable(src, s"db${i % Dbs}", partitioned = false, 0, rng))
    wh.mirror(InMemoryConnector(ids._2).connect())
  }

  /** Apply the round's mutation mix through the audit hook. Objects are
    * disjoint within a round, so every resulting job is expected to end
    * SUCCESSFUL. Returns the number of audit entries written. */
  private def mutate(rng: Random): Int = {
    val hooked = new AuditLoggingCatalog(InMemoryConnector(ids._1).connect(),
      auditDir.toString)
    val busy = mutable.Set.empty[(String, String)]
    def free(partitioned: Boolean) = wh.tables.values
      .filter(t => t.partitioned == partitioned && !busy((t.db, t.name))).toIndexedSeq
    def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))

    val dropT = pick(free(partitioned = true))
    busy += ((dropT.db, dropT.name))
    val renameT = pick(free(partitioned = false))
    busy += ((renameT.db, renameT.name))
    val created = wh.createTable(hooked, s"db${rng.nextInt(Dbs)}", partitioned = true,
      CreatedParts, rng)
    busy += ((created.db, created.name))
    val touched = mutable.Set.empty[(String, String)]
    val targets = free(partitioned = true)
    (0 until AddedParts).foreach { _ =>
      val t = pick(targets)
      touched += ((t.name, wh.addPartition(hooked, t, rng).name))
    }
    def untouchedPart(): (TableModel, String) = {
      var c: (TableModel, String) = null
      while (c == null) {
        val t = pick(targets)
        if (t.parts.nonEmpty) {
          val p = pick(t.parts.keys.toIndexedSeq)
          if (!touched((t.name, p))) c = (t, p)
        }
      }
      touched += ((c._1.name, c._2))
      c
    }
    (0 until RewrittenParts).foreach { _ =>
      val (t, p) = untouchedPart(); wh.rewritePartition(hooked, t, p, rng)
    }
    (0 until DroppedParts).foreach { _ =>
      val (t, p) = untouchedPart(); wh.dropPartition(hooked, t, p)
    }
    wh.renameTable(hooked, renameT)
    wh.dropTable(hooked, dropT)
    EntriesPerRound
  }

  /** Entries recorded since the last read, in id order. */
  private def newEntries(): Seq[AuditLogEntry] = {
    val Name = raw"audit-(\d{12})\.json".r
    val files = {
      val s = Files.list(auditDir)
      try s.iterator().asScala.toSeq finally s.close()
    }.flatMap(p => p.getFileName.toString match {
      case Name(n) if n.toLong > lastId => Some(p.toUri.toString)
      case _ => None
    })
    val schema = Encoders.product[AuditLogEntry].schema
    import env.spark.implicits._
    val entries = env.spark.read.schema(schema).json(files: _*).as[AuditLogEntry]
      .collect().toSeq.sortBy(_.id)
    lastId = entries.map(_.id).max
    entries
  }

  def round(r: Int, t: Tracer): Round = {
    val rng = new Random(env.seed * 1000003L + r)
    val expected = mutate(rng)
    val entries = newEntries()
    val objects = wh.objects
    val statsDir = dir.resolve(s"stats-$r")
    def conn(id: String): CatalogConnector =
      if (t.enabled) CountingConnector(InMemoryConnector(id), id) else InMemoryConnector(id)
    val cfg = IncrementalConfig(conn(ids._1), conn(ids._2), wh.srcRoot, wh.destRoot,
      stateDir = Fs.uri(dir.resolve(s"state-$r")),
      watermarkPath = Fs.uri(dir.resolve(s"watermark-$r")),
      workers = env.nproc,
      // a failing job must not stall the run in back-off sleeps
      maxRetries = 2, retrySleeper = _ => Thread.sleep(50),
      statsDir = if (t.enabled) Some(statsDir.toString) else None)
    val server = new IncrementalServer(env.spark, cfg)
    val pages = entries.grouped(PageSize).toSeq
    val spark = env.spark
    import spark.implicits._
    val layer = mutable.Map.empty[String, Double]
    if (t.enabled) t.span("incremental.plan_jobs") {
      pages.foreach(p => JobFactory.planJobs(spark, spark.createDataset(p), cfg.filters).collect())
    }
    val (secs, cpu, results) = env.timed(t, layer) {
      pages.flatMap(p => t.span("incremental.page")(server.processBatch(spark.createDataset(p))))
    }
    val bad = results.filter(_._2 != JobStatus.Successful)
    val failed = results.count(r =>
      r._2.startsWith(JobStatus.Failed) || r._2 == JobStatus.NotCompletable).toLong
    val errors = mutable.ArrayBuffer.empty[String]
    if (entries.size != expected) errors += s"${entries.size} entries recorded, expected $expected"
    if (results.size != expected) errors += s"${results.size} jobs, expected $expected (one per entry)"
    bad.take(3).foreach { case (j, s) => errors += s"job ${j.id} ${j.operation} ${j.db}.${j.table} ended $s" }
    errors ++= wh.check(InMemoryConnector(ids._2).connect(), wh.allDirs)
    if (t.enabled) {
      layer("incremental.jobs_per_entry") = results.size.toDouble / entries.size
      layer("catalog.calls_per_object") = layer.getOrElse("catalog.calls", 0.0) / objects
      val stats = graft.observability.JobStatsLog.read(spark, statsDir.toString)
        .select("duration_ms", "attempts").collect()
      val durations = stats.map(_.getLong(0) / 1e3).sorted.toSeq
      def pct(q: Double) = durations(math.min(durations.size - 1, (q * durations.size).toInt))
      layer("tasks.job_p50_s") = Main.median(durations)
      layer("tasks.job_p99_s") = pct(0.99)
      layer("tasks.attempts_per_job") = stats.map(_.getInt(1)).sum.toDouble / stats.length
    }
    Round(secs, cpu, entries.size.toLong, results.size.toLong, failed, errors.toSeq, layer.toMap)
  }
}

object IncrementalReplay {
  val Dbs = 2
  val PartitionedTables = 8
  val PartsPerTable = 6
  val UnpartitionedTables = 4
  val FilesPerDir = 2
  val PageSize = 4
  // per round (two pages): 1 table created with 1 partition (2 entries),
  // 1 partition add, 1 rewrite, 1 drop, 1 table rename, 1 table drop
  val CreatedParts = 1
  val AddedParts = 1
  val RewrittenParts = 1
  val DroppedParts = 1
  val EntriesPerRound: Int = 1 + CreatedParts + AddedParts + RewrittenParts + DroppedParts + 2
}
