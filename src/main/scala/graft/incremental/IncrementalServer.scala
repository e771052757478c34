package graft.incremental

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.catalog.CatalogConnector
import graft.model._
import graft.sources.AuditLogJdbc
import graft.tasks.{TaskContext, Tasks}

/**
 * Incremental replication server (SURVEY §2.9, §3.2): the reference's
 * `ReplicationServer.run` loop. Pages of audit entries arrive from one of
 * two tails: the JDBC poll loop ([[IncrementalServer.drainJdbc]], the
 * reference's own shape, positioned by the [[Watermark]]) or a Structured
 * Streaming tail over a directory of audit-entry files
 * ([[IncrementalServer.start]], positioned by its checkpoint).
 *
 * Per page, preserving the reference's exactly-once-ish ordering
 * (`ReplicationServer.java:460-504`):
 *   1. plan the page's jobs on the driver ([[JobFactory]]);
 *   2. persist them PENDING to the state log *before* execution;
 *   3. execute with per-key lock ordering ([[LockExecutor]], 20 workers);
 *   4. persist terminal statuses; advance the watermark last.
 * Steps 1, 2 and 4 start no Spark job: the state log ([[StateStore]]) is
 * written as driver-side files, as the reference plans in plain Java and
 * updates its job rows in place. Spark reads the file stream and the
 * state log, and runs the copies that are too big for the driver.
 *
 * Replay after crash re-runs PENDING/RUNNING jobs; tasks are idempotent
 * (equality checks + TLDT guards), so replay is safe — the reference's
 * own recovery contract (`docs/faq.md`).
 */
final case class IncrementalConfig(
    srcConnector: CatalogConnector,
    destConnector: CatalogConnector,
    srcFsRoot: String,
    destFsRoot: String,
    stateDir: String,
    watermarkPath: String,
    workers: Int = 20,
    maxJobsPerBatch: Int = 600,
    filters: JobFilterConfig = JobFilterConfig(),
    maxRetries: Int = 8,
    retrySleeper: Long => Unit = Thread.sleep,
    compactEveryBatches: Int = 100,
    // optional drain deadline per LockExecutor.execute call: None (default)
    // waits for every job — long copies must never be latched into a false
    // terminal state; Some(ms) interrupts stragglers and records RUNNING
    // for recover() to replay
    drainTimeoutMillis: Option[Long] = None,
    // two-way-sync protection: with false, copies whose dest is newer than
    // the source event become guarded DestNewer no-ops (reference knob
    // BATCH_JOB_OVERWRITE_NEWER)
    overwriteNewer: Boolean = true,
    // per-job execution stats sidecar (MapRedStatsLogModule analog):
    // one JSON row per execution with duration/attempts/status
    statsDir: Option[String] = None)

final class IncrementalServer(spark: SparkSession, val cfg: IncrementalConfig) {

  val state = new StateStore(spark, cfg.stateDir)
  val watermark = new Watermark(cfg.watermarkPath)
  private val statsLog = cfg.statsDir.map(new graft.observability.JobStatsLog(_))

  private def ctx = TaskContext(spark, cfg.destConnector.connect(),
    cfg.srcFsRoot, cfg.destFsRoot, overwriteNewer = cfg.overwriteNewer)

  // F6 replay payloads: when the source object is already gone (dropped or
  // renamed away after the entry was logged), the job replays from the
  // serialized metadata the audit entry carried (`ReplicationUtils.java:76-85`)
  private def serializedTable(j: JobState): Option[graft.model.TableMeta] =
    j.extras.get(JobState.SerializedMeta).flatMap(s =>
      scala.util.Try(graft.model.MetaJson.readTable(s)).toOption)
  private def serializedPartition(j: JobState): Option[graft.model.PartitionMeta] =
    j.extras.get(JobState.SerializedMeta).flatMap(s =>
      scala.util.Try(graft.model.MetaJson.readPartition(s)).toOption)

  /** Execute one job against the dest warehouse (T1-T8 dispatch). */
  def runJob(j: JobState): String = {
    val src = cfg.srcConnector.connect()
    val c = ctx
    val outcome: Tasks.Outcome = j.operation match {
      case TaskType.CopyCompleteTable =>
        // table creation ⇒ T8: replicate metadata AND every existing
        // partition (no partition events will follow for them)
        src.getTable(j.db, j.table).orElse(serializedTable(j)) match {
          case Some(t) => Tasks.copyCompleteTable(c, src, t)
          case None => Tasks.NotCompletable(s"src ${j.db}.${j.table} gone")
        }
      case "COPY_TABLE" =>
        // table-level mutation ⇒ metadata only for partitioned tables
        // (partition events carry the data), T1 for unpartitioned —
        // property churn on a 10k-partition table must NOT enumerate
        // partitions (reference `ReplicationJobFactory.java:104-140`)
        src.getTable(j.db, j.table).orElse(serializedTable(j)) match {
          case Some(t) if t.isPartitioned => Tasks.copyPartitionedTable(c, t)
          case Some(t) => Tasks.copyUnpartitionedTable(c, t)
          case None => Tasks.NotCompletable(s"src ${j.db}.${j.table} gone")
        }
      case TaskType.CopyPartition | TaskType.CopyPartitions =>
        src.getTable(j.db, j.table) match {
          case Some(t) =>
            // ST8 bulk job under the table's lock: T4 copies all of its
            // partitions in one copy plan, then commits each
            val metas = j.partitions.flatMap(p =>
              src.getPartition(j.db, j.table, p).orElse(
                if (j.partitions.size == 1) serializedPartition(j) else None))
            if (metas.size != j.partitions.size)
              Tasks.NotCompletable("src partition gone")
            else Tasks.copyPartitions(c, t, metas)
          case None => Tasks.NotCompletable(s"src ${j.db}.${j.table} gone")
        }
      case TaskType.DropTable =>
        Tasks.dropTable(c, j.db, j.table, j.srcTldt)
      case TaskType.DropPartition =>
        Tasks.dropPartition(c, j.db, j.table, j.partitions.head, j.srcTldt)
      case TaskType.RenameTable =>
        (for (tdb <- j.renameToDb; ttbl <- j.renameToTable) yield {
          src.getTable(tdb, ttbl).orElse(serializedTable(j)) match {
            case Some(to) => Tasks.renameTable(c, src, j.db, j.table, to)
            case None => Tasks.NotCompletable(s"src $tdb.$ttbl gone")
          }
        }).getOrElse(Tasks.NotCompletable("rename target missing"))
      case TaskType.RenamePartition =>
        (j.partitions match {
          case Seq(from, to) =>
            // the carried payload lets the dest-side rename proceed even
            // when the source has drifted past this entry (table renamed
            // or partition re-renamed by a later entry); the source table
            // is only needed for the copy fallback
            src.getPartition(j.db, j.table, to)
              .orElse(serializedPartition(j))
              .map(pm => Tasks.renamePartition(
                c, src.getTable(j.db, j.table), from, pm))
          case _ => None
        }).getOrElse(Tasks.NotCompletable("rename partition spec missing"))
      case TaskType.NoOp =>
        // JobFactory routes unparseable commands here so they surface as
        // NOT_COMPLETABLE rows instead of silently vanishing
        Tasks.NotCompletable(
          s"unparseable command: ${j.extras.getOrElse("command", "")}")
      case other => Tasks.NotCompletable(s"unknown operation $other")
    }
    outcome match {
      case Tasks.Done | Tasks.Noop => JobStatus.Successful
      case Tasks.DestNewer => JobStatus.DestNewer
      case Tasks.NotCompletable(_) => JobStatus.NotCompletable
    }
  }

  /** T10 — every job runs under the retry wrapper (≤8 attempts, exponential
    * backoff), matching `ReplicationJob.java:60-103`. A NOT_COMPLETABLE
    * outcome is a *return value*, not an exception, so it is never retried
    * (the reference's FAILED-vs-NOT_COMPLETABLE classification); exceptions
    * exhausting the retries propagate and LockExecutor records FAILED. */
  private def runJobWithRetry(j: JobState): String = {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    // observability must never alter a job outcome: a failed sidecar
    // append (disk full, bad dir) is swallowed — the job's real status
    // and exception always win
    def record(status: String): Unit = statsLog.foreach { log =>
      try log.append(
        graft.observability.JobStats(j.id, j.operation, j.db, j.table,
          j.partitions.size, status, attempts.get,
          (System.nanoTime() - t0) / 1000000L,
          java.time.LocalDateTime.now(java.time.ZoneOffset.UTC).format(
            java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS"))))
      catch { case _: Throwable => () }
    }
    try {
      val s = Tasks.withRetry(cfg.maxRetries, sleeper = cfg.retrySleeper) {
        attempts.incrementAndGet(); runJob(j)
      }
      record(s)
      s
    } catch {
      case e: Throwable => record(JobStatus.Failed); throw e
    }
  }

  /** One page: plan → persist ALL jobs PENDING → execute in chunks of
    * maxJobsPerBatch → persist statuses → watermark up to the page's max
    * entry id, also when the filters dropped every entry. The page is collected
    * to the driver, so it must be bounded: the file stream admits at most
    * maxJobsPerBatch entries per trigger and a JDBC poll reads one page.
    * Every planned job is persisted before the watermark advances — the
    * cap only bounds how many are *in flight* at once (the reference
    * pauses ingestion at maxJobsInMemory rather than discarding,
    * `ReplicationServer.java:427-439`); a crash mid-batch leaves the tail
    * PENDING for recover() to replay. */
  def processBatch(entries: Dataset[AuditLogEntry]): Seq[(JobState, String)] =
    processPage(entries.collect().toSeq)

  private def processPage(entries: Seq[AuditLogEntry]): Seq[(JobState, String)] = {
    if (entries.isEmpty) return Seq.empty
    // Global id sort before chunking: LockExecutor orders same-key jobs only
    // within a chunk, so an unsorted page could split a DROP and a later
    // COPY of one table across chunks out of order (ST4/ST5 guarantee).
    val jobs = JobFactory.plan(entries, cfg.filters).sortBy(_.id)
    state.append(jobs) // PENDING before execution (ST2 ordering)
    val results = jobs.grouped(math.max(1, cfg.maxJobsPerBatch)).flatMap {
      chunk =>
        val rs = LockExecutor.execute(chunk, cfg.workers, cfg.drainTimeoutMillis)(runJobWithRetry)
        state.append(rs.map(finalState))
        rs
    }.toSeq
    // never backwards: the file stream may deliver a late entry file whose
    // id sits below ids already processed
    val top = entries.map(_.id).max
    if (watermark.get().forall(_ < top)) watermark.set(top)
    // periodic log compaction: the transition log otherwise grows with
    // every status change forever (single-writer, between batches)
    if (jobs.nonEmpty && cfg.compactEveryBatches > 0 &&
        batchCount.incrementAndGet() % cfg.compactEveryBatches == 0) {
      state.compact()
    }
    results
  }

  private val batchCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Recovery: re-run PENDING/RUNNING jobs from the state table in id
    * order (ST5 — `ReplicationServer.java:383-390`). */
  def recover(): Seq[(JobState, String)] = {
    val runnable = state.restoreRunnable()
    if (runnable.isEmpty) return Seq.empty
    val results = LockExecutor.execute(runnable, cfg.workers, cfg.drainTimeoutMillis)(runJobWithRetry)
    state.append(results.map(finalState))
    results
  }

  /** The transition persisted for an executed job. LockExecutor reports a
    * thrown job as `FAILED: <exception>`; the row keeps that exception (its
    * class and message) in `extras("error")`, cut to
    * [[IncrementalServer.MaxErrorChars]]. */
  private def finalState(r: (JobState, String)): JobState = r match {
    case (j, s) if s.startsWith(JobStatus.Failed) =>
      j.copy(status = JobStatus.Failed, extras = j.extras +
        ("error" -> s.stripPrefix(JobStatus.Failed).stripPrefix(": ")
          .take(IncrementalServer.MaxErrorChars)))
    case (j, s) => j.copy(status = s)
  }

  /** One JDBC poll: read the next id-keyed page after the watermark
    * ([[graft.sources.AuditLogJdbc.fetchPage]], plain JDBC on the driver)
    * and process it, which advances the watermark to the page's max id (so
    * pages of entirely-filtered entries still make progress). Returns
    * entries read. A page is O(pageSize) rows by construction — the
    * reference's own fetch shape (`AuditLogReader.java:199-254`) — so a
    * poll starts no Spark job of its own. */
  def pollJdbc(reader: AuditLogJdbc.Settings): Int = {
    val entries = AuditLogJdbc.fetchPage(reader, watermark.get().getOrElse(0L))
    processPage(entries)
    entries.size
  }

  /** Drain the JDBC audit tail: poll pages until one comes back empty.
    * The watermark is the tail's only position, so a new server over the
    * same watermark path resumes after the last page; `--audit-jdbc` runs
    * this in the reference's loop ([[IncrementalServer.PollWaitMillis]]
    * between drains, `ReplicationServer.java:443-457`). */
  def drainJdbc(reader: AuditLogJdbc.Settings): Int = {
    var total = 0
    var got = -1
    while (got != 0) {
      got = pollJdbc(reader)
      total += got
    }
    total
  }

  /** Structured Streaming entry: tail a directory of audit-entry JSON
    * (the file-source stand-in for the JDBC audit tail ST1; a MySQL
    * deployment tails the audit table with [[drainJdbc]] instead, into the
    * same page processing). It positions by file, not by id, so an entry
    * file landing after a higher id is still read.
    *
    * ST3 backpressure: `maxFilesPerTrigger` = maxJobsPerBatch caps
    * source-side admission (one file per audit entry), so a flood of
    * entries becomes several bounded micro-batches instead of one
    * unbounded job collect — the reference pauses ingestion at
    * `maxJobsInMemory` the same way (`ReplicationServer.java:427-439`). */
  def start(auditDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      startAfterId: Long = 0L): StreamingQuery = {
    import spark.implicits._
    val schema = implicitly[org.apache.spark.sql.Encoder[AuditLogEntry]].schema
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", cfg.maxJobsPerBatch.toString)
      .json(auditDir)
      .as[AuditLogEntry]
      // --start-after-id: the file source positions by file, not id, so
      // the skip is an entry filter (`ReplicationLauncher.java:275-280`)
      .filter((e: AuditLogEntry) => e.id > startAfterId)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[AuditLogEntry], _: Long) =>
        processBatch(batch); ()
      }
      .start()
  }
}

object IncrementalServer {
  /** Longest failure message kept on a job's state row. */
  private[graft] val MaxErrorChars = 1000

  /** Sleep between JDBC drains, the reference's `POLL_WAIT_TIME_MS`
    * (`ReplicationServer.java:56`). */
  val PollWaitMillis = 10000L
}
