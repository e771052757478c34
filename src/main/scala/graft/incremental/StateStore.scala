package graft.incremental

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.model.JobState

/**
 * Replication-job state table (SURVEY §2.1 S12) as an append-only log of
 * (job row, status transition, seq) in JSON lines: the replacement for the
 * reference's MySQL `replication_jobs` table
 * (`incremental/db/PersistedJobInfoStore.java:82-150`).
 *
 * Writes happen on the driver with no Spark job: each [[append]] is one
 * file written hidden and renamed into place, so a reader sees a whole
 * append or none of it and restore-after-crash sees a prefix of
 * transitions — the reference's recovery contract (restore PENDING/
 * RUNNING, re-run idempotent tasks — `ReplicationServer.java:383-390`).
 * Reads go through Spark with an explicit schema: current state is the
 * latest transition per job, the same latest-wins window (J5) the engine
 * uses for manifests. A log in the older parquet layout is rewritten into
 * this one, through the compaction swap, when a store opens it.
 */
final class StateStore(spark: SparkSession, dir: String) extends Serializable {
  import spark.implicits._

  private val root = new Path(dir)
  // resolved once: a fresh Configuration re-reads the Hadoop site files,
  // which costs more than the append itself
  @transient private lazy val fs: FileSystem = root.getFileSystem(new Configuration())

  // Monotonic change stamp for same-process readers (the status endpoint):
  // bumped on every mutation so a poller can serve cached rollups until
  // the log actually changes instead of running a Spark job per poll.
  private val versionCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def version: Long = versionCounter.get()

  repairCompaction()
  if (holdsParquet) rewrite(spark.read.schema(StateStore.schema).parquet(dir))

  // Restart-safe transition counter: resume from the max seq already
  // persisted so post-crash appends sort *after* pre-crash ones (a fresh
  // counter would tie with old rows and make latest-wins nondeterministic).
  private val seq = new java.util.concurrent.atomic.AtomicLong(maxPersistedSeq())

  private def compactTmpPath = new Path(dir + ".compact-tmp")
  private def compactOldPath = new Path(dir + ".compact-old")

  /** Repair an interrupted compaction swap. The swap is two renames
    * (dir→old, tmp→dir), so the possible crash states are: dir present
    * (leftover tmp/old are garbage), or dir absent with a COMPLETE tmp
    * generation (adopt it), or dir absent with only old (roll back). */
  private def repairCompaction(): Unit = {
    if (fs.exists(root)) {
      fs.delete(compactTmpPath, true)
      fs.delete(compactOldPath, true)
    } else if (fs.exists(compactTmpPath)) {
      fs.rename(compactTmpPath, root)
      fs.delete(compactOldPath, true)
    } else if (fs.exists(compactOldPath)) {
      fs.rename(compactOldPath, root)
    }
    ()
  }

  private def holdsParquet: Boolean =
    exists && fs.globStatus(new Path(root, "*.parquet")).nonEmpty

  private def maxPersistedSeq(): Long =
    if (!exists) 0L
    else log().agg(max("seq")).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }

  /** Persist one transition per job, all under one new seq. */
  def append(jobs: Seq[JobState]): Unit = {
    if (jobs.isEmpty) return
    val s = seq.incrementAndGet()
    val name = f"transitions-$s%019d.json"
    // hidden while written: Spark's file listing skips `.`-names, so a
    // crash mid-write leaves nothing a reader can see. Such a stray has
    // the seq a restarted store takes next, so it is overwritten.
    val tmp = new Path(root, s".$name.tmp")
    val out = fs.create(tmp, true)
    try jobs.foreach(j => out.write(StateStore.line(j, s))) finally out.close()
    if (!fs.rename(tmp, new Path(root, name))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"rename $tmp into $dir failed")
    }
    versionCounter.incrementAndGet()
    ()
  }

  def appendStatus(jobs: Seq[JobState], status: String): Unit =
    append(jobs.map(_.copy(status = status)))

  private def exists: Boolean = fs.exists(root)

  private def log(): DataFrame = spark.read.schema(StateStore.schema).json(dir)

  /** Latest transition per job, seq retained (the job key is the full
    * identity — one audit entry legally yields several jobs with one id). */
  private def latestTransitions(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id"), col("operation"), col("db"),
        col("table"), col("partitions"), col("renameToDb"), col("renameToTable"))
      .orderBy(col("seq").desc)
    log
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Latest transition per job. One audit entry legally yields several jobs
    * with the same id (the factory emits one job per output table, and one
    * per partition for drops), so the job key is the full identity
    * (id, operation, db, table, partitions, rename target) — not id alone. */
  def current(): Dataset[JobState] = {
    if (!exists) return spark.emptyDataset[JobState]
    latestTransitions(log()).drop("seq").as[JobState]
  }

  /** Compact the append-only log to one row per job (its latest transition,
    * seq retained so restart ordering survives). The log otherwise grows
    * with every status transition forever — unbounded at warehouse scale.
    * Single-writer contract: call between batches, like the reference's
    * row-overwriting DB store. */
  def compact(): Unit = if (exists) rewrite(log())

  /** Replace the log with the latest transitions of `log`, written by Spark
    * in this store's JSON layout. The swap is two renames so a concurrent
    * reader (the status endpoint) sees a missing dir only for the
    * milliseconds between them, never a half-deleted one; a crash mid-swap
    * is repaired at the next construction ([[repairCompaction]]). */
  private def rewrite(log: DataFrame): Unit = {
    fs.delete(compactTmpPath, true)
    fs.delete(compactOldPath, true)
    latestTransitions(log).write.json(compactTmpPath.toString)
    fs.rename(root, compactOldPath)
    fs.rename(compactTmpPath, root)
    fs.delete(compactOldPath, true)
    versionCounter.incrementAndGet()
    ()
  }

  /** O2 — restore runnable jobs in id order
    * (`PersistedJobInfoStore.java:107-141`). */
  def restoreRunnable(): Seq[JobState] =
    current()
      .filter((j: JobState) =>
        j.status == graft.model.JobStatus.Pending ||
        j.status == graft.model.JobStatus.Running)
      .orderBy("id").collect().toSeq
}

object StateStore {
  /** One log row: the job's fields plus the seq of its transition. */
  private[graft] val schema = Encoders.product[JobState].schema.add("seq", LongType)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** One JSON line of a [[schema]] row (Jackson and its Scala module ship
    * with Spark; an empty Option is written as null, which reads back as
    * None). */
  private def line(j: JobState, seq: Long): Array[Byte] = {
    val row = mapper.valueToTree[ObjectNode](j).put("seq", seq)
    (mapper.writeValueAsString(row) + "\n").getBytes(StandardCharsets.UTF_8)
  }
}

/**
 * KV watermark (`last_persisted_id`) — the reference's hand-rolled
 * checkpoint (`DbKeyValueStore`, `create_tables.sql:30-35`): a one-line
 * file written via temp+rename (atomic on HDFS).
 */
final class Watermark(path: String) {
  private val p = new Path(path)
  private val tmp = new Path(p.getParent, s".${p.getName}.tmp")
  private lazy val fs = p.getFileSystem(new Configuration())

  /** The last id set. [[set]] finishes the tmp file before it deletes the
    * old one, so a tmp file standing alone holds the latest id (a crash
    * came between the delete and the rename); a torn tmp file, possible
    * only before any id was set, reads as none. */
  def get(): Option[Long] =
    Seq(p, tmp).find(fs.exists).flatMap { f =>
      val in = fs.open(f)
      try new String(in.readAllBytes()).trim.toLongOption
      finally in.close()
    }

  def set(id: Long): Unit = {
    val out = fs.create(tmp, true)
    try out.write(id.toString.getBytes) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }
}
