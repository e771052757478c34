package graft.fs

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.FileEntry

/** Outcome of one file copy (mirrors the reference's COPIED/SKIPPED
  * counters, `batch/BatchUtils.java:39-132`). */
final case class CopyResult(relPath: String, status: String, bytes: Long)

final case class SyncStats(copied: Long, skipped: Long, deleted: Long, bytesCopied: Long)

/** One unit of sync work: the visible files under `srcRoots` (the latest
  * version of a relative path wins across roots) mirrored into `destRoot`. */
private[graft] final case class SyncUnit(srcRoots: Seq[String], destRoot: String)

/** One planned file operation: ADD or UPDATE copies `relPath` from
  * `srcRoot` into `destRoot`, DELETE removes it from `destRoot`. */
private[graft] final case class FileOp(destRoot: String, relPath: String, op: String,
    srcRoot: String, size: Long, mtime: Long)

/** Executed operations rolled up: ops run, copy outcomes, first failure. */
private[graft] final case class Tally(added: Long = 0, updated: Long = 0, copied: Long = 0,
    skipped: Long = 0, bytes: Long = 0, deleted: Long = 0, failed: Long = 0,
    firstFailure: Option[String] = None) {
  def +(o: Tally): Tally = Tally(added + o.added, updated + o.updated,
    copied + o.copied, skipped + o.skipped, bytes + o.bytes, deleted + o.deleted,
    failed + o.failed, firstFailure.orElse(o.firstFailure))
}

/** Planned operations: held on the driver (small trees) or in Spark. */
private[graft] final case class SyncPlan(ops: Either[Seq[FileOp], Dataset[FileOp]],
    verifyChecksum: Boolean, parallelism: Int)

/**
 * The copy engine (SURVEY §2.1 S9/S10): list → latest wins → diff → copy →
 * delete → tally over a set of [[SyncUnit]]s. `syncDir`, `equalDirs`,
 * `HdfsSync` and batch stage 2 are front ends over it — the reference's
 * three data movers (`DistCpWrapper.java:41-220`,
 * `Stage2DirectoryCopyMapper.java:49-132`, `batch/hdfs/ReplicationJob.java:61-103`)
 * are all this dataflow.
 *
 * The engine decides once where a plan runs. While the units together have
 * fewer than [[LocalCopyFiles]] files per side and [[LocalCopyBytes]]
 * source bytes, [[FsOps.listBounded]] lists them on the driver, and the
 * diff, copies and deletes run in-process with no Spark job — the reference
 * picks its in-process copy the same way, from the whole tree's size
 * (`DistCpWrapper.java:117-136`). Otherwise (and without walking when there
 * are more units than files allowed) [[FsOps.listDistributed]] lists them in
 * Spark, a window picks the latest version per path, a full outer join
 * diffs, and the operations run on executors; the driver sees one [[Tally]]
 * per task, never a file row.
 *
 * Each copy uses the reference's `BatchUtils.doCopyFileAction` protocol:
 * skip-if-same-length, copy via a temp file, length-verify, atomic rename
 * into place, preserve mtime, 3 attempts with backoff. Speculative execution
 * must stay off for copy jobs (side effects), as the reference enforces
 * (`MetastoreReplicationJob.java:251-258`).
 */
object CopyExec {

  val MaxRetries = 3

  /** Driver-side bound: a plan is "small" while its units have fewer files
    * per side and fewer source bytes than these (reference local-copy
    * threshold, `DistCpWrapperOptions.java:41-42`). */
  val LocalCopyFiles: Long = 100L
  val LocalCopyBytes: Long = 256L << 20

  private[graft] final case class Bound(files: Long, bytes: Long)
  private[graft] val DefaultBound = Bound(LocalCopyFiles, LocalCopyBytes)

  private[graft] val Add = "ADD"
  private[graft] val Update = "UPDATE"
  private[graft] val Delete = "DELETE"
  private[graft] val AllOps: Set[String] = Set(Add, Update, Delete)
  /** Internal op: clear the staging dir of a dest root after its copies. */
  private val ClearStaging = "CLEAR_STAGING"
  private val Staging = ".graft-tmp"

  /** Content digest for checksum-level comparison. The reference compares
    * Hadoop `FileChecksum`s (`batch/BatchUtils.java:105-111`), which many
    * stores (LocalFileSystem, most object stores) don't expose — so the
    * checksum level computes an MD5 of the bytes instead, which works on
    * any store at the cost of a read. Config-gated off by default. */
  private def md5(fs: FileSystem, p: Path): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) md.update(buf, 0, n)
        n = in.read(buf)
      }
    } finally in.close()
    md.digest()
  }

  /** Copy one file with the full protocol. */
  private[graft] def copyOne(fs: FileSystem, conf: Configuration,
      srcRoot: String, destRoot: String, f: FileEntry,
      verifyChecksum: Boolean): CopyResult = {
    val src = new Path(srcRoot, f.relPath)
    val dest = new Path(destRoot, f.relPath)
    // a UUID, not the thread id: thread ids are per-JVM, so two executors
    // retrying the same file against a shared store could collide on the
    // staging name mid-write
    val tmp = new Path(destRoot,
      s"$Staging/${f.relPath}.${java.util.UUID.randomUUID().toString.take(8)}")
    var attempt = 0
    var last: Throwable = null
    while (attempt < MaxRetries) {
      try {
        // back off between attempts only: a final failure returns at once
        if (attempt > 0) Thread.sleep(math.min(1000L << attempt, 8000L))
        val srcStatus = fs.getFileStatus(src)
        if (fs.exists(dest) && fs.getFileStatus(dest).getLen == srcStatus.getLen &&
            (!verifyChecksum ||
              java.util.Arrays.equals(md5(fs, src), md5(fs, dest)))) {
          return CopyResult(f.relPath, "SKIPPED", 0L)
        }
        fs.mkdirs(tmp.getParent)
        FileUtil.copy(fs, src, fs, tmp, false, true, conf)
        val copiedLen = fs.getFileStatus(tmp).getLen
        if (copiedLen != srcStatus.getLen) {
          fs.delete(tmp, false)
          throw new java.io.IOException(
            s"length mismatch after copy: $copiedLen != ${srcStatus.getLen}")
        }
        // post-copy verify: a corrupted copy is deleted and retried
        // (re-copied), matching `BatchUtils.java:105-111`
        if (verifyChecksum &&
            !java.util.Arrays.equals(md5(fs, src), md5(fs, tmp))) {
          fs.delete(tmp, false)
          throw new java.io.IOException(s"checksum mismatch after copy of $src")
        }
        fs.mkdirs(dest.getParent)
        if (fs.exists(dest)) fs.delete(dest, false)
        if (!fs.rename(tmp, dest)) {
          throw new java.io.IOException(s"rename $tmp -> $dest failed")
        }
        fs.setTimes(dest, srcStatus.getModificationTime, -1)
        return CopyResult(f.relPath, "COPIED", srcStatus.getLen)
      } catch {
        // an interrupt (a cancelled task) ends the copy, flag kept set
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case NonFatal(e) =>
          last = e
          attempt += 1
      }
    }
    // best-effort staging cleanup: the UUID name is unique to this call,
    // so an abandoned tmp would otherwise linger under .graft-tmp forever
    try fs.delete(tmp, false) catch { case _: Throwable => () }
    CopyResult(f.relPath, s"FAILED: ${last.getMessage}", 0L)
  }

  /** Plan units the caller holds on the driver. */
  private[graft] def plan(spark: SparkSession, units: Seq[SyncUnit], ops: Set[String],
      verifyChecksum: Boolean, parallelism: Int, bound: Bound): SyncPlan = {
    import spark.implicits._
    choose(units, spark.createDataset(units), ops, verifyChecksum, parallelism, bound)
  }

  /** Plan units held in Spark: at most `bound.files + 1` of them reach the
    * driver, and only to decide where the plan runs. */
  private[graft] def plan(units: Dataset[SyncUnit], ops: Set[String],
      verifyChecksum: Boolean, parallelism: Int, bound: Bound): SyncPlan =
    choose(units.take(math.min(bound.files, Int.MaxValue - 1L).toInt + 1).toSeq, units,
      ops, verifyChecksum, parallelism, bound)

  /** `head` holds the first units of `all`, or all of them when it is
    * within the bound. Under the bound both sides are listed and diffed on
    * the driver; the destinations are not walked once the sources have
    * crossed it. Over it the plan runs in Spark. */
  private def choose(head: Seq[SyncUnit], all: => Dataset[SyncUnit], ops: Set[String],
      verifyChecksum: Boolean, parallelism: Int, bound: Bound): SyncPlan = {
    val conf = new Configuration()
    val local = for {
      units <- Some(head).filter(_.size <= bound.files)
      src <- FsOps.listBounded(conf, units.flatMap(_.srcRoots), bound.files, bound.bytes)
      dest <- FsOps.listBounded(conf, units.map(_.destRoot), bound.files, Long.MaxValue)
    } yield units.flatMap(u =>
      diff(u.destRoot, u.srcRoots.flatMap(src), dest(u.destRoot), verifyChecksum))
      .filter(o => ops(o.op))
    SyncPlan(local.toLeft(planDistributed(all, ops, verifyChecksum, parallelism)),
      verifyChecksum, parallelism)
  }

  /** One unit's diff on the driver, the same as [[planDistributed]]'s: the
    * latest mtime wins across roots and the smaller root breaks a tie;
    * copies in path order, then deletes. At checksum level every same-size
    * file is an UPDATE, and its copy compares digests before it writes. */
  private def diff(destRoot: String, src: Seq[FileEntry], dest: Seq[FileEntry],
      verifyChecksum: Boolean): Seq[FileOp] = {
    val latest = src.groupBy(_.relPath).values.map(_.minBy(f => (-f.mtime, f.root)))
      .toSeq.sortBy(_.relPath)
    val destSize = dest.map(f => f.relPath -> f.size).toMap
    val copies = latest.flatMap { s =>
      val op = destSize.get(s.relPath) match {
        case None => Some(Add)
        case Some(d) if d != s.size || verifyChecksum => Some(Update)
        case _ => None
      }
      op.map(FileOp(destRoot, s.relPath, _, s.root, s.size, s.mtime))
    }
    val srcPaths = latest.map(_.relPath).toSet
    copies ++ destSize.keys.toSeq.sorted.filterNot(srcPaths)
      .map(FileOp(destRoot, _, Delete, "", 0L, 0L))
  }

  /** Over the bound: listed, ranked and joined in Spark, per unit. */
  private def planDistributed(units: Dataset[SyncUnit], ops: Set[String],
      verifyChecksum: Boolean, parallelism: Int): Dataset[FileOp] = {
    import units.sparkSession.implicits._
    val src = FsOps.listDistributed(
      units.flatMap(u => u.srcRoots.distinct.map(r => (u.destRoot, r))), parallelism)
    val dest = FsOps.listDistributed(units.map(u => (u.destRoot, u.destRoot)), parallelism)
      .select(col("key"), col("relPath"), col("size").as("destSize"))
    val w = Window.partitionBy(col("key"), col("relPath"))
      .orderBy(col("mtime").desc, col("root"))
    src.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(dest, Seq("key", "relPath"), "full_outer")
      .select(col("key").as("destRoot"), col("relPath"),
        when(col("size").isNull, Delete)
          .when(col("destSize").isNull, Add)
          .when(col("size") =!= col("destSize") || lit(verifyChecksum), Update).as("op"),
        coalesce(col("root"), lit("")).as("srcRoot"),
        coalesce(col("size"), lit(0L)).as("size"),
        coalesce(col("mtime"), lit(0L)).as("mtime"))
      .filter(col("op").isin(ops.toSeq: _*))
      .as[FileOp]
  }

  /** Run one operation; every outcome becomes a [[Tally]]. */
  private def exec(conf: Configuration, o: FileOp, verifyChecksum: Boolean): Tally = {
    val fs = new Path(o.destRoot).getFileSystem(conf)
    o.op match {
      case Delete =>
        Tally(deleted = if (fs.delete(new Path(o.destRoot, o.relPath), false)) 1 else 0)
      case ClearStaging =>
        fs.delete(new Path(o.destRoot, Staging), true)
        Tally()
      case op =>
        val r = copyOne(fs, conf, o.srcRoot, o.destRoot,
          FileEntry(o.srcRoot, o.relPath, o.size, o.mtime), verifyChecksum)
        val failed = r.status.startsWith("FAILED")
        Tally(added = if (op == Add) 1 else 0, updated = if (op == Update) 1 else 0,
          copied = if (r.status == "COPIED") 1 else 0,
          skipped = if (r.status == "SKIPPED") 1 else 0, bytes = r.bytes,
          failed = if (failed) 1 else 0, firstFailure = Some(r.status).filter(_ => failed))
    }
  }

  private def clearStaging(destRoot: String) =
    FileOp(destRoot, Staging, ClearStaging, "", 0L, 0L)

  /**
   * Run a plan: the copies first, then the deletes and the clearing of the
   * staging dir of every dest root that had a copy. A distributed plan is
   * persisted, so the trees are listed once for both passes. Throws when a
   * copy failed, after the deletes and the clearing have run.
   */
  private[graft] def execute(p: SyncPlan): Tally = {
    val verify = p.verifyChecksum
    val t = p.ops match {
      case Left(ops) =>
        val conf = new Configuration()
        val (deletes, copies) = ops.partition(_.op == Delete)
        (copies ++ deletes ++ copies.map(_.destRoot).distinct.map(clearStaging))
          .map(exec(conf, _, verify)).fold(Tally())(_ + _)
      case Right(ops) =>
        import ops.sparkSession.implicits._
        def run(work: Dataset[FileOp]): Tally =
          work.repartition(p.parallelism).mapPartitions { it =>
            val conf = new Configuration()
            Iterator.single(it.map(exec(conf, _, verify)).fold(Tally())(_ + _))
          }.collect().fold(Tally())(_ + _)
        val planned = ops.persist()
        try {
          val copies = planned.filter(col("op") =!= Delete)
          // one staging clear per dest root and plan partition: no shuffle
          val staging = copies.mapPartitions(_.map(_.destRoot).distinct.map(clearStaging))
          run(copies) + run(planned.filter(col("op") === Delete).union(staging))
        } finally {
          planned.unpersist()
          ()
        }
    }
    if (t.failed > 0) throw new java.io.IOException(
      s"${t.failed} copies failed, first: ${t.firstFailure.getOrElse("")}")
    t
  }

  /**
   * Directory replication (reference `DistCpWrapper.run`,
   * `utils/common/DistCpWrapper.java:41-220`): copy only missing or
   * size-mismatched files, optionally delete dest-only files. One unit;
   * `localCopyFiles` and `localCopyBytes` are its driver-side bound.
   */
  def syncDir(spark: SparkSession, srcRoot: String, destRoot: String,
      deleteExtra: Boolean = true, parallelism: Int = 32,
      localCopyBytes: Long = LocalCopyBytes, localCopyFiles: Long = LocalCopyFiles,
      verifyChecksum: Boolean = false): SyncStats = {
    val t = execute(plan(spark, Seq(SyncUnit(Seq(srcRoot), destRoot)),
      if (deleteExtra) AllOps else Set(Add, Update), verifyChecksum, parallelism,
      Bound(localCopyFiles, localCopyBytes)))
    SyncStats(t.copied, t.skipped, t.deleted, t.bytes)
  }

  /** J3 equality: same visible relPaths with same sizes on both roots
    * (reference `FsUtils.equalDirs`, `utils/common/FsUtils.java:270-381`),
    * i.e. the engine plans nothing. */
  def equalDirs(spark: SparkSession, srcRoot: String, destRoot: String): Boolean =
    plan(spark, Seq(SyncUnit(Seq(srcRoot), destRoot)), AllOps, false, 32, DefaultBound)
      .ops.fold(_.isEmpty, _.isEmpty)
}
