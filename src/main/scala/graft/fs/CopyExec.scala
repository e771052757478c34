package graft.fs

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.FileEntry

/** Outcome of one file copy (mirrors the reference's COPIED/SKIPPED
  * counters, `batch/BatchUtils.java:39-132`). */
final case class CopyResult(relPath: String, status: String, bytes: Long)

/**
 * Distributed executor-side file copy (SURVEY §2.1 S9/S10).
 *
 * Same protocol as the reference's `BatchUtils.doCopyFileAction`:
 * skip-if-same-length, copy via a temp file, length-verify, atomic rename
 * into place, preserve mtime, 3 retries with backoff. Spark has no raw-file
 * copy operator, so this is deliberate custom `mapPartitions` code — the
 * one place imperative I/O belongs. Speculative execution must stay off for
 * copy jobs (side effects), as the reference enforces
 * (`MetastoreReplicationJob.java:251-258`).
 *
 * Scale: the input is a `Dataset[FileEntry]`; `repartition(parallelism)`
 * spreads files round-robin (replacing the reference's murmur3(size,mtime)
 * shuffle-key balancing, `Stage2DirectoryCopyMapper.java:116-125`).
 *
 * Small trees never reach Spark: `syncDir` and `equalDirs` first list both
 * roots on the driver with a walk that stops at [[LocalCopyFiles]] files
 * per side (or [[LocalCopyBytes]] source bytes). Under that bound the diff
 * and the copies run in-process — the reference picks its in-process copy
 * the same way, from the whole tree's size (`DistCpWrapper.java:117-136`).
 * Over it, the manifests are listed and joined in Spark, so the driver
 * never holds more than ~100 rows per side.
 */
object CopyExec {

  val MaxRetries = 3

  /** Whole-tree bound of the driver-side path: a tree is "small" while it
    * has fewer files and (source side) fewer bytes than these (reference
    * local-copy threshold, `DistCpWrapperOptions.java:41-42`). */
  val LocalCopyFiles: Long = 100L
  val LocalCopyBytes: Long = 256L << 20

  /** Copy one file with the full protocol (exposed for external copy
    * pipelines like BatchReplication stage 2). */
  def copyOnePublic(fs: FileSystem, conf: Configuration,
      srcRoot: String, destRoot: String, f: FileEntry,
      verifyChecksum: Boolean = false): CopyResult =
    copyOne(fs, conf, srcRoot, destRoot, f, verifyChecksum)

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

  private def copyOne(fs: FileSystem, conf: Configuration,
      srcRoot: String, destRoot: String, f: FileEntry,
      verifyChecksum: Boolean = false): CopyResult = {
    val src = new Path(srcRoot, f.relPath)
    val dest = new Path(destRoot, f.relPath)
    // a UUID, not the thread id: thread ids are per-JVM, so two executors
    // retrying the same file against a shared store could collide on the
    // staging name mid-write
    val tmp = new Path(destRoot,
      s".graft-tmp/${f.relPath}.${java.util.UUID.randomUUID().toString.take(8)}")
    var attempt = 0
    var last: Throwable = null
    while (attempt < MaxRetries) {
      try {
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
        case e: Throwable =>
          last = e
          attempt += 1
          // back off between attempts only: a final failure returns at once
          if (attempt < MaxRetries) Thread.sleep(math.min(1000L << attempt, 8000L))
      }
    }
    // best-effort staging cleanup: the UUID name is unique to this call,
    // so an abandoned tmp would otherwise linger under .graft-tmp forever
    try fs.delete(tmp, false) catch { case _: Throwable => () }
    CopyResult(f.relPath, s"FAILED: ${last.getMessage}", 0L)
  }

  /** Copy every manifest file from srcRoot to destRoot, distributed. */
  def copyFiles(spark: SparkSession, manifest: Dataset[FileEntry],
      srcRoot: String, destRoot: String, parallelism: Int = 32,
      verifyChecksum: Boolean = false): Dataset[CopyResult] = {
    import spark.implicits._
    manifest.repartition(parallelism).mapPartitions { it =>
      val conf = new Configuration()
      val fs = new Path(destRoot).getFileSystem(conf)
      it.map(f => copyOne(fs, conf, srcRoot, destRoot, f, verifyChecksum))
    }
  }

  /** Copy outcomes rolled up: counts, copied bytes, first failure. */
  private final case class Tally(copied: Long, skipped: Long, bytes: Long,
      failed: Long, firstFailure: String)

  private def tally(rs: Seq[CopyResult]): Tally = Tally(
    rs.count(_.status == "COPIED").toLong,
    rs.count(_.status == "SKIPPED").toLong,
    rs.filter(_.status == "COPIED").map(_.bytes).sum,
    rs.count(_.status.startsWith("FAILED")).toLong,
    rs.find(_.status.startsWith("FAILED")).map(_.status).getOrElse(""))

  /** Visible files under `root` keyed by relative path, walked on the
    * driver — or None as soon as the walk reaches `maxFiles` files or
    * `maxBytes` bytes. The walk is lazy (`listStatusIterator`), so a large
    * tree costs one listing page past the bound, not a full listing. Same
    * hidden-file rule and missing-root-is-empty rule as `FsOps.listFiles`. */
  private def listBounded(conf: Configuration, root: String, maxFiles: Long,
      maxBytes: Long): Option[Map[String, FileEntry]] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val out = Map.newBuilder[String, FileEntry]
    var files = 0L
    var bytes = 0L
    val dirs = mutable.Stack((rootPath, ""))
    while (dirs.nonEmpty) {
      val (dir, prefix) = dirs.pop()
      try {
        val it = fs.listStatusIterator(dir)
        while (it.hasNext) {
          val st = it.next()
          val name = st.getPath.getName
          if (!FsOps.isHidden(name)) {
            val rel = if (prefix.isEmpty) name else s"$prefix/$name"
            if (st.isDirectory) dirs.push((st.getPath, rel))
            else {
              files += 1
              bytes += st.getLen
              if (files >= maxFiles || bytes >= maxBytes) return None
              out += rel -> FileEntry(root, rel, st.getLen, st.getModificationTime)
            }
          }
        }
      } catch { case _: java.io.FileNotFoundException => () }
    }
    Some(out.result())
  }

  /** Both trees' manifests while both are under the whole-tree bound (files
    * per side, bytes on the source), else None. The destination is not
    * walked once the source has crossed. */
  private def smallTrees(conf: Configuration, srcRoot: String, destRoot: String,
      maxFiles: Long, maxBytes: Long)
      : Option[(Map[String, FileEntry], Map[String, FileEntry])] =
    for {
      src <- listBounded(conf, srcRoot, maxFiles, maxBytes)
      dest <- listBounded(conf, destRoot, maxFiles, Long.MaxValue)
    } yield (src, dest)

  /**
   * Directory replication driver (reference `DistCpWrapper.run`,
   * `utils/common/DistCpWrapper.java:41-220`): manifest-diff first, copy
   * only missing/size-mismatched files, optionally delete dest-only files.
   *
   * Two bounds keep small work off Spark (reference local-copy threshold
   * <256MB && <100 files, `DistCpWrapperOptions.java:41-42`):
   *  - whole tree: while each side has fewer than `localCopyFiles` visible
   *    files and the source fewer than `localCopyBytes` bytes, the listing,
   *    diff, copies and deletes all run on the driver and no Spark job
   *    starts;
   *  - files to copy: over the tree bound the manifests are listed and
   *    joined in Spark, and when fewer than `localCopyFiles` files and
   *    `localCopyBytes` bytes need copying, the copies still run in a
   *    driver loop instead of a distributed job.
   */
  def syncDir(spark: SparkSession, srcRoot: String, destRoot: String,
      deleteExtra: Boolean = true, parallelism: Int = 32,
      localCopyBytes: Long = LocalCopyBytes, localCopyFiles: Long = LocalCopyFiles,
      verifyChecksum: Boolean = false): SyncStats = {
    val conf = new Configuration()
    val fs = new Path(destRoot).getFileSystem(conf)
    val (t, deleted) =
      smallTrees(conf, srcRoot, destRoot, localCopyFiles, localCopyBytes) match {
        case Some((src, dest)) =>
          syncLocal(fs, conf, srcRoot, destRoot, src, dest, deleteExtra, verifyChecksum)
        case None =>
          syncDistributed(spark, fs, conf, srcRoot, destRoot, deleteExtra,
            parallelism, localCopyBytes, localCopyFiles, verifyChecksum)
      }
    // clean tmp staging dir
    fs.delete(new Path(destRoot, ".graft-tmp"), true)

    if (t.failed > 0) {
      throw new java.io.IOException(
        s"${t.failed} copies failed, first: ${t.firstFailure}")
    }
    SyncStats(t.copied, t.skipped, deleted, t.bytes)
  }

  /** Under the whole-tree bound: the same diff as the distributed join,
    * over two driver-side maps. Returns the copy tally and the delete count. */
  private def syncLocal(fs: FileSystem, conf: Configuration, srcRoot: String,
      destRoot: String, src: Map[String, FileEntry], dest: Map[String, FileEntry],
      deleteExtra: Boolean, verifyChecksum: Boolean): (Tally, Long) = {
    val toCopy = src.values.toSeq.sortBy(_.relPath).filter(s =>
      verifyChecksum || !dest.get(s.relPath).exists(_.size == s.size))
    val t = tally(toCopy.map(f => copyOne(fs, conf, srcRoot, destRoot, f, verifyChecksum)))
    val deleted =
      if (!deleteExtra) 0L
      else dest.keys.toSeq.sorted.filterNot(src.contains)
        .count(rel => fs.delete(new Path(destRoot, rel), false)).toLong
    (t, deleted)
  }

  /** Over the whole-tree bound: manifests listed and joined in Spark. */
  private def syncDistributed(spark: SparkSession, fs: FileSystem,
      conf: Configuration, srcRoot: String, destRoot: String,
      deleteExtra: Boolean, parallelism: Int, localCopyBytes: Long,
      localCopyFiles: Long, verifyChecksum: Boolean): (Tally, Long) = {
    import spark.implicits._
    val src = FsOps.listFiles(spark, srcRoot, parallelism)
    val dest = FsOps.listFiles(spark, destRoot, parallelism)
    val joined = src.as("s").joinWith(dest.as("d"),
      col("s.relPath") === col("d.relPath"), "full_outer")
    // checksum level: a same-size dest file may still be corrupt, so every
    // src file flows to the copy stage, whose skip decision compares
    // digests (copyOne) instead of the size-only manifest diff
    val toCopy = joined.flatMap {
      case (s, d) if s != null &&
        (d == null || d.size != s.size || verifyChecksum) => Some(s)
      case _ => None
    }
    val extras = joined.flatMap {
      case (s, d) if s == null => Some(d.relPath)
      case _ => None
    }

    val (nFiles, nBytes) = {
      val r = toCopy.groupBy().agg(count(lit(1)), coalesce(sum("size"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // Large dirs aggregate results distributed and collect only a bounded
    // failure sample — per-file rows never reach the driver (100-TB rule);
    // the driver loop below the files-to-copy bound is bounded by definition.
    val t =
      if (nFiles == 0) tally(Seq.empty)
      else if (nFiles < localCopyFiles && nBytes < localCopyBytes) {
        // few files to copy: a driver-side loop beats a distributed job
        tally(toCopy.collect().toSeq
          .map(f => copyOne(fs, conf, srcRoot, destRoot, f, verifyChecksum)))
      } else {
        // persist so the bounded failure-sample read doesn't re-run the
        // (idempotent but expensive) copy pass
        val res = copyFiles(spark, toCopy, srcRoot, destRoot, parallelism,
          verifyChecksum).persist()
        try {
          val row = res.agg(
            count(when(col("status") === "COPIED", 1)),
            count(when(col("status") === "SKIPPED", 1)),
            coalesce(sum(when(col("status") === "COPIED", col("bytes"))), lit(0L)),
            count(when(col("status").startsWith("FAILED"), 1))).head()
          val sample =
            if (row.getLong(3) == 0) ""
            else res.filter(col("status").startsWith("FAILED"))
              .select("status").take(1).headOption.map(_.getString(0)).getOrElse("")
          Tally(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), sample)
        } finally {
          res.unpersist()
          ()
        }
      }

    // deletes execute where the listing lives, like the copies; the driver
    // sees one count per partition
    val deleted =
      if (!deleteExtra) 0L
      else extras.repartition(parallelism).mapPartitions { it =>
        val conf = new Configuration()
        val fs = new Path(destRoot).getFileSystem(conf)
        Iterator.single(it.count(rel => fs.delete(new Path(destRoot, rel), false)).toLong)
      }.agg(coalesce(sum("value"), lit(0L))).head().getLong(0)
    (t, deleted)
  }

  /** J3 equality: same visible relPaths with same sizes on both roots
    * (reference `FsUtils.equalDirs`, `utils/common/FsUtils.java:270-381`).
    * Trees under the whole-tree bound compare on the driver. */
  def equalDirs(spark: SparkSession, srcRoot: String, destRoot: String): Boolean =
    smallTrees(new Configuration(), srcRoot, destRoot, LocalCopyFiles, LocalCopyBytes) match {
      case Some((src, dest)) =>
        src.size == dest.size &&
          src.forall { case (rel, s) => dest.get(rel).exists(_.size == s.size) }
      case None =>
        import spark.implicits._
        val src = FsOps.listFiles(spark, srcRoot)
        val dest = FsOps.listFiles(spark, destRoot)
        val mismatches = src.as("s").joinWith(dest.as("d"),
            col("s.relPath") === col("d.relPath"), "full_outer")
          .filter(p => p._1 == null || p._2 == null || p._1.size != p._2.size)
        mismatches.isEmpty
    }
}

final case class SyncStats(copied: Long, skipped: Long, deleted: Long, bytesCopied: Long)
