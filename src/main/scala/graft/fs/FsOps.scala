package graft.fs

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.Dataset

import graft.model.FileEntry

/** One listed file, tagged with the key its root was listed for. */
private[graft] final case class Listed(key: String, root: String, relPath: String,
    size: Long, mtime: Long)

/**
 * The directory lister (SURVEY §2.1 S4/S5). The reference walks trees with
 * a custom MR InputFormat (`batch/hdfs/DirScanInputFormat.java:40-180`) and
 * a recursive lister (`utils/common/FsUtils.java:124-153`).
 *
 * Both cases share one lazy walk, so they share its rules: hidden names are
 * skipped, and a missing root lists as empty.
 *  - small: [[listBounded]] walks on the driver and gives up as soon as it
 *    reaches its bound, so a large tree costs one listing page past it;
 *  - large: [[listDistributed]] lists the first level of every root on
 *    executors, spreads the subdirectories and walks them there. File rows
 *    are born distributed and never reach the driver.
 */
object FsOps {

  /** Hidden = name starts with `_` or `.`
    * (`batch/hive/Stage2DirectoryCopyMapper.java:36-41`). */
  def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** Visible entries of one directory, paged lazily; a missing dir is empty. */
  private def entries(fs: FileSystem, dir: Path): Iterator[FileStatus] = {
    val it =
      try fs.listStatusIterator(dir)
      catch { case _: FileNotFoundException => return Iterator.empty }
    new Iterator[FileStatus] {
      def hasNext: Boolean = try it.hasNext catch { case _: FileNotFoundException => false }
      def next(): FileStatus = it.next()
    }.filterNot(st => isHidden(st.getPath.getName))
  }

  /** Visible files under `dir`, depth first, as (path relative to the root
    * `dir` sits at `prefix` under, status). */
  private def walk(fs: FileSystem, dir: Path,
      prefix: String): Iterator[(String, FileStatus)] =
    entries(fs, dir).flatMap { st =>
      val rel = if (prefix.isEmpty) st.getPath.getName else s"$prefix/${st.getPath.getName}"
      if (st.isDirectory) walk(fs, st.getPath, rel) else Iterator.single((rel, st))
    }

  /** Visible files under each of `roots`, walked on the driver — or None as
    * soon as they reach `maxFiles` files or `maxBytes` bytes together. */
  private[graft] def listBounded(conf: Configuration, roots: Seq[String], maxFiles: Long,
      maxBytes: Long): Option[Map[String, Seq[FileEntry]]] = {
    var (files, bytes) = (0L, 0L)
    val out = Map.newBuilder[String, Seq[FileEntry]]
    val rootIt = roots.distinct.iterator
    while (rootIt.hasNext) {
      val root = rootIt.next()
      val rootPath = new Path(root)
      val it = walk(rootPath.getFileSystem(conf), rootPath, "")
      val listed = Seq.newBuilder[FileEntry]
      while (it.hasNext) {
        val (rel, st) = it.next()
        files += 1
        bytes += st.getLen
        if (files >= maxFiles || bytes >= maxBytes) return None
        listed += FileEntry(root, rel, st.getLen, st.getModificationTime)
      }
      out += root -> listed.result()
    }
    Some(out.result())
  }

  /** `size` of a first-level directory that still has to be walked. */
  private val Pending = -1L

  /** Visible files under every (key, root) of `roots`, listed on executors.
    * The first level of each root is listed where the root is; its
    * subdirectories are then spread over `parallelism` tasks and walked
    * there — the Spark analog of DirScanInputFormat's split generation. */
  private[graft] def listDistributed(roots: Dataset[(String, String)],
      parallelism: Int): Dataset[Listed] = {
    import roots.sparkSession.implicits._
    roots.mapPartitions { it =>
      val conf = new Configuration()
      it.flatMap { case (key, root) =>
        val p = new Path(root)
        entries(p.getFileSystem(conf), p).map(st => Listed(key, root, st.getPath.getName,
          if (st.isDirectory) Pending else st.getLen, st.getModificationTime))
      }
    }.repartition(parallelism).mapPartitions { it =>
      val conf = new Configuration()
      it.flatMap { l =>
        if (l.size != Pending) Iterator.single(l)
        else {
          val dir = new Path(l.root, l.relPath)
          walk(dir.getFileSystem(conf), dir, l.relPath).map { case (rel, st) =>
            l.copy(relPath = rel, size = st.getLen, mtime = st.getModificationTime)
          }
        }
      }
    }
  }
}
