package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.util.Random

import graft.hdfs.HdfsSync

/**
 * bulk_copy: standalone multi-root directory sync. Three overlapping
 * source roots hold small files (a few multi-MB ones among them); about
 * half the relative paths exist in more than one root, each copy with its
 * own mtime and size. Each round resets the destination (untimed), seeds
 * it with stale files, and runs HdfsSync.run with add, update and delete
 * enabled. Listing, latest-wins selection and the distributed copy do the
 * work; no catalog is touched.
 */
final class BulkCopy(env: Env) extends Workload {
  import BulkCopy._

  private var roots: Seq[Path] = Nil
  private var dest: Path = _
  /** Latest-wins model: relPath -> (root index, size). */
  private var latest: Map[String, (Int, Long)] = Map.empty

  def setup(): Unit = {
    val d = env.work.resolve("bulk")
    roots = (0 until Roots).map(i => d.resolve(s"root$i"))
    dest = d.resolve("dest")
    val rng = new Random(env.seed)
    val model = mutable.Map.empty[String, (Int, Long, Long)]
    var tag = 0L
    val baseMtime = 1700000000000L
    // every version of a path gets its own second, so mtimes never tie
    val seconds = rng.shuffle((0 until Paths * Roots).toVector).iterator
    (0 until Paths).foreach { i =>
      val rel = f"d${i % Dirs}%02d/f$i%05d.bin"
      val shared = rng.nextDouble() < SharedShare
      val holders =
        if (shared) rng.shuffle((0 until Roots).toList).take(2 + rng.nextInt(Roots - 1))
        else List(rng.nextInt(Roots))
      val used = mutable.Set.empty[Long]
      holders.foreach { root =>
        var size =
          if (i < BigFiles) BigSize + rng.nextInt(BigJitter)
          else math.exp(math.log(SmallMin) + rng.nextDouble() * math.log(SmallMax / SmallMin)).toInt
        while (used(size.toLong)) size += 1
        used += size.toLong
        tag += 1
        val p = roots(root).resolve(rel)
        Fs.writeFile(p, size, tag)
        val mtime = baseMtime + seconds.next() * 1000L
        Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
        if (model.get(rel).forall(_._3 < mtime)) model(rel) = (root, size.toLong, mtime)
      }
    }
    latest = model.view.mapValues(v => (v._1, v._2)).toMap
  }

  /** Empty the destination, then plant stale files: some only in the dest
    * (to delete), some at a source path with a wrong size (to update) and
    * some already equal to the latest version (left alone). */
  private def resetDest(rng: Random): (Int, Int, Int) = {
    Fs.deleteTree(dest)
    Files.createDirectories(dest)
    val paths = rng.shuffle(latest.keys.toVector.sorted)
    (0 until StaleDeletes).foreach(i => Fs.writeFile(dest.resolve(f"stale/s$i%04d.bin"), 100 + i, i))
    paths.take(StaleUpdates).foreach { rel =>
      Fs.writeFile(dest.resolve(rel), latest(rel)._2.toInt + 1, 7)
    }
    val unchanged = paths.slice(StaleUpdates, StaleUpdates + Unchanged)
    unchanged.foreach(rel => Fs.writeFile(dest.resolve(rel), latest(rel)._2.toInt, 7))
    (latest.size - StaleUpdates - Unchanged, StaleUpdates, StaleDeletes)
  }

  def round(r: Int, t: Tracer): Round = {
    val (adds, updates, deletes) = resetDest(new Random(env.seed * 1000003L + r))
    val spark = env.spark
    val srcs = roots.map(Fs.uri)
    val layer = mutable.Map.empty[String, Double]
    if (t.enabled) t.span("hdfs.plan") {
      HdfsSync.plan(spark, srcs, Fs.uri(dest), parallelism = env.nproc).count()
    }
    val written0 = Fs.hadoopBytesWritten()
    val (secs, cpu, (_, stats)) = env.timed(t, layer) {
      t.span("hdfs.run")(HdfsSync.run(spark, srcs, Fs.uri(dest), parallelism = env.nproc))
    }
    val written = Fs.hadoopBytesWritten() - written0
    val s = stats.get
    val errors = mutable.ArrayBuffer.empty[String]
    if ((s.added, s.updated, s.deleted) != ((adds, updates, deletes)))
      errors += s"sync stats $s, expected added=$adds updated=$updates deleted=$deletes"
    errors ++= Fs.diff("dest", Fs.listTree(dest), latest.view.mapValues(_._2).toMap)
    if (t.enabled) {
      layer("hdfs.files_added") = s.added.toDouble
      layer("hdfs.files_updated") = s.updated.toDouble
      layer("hdfs.files_deleted") = s.deleted.toDouble
      layer("hdfs.copied_mb") = written / 1e6
    }
    val planned = adds + updates + deletes
    Round(secs, cpu, latest.size.toLong, planned.toLong, 0L, errors.toSeq, layer.toMap)
  }
}

object BulkCopy {
  val Roots = 3
  val Paths = 300
  val Dirs = 15
  val SharedShare = 0.5
  val BigFiles = 2
  // every seed copies about the same number of bytes
  val BigSize = 3 << 20
  val BigJitter = 64 << 10
  val SmallMin = 1024.0
  val SmallMax = 65536.0
  val StaleDeletes = 10
  val StaleUpdates = 10
  val Unchanged = 20
}
