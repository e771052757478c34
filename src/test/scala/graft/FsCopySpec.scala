package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.fs.{CopyExec, FsOps, SyncStats}
import graft.model.FileEntry
import graft.tasks.{TaskContext, Tasks}

/** Filesystem layer: listing (hidden-file filter, deep trees), sync copy
  * (add/update/delete, skip-equal), equalDirs — mirroring the reference's
  * FsUtils/DistCpWrapper contracts. */
class FsCopySpec extends TestBase {

  /** Runs `body` and counts the Spark jobs it started. Jobs are matched by
    * a local property set on this thread (Spark carries it to the threads
    * a query spawns). Listener events arrive asynchronously but in order,
    * so a tagged sentinel job marks the point where every job `body`
    * started has been seen. */
  private def jobsStartedBy[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, tag + "-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(tag + "-end") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(tag + "-end"), "sentinel job never reached the listener")
      (out, seen.asScala.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }

  /** Files under `root` as (relative path, content), hidden ones included
    * (the local FileSystem's binary `.crc` sidecars among them). */
  private def tree(root: Path): Seq[(String, String)] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => (root.relativize(f).toString,
        new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.ISO_8859_1)))
      .toSeq.sorted
    finally s.close()
  }

  private val PadFiles = 116

  /** A src/dest pair that exercises every diff branch: equal, size-changed,
    * same-size-corrupt, added in a nested dir, dest-only, and hidden entries
    * on both sides (never copied, never deleted). With `pad`, both sides get
    * [[PadFiles]] identical files in nested dirs: 120 visible files per
    * side, over the driver-side bound, with nothing more to copy. */
  private def syncFixture(name: String, pad: Boolean): (Path, Path) = {
    val src = tmpDir(s"$name-src")
    val dest = tmpDir(s"$name-dest")
    writeFile(src, "same.txt", "unchanged")
    writeFile(dest, "same.txt", "unchanged")
    writeFile(src, "changed.txt", "new-content")
    writeFile(dest, "changed.txt", "old")
    writeFile(src, "corrupt.txt", "correct!")
    writeFile(dest, "corrupt.txt", "corrupt!")
    writeFile(src.resolve("a").resolve("b"), "added.txt", "fresh")
    writeFile(dest.resolve("gone"), "extra.txt", "goes-away")
    writeFile(src, "_SUCCESS", "")
    writeFile(src, ".part.crc", "crc")
    writeFile(src.resolve("_temporary"), "attempt.txt", "partial")
    writeFile(dest, "_dest_marker", "keep")
    writeFile(dest.resolve(".staging"), "f.txt", "keep")
    if (pad) (0 until PadFiles).foreach { i =>
      val dir = s"pad/p${i % 4}/q${i % 3}"
      writeFile(src.resolve(dir), s"f$i.txt", "x" * (i % 9))
      writeFile(dest.resolve(dir), s"f$i.txt", "x" * (i % 9))
    }
    (src, dest)
  }

  test("listFiles returns relative paths, sizes, and skips hidden files") {
    val root = tmpDir("fs-list")
    writeFile(root, "a.txt", "aaa")
    writeFile(root.resolve("sub"), "b.txt", "bbbb")
    writeFile(root.resolve("sub").resolve("deep"), "c.txt", "c")
    writeFile(root, "_hidden.txt", "x")
    writeFile(root, ".stage", "x")
    writeFile(root.resolve("_tmpdir"), "inside.txt", "x")

    val files = FsOps.listFiles(spark, root.toUri.toString).collect()
      .map(f => (f.relPath, f.size)).sortBy(_._1)
    assert(files.toSeq == Seq(("a.txt", 3L), ("sub/b.txt", 4L), ("sub/deep/c.txt", 1L)))
  }

  test("syncDir copies adds+updates, deletes extras, skips equal") {
    val src = tmpDir("sync-src")
    val dest = tmpDir("sync-dest")
    writeFile(src, "same.txt", "unchanged")
    writeFile(src, "changed.txt", "new-content")
    writeFile(src.resolve("sub"), "added.txt", "fresh")
    writeFile(dest, "same.txt", "unchanged")
    writeFile(dest, "changed.txt", "old")
    writeFile(dest, "extra.txt", "goes-away")

    val stats = CopyExec.syncDir(spark, src.toUri.toString, dest.toUri.toString)
    assert(stats.copied == 2, s"stats: $stats")
    assert(stats.deleted == 1)
    assert(Files.readString(dest.resolve("changed.txt")) == "new-content")
    assert(Files.readString(dest.resolve("sub").resolve("added.txt")) == "fresh")
    assert(!Files.exists(dest.resolve("extra.txt")))
    assert(CopyExec.equalDirs(spark, src.toUri.toString, dest.toUri.toString))

    // idempotent: second run copies nothing
    val stats2 = CopyExec.syncDir(spark, src.toUri.toString, dest.toUri.toString)
    assert(stats2.copied == 0 && stats2.deleted == 0)
  }

  test("checksum level detects and re-copies a same-size corrupted file") {
    val src = tmpDir("ck-src")
    val dest = tmpDir("ck-dest")
    writeFile(src, "data.txt", "correct!")
    writeFile(dest, "data.txt", "corrupt!") // same length, different bytes

    // size-only sync (default) cannot see the corruption
    val s1 = CopyExec.syncDir(spark, src.toUri.toString, dest.toUri.toString)
    assert(s1.copied == 0)
    assert(Files.readString(dest.resolve("data.txt")) == "corrupt!")

    // checksum level re-copies the corrupt file, skips once converged
    val s2 = CopyExec.syncDir(spark, src.toUri.toString, dest.toUri.toString,
      verifyChecksum = true)
    assert(s2.copied == 1, s"stats: $s2")
    assert(Files.readString(dest.resolve("data.txt")) == "correct!")
    val s3 = CopyExec.syncDir(spark, src.toUri.toString, dest.toUri.toString,
      verifyChecksum = true)
    assert(s3.copied == 0 && s3.skipped == 1)
  }

  test("equalDirs detects size mismatch and missing files") {
    val a = tmpDir("eq-a")
    val b = tmpDir("eq-b")
    writeFile(a, "f.txt", "12345")
    writeFile(b, "f.txt", "12345")
    assert(CopyExec.equalDirs(spark, a.toUri.toString, b.toUri.toString))
    writeFile(b, "f.txt", "123")
    assert(!CopyExec.equalDirs(spark, a.toUri.toString, b.toUri.toString))
    writeFile(b, "f.txt", "12345")
    writeFile(b, "g.txt", "x")
    assert(!CopyExec.equalDirs(spark, a.toUri.toString, b.toUri.toString))
  }

  test("copyOne: a vanished source fails without a trailing backoff " +
      "and leaves no staging file") {
    val src = tmpDir("vanish-src")
    val dest = tmpDir("vanish-dest")
    writeFile(src, "gone.txt", "abc")
    Files.delete(src.resolve("gone.txt"))
    val conf = new Configuration()
    val fs = new org.apache.hadoop.fs.Path(dest.toUri).getFileSystem(conf)
    val t0 = System.nanoTime()
    val r = CopyExec.copyOnePublic(fs, conf, src.toUri.toString, dest.toUri.toString,
      FileEntry(src.toUri.toString, "gone.txt", 3L, 0L))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r.status.startsWith("FAILED"), s"result: $r")
    assert(r.bytes == 0L)
    // backoff runs between the 3 attempts only (2 s + 4 s); a sleep after
    // the final attempt would add another 8 s
    assert(secs < 10.0, f"failed copy took $secs%.1f s")
    val staging = dest.resolve(".graft-tmp")
    assert(!Files.exists(staging) || tree(staging).isEmpty)
  }

  test("driver-side and distributed sync agree: stats, dest tree, equalDirs") {
    val cases: Seq[(String, (String, String, Long) => SyncStats, SyncStats)] = Seq(
      ("default",
        (s, d, lim) => CopyExec.syncDir(spark, s, d, localCopyFiles = lim),
        SyncStats(copied = 2, skipped = 0, deleted = 1, bytesCopied = 16)),
      ("keep-extra",
        (s, d, lim) => CopyExec.syncDir(spark, s, d, deleteExtra = false,
          localCopyFiles = lim),
        SyncStats(copied = 2, skipped = 0, deleted = 0, bytesCopied = 16)),
      ("checksum",
        (s, d, lim) => CopyExec.syncDir(spark, s, d, verifyChecksum = true,
          localCopyFiles = lim),
        SyncStats(copied = 3, skipped = 1 + PadFiles, deleted = 1, bytesCopied = 24)))
    cases.foreach { case (name, sync, expected) =>
      // the same 120-file tree twice: the default bound sends it to Spark;
      // syncDir's own localCopyFiles raised past its size keeps it on the
      // driver
      val (s1, d1) = syncFixture(s"par-$name-dist", pad = true)
      val (s2, d2) = syncFixture(s"par-$name-local", pad = true)
      val (dist, distJobs) = jobsStartedBy(
        sync(s1.toUri.toString, d1.toUri.toString, CopyExec.LocalCopyFiles))
      val (local, localJobs) = jobsStartedBy(
        sync(s2.toUri.toString, d2.toUri.toString, Long.MaxValue))
      assert(distJobs > 0, s"$name: a tree over the bound must run distributed")
      assert(localJobs == 0, s"$name: $localJobs jobs on the driver path")
      assert(dist == expected, s"$name: distributed $dist")
      assert(local == expected, s"$name: driver-side $local")
      assert(tree(d1) == tree(d2), s"$name: destination trees differ")
      assert(Files.readString(d1.resolve("corrupt.txt")) ==
        (if (name == "checksum") "correct!" else "corrupt!"))
      assert(Files.exists(d1.resolve("gone/extra.txt")) == (name == "keep-extra"))
      assert(Files.readString(d1.resolve("_dest_marker")) == "keep")
      assert(!Files.exists(d1.resolve("_SUCCESS")) && !Files.exists(d1.resolve(".graft-tmp")))

      // equalDirs: the 120-file tree compares in Spark, the same tree
      // without the pad (under the bound) on the driver; same answers
      // before and after the sync
      val (s3, d3) = syncFixture(s"par-$name-small", pad = false)
      def eq(s: Path, d: Path, expectJobs: Boolean): Boolean = {
        val (r, jobs) = jobsStartedBy(CopyExec.equalDirs(spark, s.toUri.toString,
          d.toUri.toString))
        assert((jobs > 0) == expectJobs, s"$name: equalDirs ran $jobs jobs")
        r
      }
      val (s4, d4) = syncFixture(s"par-$name-big", pad = true)
      assert(!eq(s3, d3, expectJobs = false) && !eq(s4, d4, expectJobs = true))
      sync(s3.toUri.toString, d3.toUri.toString, CopyExec.LocalCopyFiles)
      sync(s4.toUri.toString, d4.toUri.toString, CopyExec.LocalCopyFiles)
      val after = eq(s3, d3, expectJobs = false)
      assert(after == eq(s4, d4, expectJobs = true))
      // size-level equality: the extra file left behind is the only gap
      assert(after == (name != "keep-extra"), s"$name: equalDirs after sync")
    }
  }

  test("a 2-file partition copies and compares with zero Spark jobs") {
    val srcWh = tmpDir("nojobs-src-wh")
    val destWh = tmpDir("nojobs-dest-wh")
    val destConn = freshCatalog("nojobs-dest")
    val c = TaskContext(spark, destConn.connect(),
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"))
    val t = partitionedTable("db1", "small_t", srcWh)
    val p = partition(t, "ds=1/hr=1")
    val destLoc = c.destLocation(p.location)

    val (outcome, copyJobs) = jobsStartedBy(Tasks.copyPartition(c, t, p))
    assert(outcome == Tasks.Done)
    assert(copyJobs == 0, s"copyPartition started $copyJobs Spark jobs")
    assert(destConn.connect().getPartition("db1", "small_t", "ds=1/hr=1").isDefined)
    val (equal, eqJobs) = jobsStartedBy(CopyExec.equalDirs(spark, p.location, destLoc))
    assert(equal && eqJobs == 0, s"equalDirs: $equal after $eqJobs jobs")
    val destDir = java.nio.file.Paths.get(java.net.URI.create(destLoc))
    assert(tree(destDir).filterNot(f => FsOps.isHidden(f._1)) ==
      Seq(("file1.txt", "foobar"), ("file2.txt", "123")))

    // a tree at the bound still goes through Spark
    val big = tmpDir("nojobs-big")
    (0 until CopyExec.LocalCopyFiles.toInt).foreach(i =>
      writeFile(big.resolve(s"d${i % 10}"), s"f$i.txt", "x"))
    val bigDest = tmpDir("nojobs-big-dest")
    val (stats, syncJobs) = jobsStartedBy(
      CopyExec.syncDir(spark, big.toUri.toString, bigDest.toUri.toString))
    assert(stats.copied == CopyExec.LocalCopyFiles && syncJobs > 0,
      s"$stats after $syncJobs jobs")
    val (bigEqual, bigEqJobs) = jobsStartedBy(
      CopyExec.equalDirs(spark, big.toUri.toString, bigDest.toUri.toString))
    assert(bigEqual && bigEqJobs > 0, s"equalDirs: $bigEqual after $bigEqJobs jobs")
  }
}
