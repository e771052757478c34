package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration

import graft.batch.{BatchConfig, BatchReplication}
import graft.fs.{CopyExec, FsOps, SyncStats}
import graft.hdfs.{HdfsSync, HdfsSyncStats}
import graft.model.{Action, FileEntry, TaskType}
import graft.tasks.{TaskContext, Tasks}

/** Filesystem layer: listing (hidden-file filter, deep trees), sync copy
  * (add/update/delete, skip-equal), equalDirs — mirroring the reference's
  * FsUtils/DistCpWrapper contracts. */
class FsCopySpec extends TestBase {

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

  test("both listers return relative paths and sizes and skip hidden files") {
    val root = tmpDir("fs-list")
    writeFile(root, "a.txt", "aaa")
    writeFile(root.resolve("sub"), "b.txt", "bbbb")
    writeFile(root.resolve("sub").resolve("deep"), "c.txt", "c")
    writeFile(root, "_hidden.txt", "x")
    writeFile(root, ".stage", "x")
    writeFile(root.resolve("_tmpdir"), "inside.txt", "x")

    import spark.implicits._
    val r = root.toUri.toString
    val expected = Seq(("a.txt", 3L), ("sub/b.txt", 4L), ("sub/deep/c.txt", 1L))
    val bounded = FsOps.listBounded(new Configuration(), Seq(r), Long.MaxValue,
      Long.MaxValue).map(_(r).map(f => (f.relPath, f.size)).sortBy(_._1))
    assert(bounded.contains(expected), s"listBounded: $bounded")
    val distributed = FsOps.listDistributed(Seq((r, r)).toDS(), 4).collect()
      .map(l => (l.relPath, l.size)).sortBy(_._1).toSeq
    assert(distributed == expected, s"listDistributed: $distributed")
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
    val r = CopyExec.copyOne(fs, conf, src.toUri.toString, dest.toUri.toString,
      FileEntry(src.toUri.toString, "gone.txt", 3L, 0L), verifyChecksum = false)
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

    // a 2-partition T4 is one plan under the bound: it runs on the driver
    val parts = Seq("ds=2/hr=1", "ds=2/hr=2").map(partition(t, _))
    val (bulk, bulkJobs) = jobsStartedBy(Tasks.copyPartitions(c, t, parts))
    assert(bulk == Tasks.Done && bulkJobs == 0, s"copyPartitions: $bulk after $bulkJobs jobs")
    parts.foreach(p => assert(destConn.connect().getPartition("db1", "small_t", p.partName)
      .isDefined && CopyExec.equalDirs(spark, p.location, c.destLocation(p.location))))

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

  /** Writes `content` at `rel` under `root` with the given mtime. */
  private def put(root: Path, rel: String, content: String, mtime: Long): Unit = {
    val f = root.resolve(rel)
    writeFile(f.getParent, f.getFileName.toString, content)
    Files.setLastModifiedTime(f, FileTime.fromMillis(mtime))
  }

  /** Three source roots r0..r2 and a dest that exercise every HdfsSync
    * branch: a path whose latest version is in another root, an mtime tie
    * between r1 and r2 (the smaller root, r1, wins), adds, a size update, an
    * equal file, a dest-only file and hidden entries. With `pad`, r0 and the
    * dest share [[PadFiles]] equal files, so the sources cross the bound. */
  private def multiRootFixture(name: String, pad: Boolean): (Seq[String], Path) = {
    val base = tmpDir(s"$name-roots")
    val roots = (0 until 3).map(i => base.resolve(s"r$i"))
    val dest = tmpDir(s"$name-dest")
    val t0 = 1700000000000L
    put(roots(0), "both.txt", "old-version!", t0)
    put(roots(2), "both.txt", "newer", t0 + 60000)
    put(roots(1), "tie/t.txt", "from-r1", t0)
    put(roots(2), "tie/t.txt", "from-r2-longer", t0)
    put(roots(0), "only0.txt", "zero", t0)
    put(roots(2), "d/only2.txt", "two", t0)
    put(roots(1), "upd.txt", "updated-content", t0)
    put(dest, "upd.txt", "stale", t0)
    put(roots(0), "same.txt", "same", t0)
    put(dest, "same.txt", "same", t0)
    put(dest, "gone/extra.txt", "goes-away", t0)
    put(roots(1), "_SUCCESS", "", t0)
    put(dest, ".staging/f.txt", "keep", t0)
    if (pad) (0 until PadFiles).foreach { i =>
      put(roots(0), s"pad/p${i % 4}/f$i.txt", "x" * (i % 9), t0)
      put(dest, s"pad/p${i % 4}/f$i.txt", "x" * (i % 9), t0)
    }
    (roots.map(_.toUri.toString), dest)
  }

  test("HdfsSync: driver-side and distributed runs agree, mtime ties included") {
    val onDriver = CopyExec.Bound(Long.MaxValue, Long.MaxValue)
    Seq((Set("a", "u", "d"), HdfsSyncStats(added = 4, updated = 1, deleted = 1)),
        (Set("a"), HdfsSyncStats(added = 4, updated = 0, deleted = 0))).foreach {
      case (ops, expected) =>
        val name = ops.toSeq.sorted.mkString
        def run(fx: (Seq[String], Path), bound: CopyExec.Bound, dryRun: Boolean) =
          jobsStartedBy(HdfsSync.run(spark, fx._1, fx._2.toUri.toString, ops, dryRun,
            4, bound))
        // the same padded fixture twice: the default bound sends it to
        // Spark, a raised one keeps it on the driver
        val (fd, fl) = (multiRootFixture(s"hp-$name-dist", pad = true),
          multiRootFixture(s"hp-$name-local", pad = true))
        def plan(fx: (Seq[String], Path), bound: CopyExec.Bound) = {
          val ((actions, stats), jobs) = run(fx, bound, dryRun = true)
          assert(stats.isEmpty)
          (actions.collect().toSeq.map(a => a.copy(srcRoot =
            a.srcRoot.stripSuffix("/").split('/').last)).sortBy(_.relPath), jobs)
        }
        val (distPlan, _) = plan(fd, CopyExec.DefaultBound)
        val (localPlan, localPlanJobs) = plan(fl, onDriver)
        assert(localPlanJobs == 0, s"$name: dry run started $localPlanJobs jobs")
        assert(distPlan == localPlan, s"$name: plans differ")
        assert(localPlan.filter(_.relPath == "tie/t.txt").map(a => (a.op, a.srcRoot)) ==
          Seq(("ADD", "r1")), s"$name: $localPlan")

        val ((_, dist), distJobs) = run(fd, CopyExec.DefaultBound, dryRun = false)
        val ((_, local), localJobs) = run(fl, onDriver, dryRun = false)
        assert(distJobs > 0, s"$name: sources over the bound must run distributed")
        assert(localJobs == 0, s"$name: $localJobs jobs on the driver path")
        assert(dist.contains(expected), s"$name: distributed $dist")
        assert(local.contains(expected), s"$name: driver-side $local")
        assert(tree(fd._2) == tree(fl._2), s"$name: destination trees differ")
        val dest = fd._2
        assert(Files.readString(dest.resolve("tie/t.txt")) == "from-r1")
        assert(Files.readString(dest.resolve("both.txt")) == "newer")
        assert(Files.readString(dest.resolve("upd.txt")) ==
          (if (ops("u")) "updated-content" else "stale"))
        assert(Files.exists(dest.resolve("gone/extra.txt")) == !ops("d"))
        assert(Files.exists(dest.resolve(".staging/f.txt")))
        assert(!Files.exists(dest.resolve(".graft-tmp")))
        assert(!Files.exists(dest.resolve("_SUCCESS")))
    }
  }

  test("HdfsSync.run on a small tree starts zero Spark jobs") {
    val (roots, dest) = multiRootFixture("hp-small", pad = false)
    val ((actions, stats), jobs) = jobsStartedBy(
      HdfsSync.run(spark, roots, dest.toUri.toString, parallelism = 4))
    assert(jobs == 0, s"HdfsSync.run started $jobs Spark jobs")
    assert(stats.contains(HdfsSyncStats(added = 4, updated = 1, deleted = 1)))
    // the returned actions are the ones the run executed
    assert(actions.collect().map(_.op).sorted.toSeq ==
      Seq("ADD", "ADD", "ADD", "ADD", "DELETE", "UPDATE"))
    assert(!Files.exists(dest.resolve(".graft-tmp")))
  }

  /** Four partition dirs of one table; in each, the dest has an equal file,
    * a size-changed file and a dest-only file, and lacks an added one. The
    * plan parquet lists the four dirs as CopyPartition actions. With `pad`,
    * the dirs share [[PadFiles]] equal files, over the bound. */
  private def batchFixture(name: String, pad: Boolean): (BatchConfig, Path) = {
    import spark.implicits._
    val srcWh = tmpDir(s"$name-src-wh")
    val destWh = tmpDir(s"$name-dest-wh")
    val parts = (1 to 4).map(i => s"db/t/ds=$i")
    parts.zipWithIndex.foreach { case (p, i) =>
      writeFile(srcWh.resolve(p), "same.txt", "same")
      writeFile(destWh.resolve(p), "same.txt", "same")
      writeFile(srcWh.resolve(p), "changed.txt", "new-content" * (i + 1))
      writeFile(destWh.resolve(p), "changed.txt", "old")
      writeFile(srcWh.resolve(p), s"added$i.txt", "fresh")
      writeFile(destWh.resolve(p), "extra.txt", "goes-away")
      writeFile(srcWh.resolve(p), "_SUCCESS", "")
    }
    if (pad) (0 until PadFiles).foreach { i =>
      writeFile(srcWh.resolve(parts(i % 4)), s"f$i.txt", "x" * (i % 9))
      writeFile(destWh.resolve(parts(i % 4)), s"f$i.txt", "x" * (i % 9))
    }
    val cfg = BatchConfig(freshCatalog(s"$name-src"), freshCatalog(s"$name-dest"),
      srcWh.toUri.toString.stripSuffix("/"), destWh.toUri.toString.stripSuffix("/"),
      planDir = tmpDir(s"$name-plan").toUri.toString + "plan", copyParallelism = 4)
    parts.map(p => Action(TaskType.CopyPartition, "db", "t", Some(p.stripPrefix("db/t/")),
        updateMetadata = true, updateData = true, Some(s"${cfg.srcFsRoot}/$p"), None))
      .toDS().write.parquet(cfg.planDir)
    (cfg, destWh)
  }

  test("copyData: driver-side and distributed runs agree over several dirs") {
    val (cd, dd) = batchFixture("cp-dist", pad = true)
    val (cl, dl) = batchFixture("cp-local", pad = true)
    val (cu, du) = batchFixture("cp-units", pad = false)
    val (cs, ds) = batchFixture("cp-small", pad = false)
    val (dist, distJobs) = jobsStartedBy(
      BatchReplication.copyData(spark, cd, CopyExec.DefaultBound))
    val (local, localJobs) = jobsStartedBy(
      BatchReplication.copyData(spark, cl, CopyExec.Bound(Long.MaxValue, Long.MaxValue)))
    // more dirs than the bound allows files: distributed without a walk
    val (units, unitJobs) = jobsStartedBy(
      BatchReplication.copyData(spark, cu, CopyExec.Bound(3, Long.MaxValue)))
    val (small, smallJobs) = jobsStartedBy(BatchReplication.copyData(spark, cs))
    assert(Seq(dist, local, units, small) == Seq(8L, 8L, 8L, 8L))
    // the driver-side runs start only the jobs that read the plan parquet
    assert(localJobs < distJobs && smallJobs < unitJobs,
      s"jobs: distributed $distJobs / $unitJobs, driver-side $localJobs / $smallJobs")
    assert(tree(dd) == tree(dl), "padded destination trees differ")
    assert(tree(du) == tree(ds), "small destination trees differ")
    (1 to 4).foreach { i =>
      val dir = dd.resolve(s"db/t/ds=$i")
      assert(!Files.exists(dir.resolve("extra.txt")))
      assert(!Files.exists(dir.resolve(".graft-tmp")))
      assert(Files.readString(dir.resolve("changed.txt")) == "new-content" * i)
    }
  }
}
