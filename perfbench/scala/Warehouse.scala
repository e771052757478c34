package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.catalog.CatalogClient
import graft.model.{ColumnMeta, PartitionMeta, TableMeta}

/** Local file helpers shared by the generators and the checks. */
object Fs {
  def uri(p: Path): String = p.toAbsolutePath.toUri.toString.stripSuffix("/")

  /** Write `size` bytes whose content depends on `tag`. */
  def writeFile(p: Path, size: Int, tag: Long): Unit = {
    Files.createDirectories(p.getParent)
    val b = new Array[Byte](size)
    var i = 0
    var x = tag * 0x9E3779B97F4A7C15L + 1
    while (i < size) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      b(i) = x.toByte
      i += 1
    }
    Files.write(p, b)
  }

  private def hidden(name: String): Boolean = name.startsWith(".") || name.startsWith("_")

  /** Visible regular files under `dir` as relPath -> size (empty when the
    * directory does not exist); hidden names are skipped at every level. */
  def listTree(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => dir.relativize(p))
        .filter(rel => !rel.iterator().asScala.exists(c => hidden(c.toString)))
        .map(rel => rel.toString -> Files.size(dir.resolve(rel)))
        .toMap
      finally s.close()
    }

  /** Bytes written so far through Hadoop's local file system, by every
    * thread of this JVM (driver and local-mode executors), checksum files
    * included. The benchmark's own files are written with java.nio, so
    * they are not counted. */
  @annotation.nowarn("cat=deprecation")
  def hadoopBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Differences between two relPath -> size maps, at most `limit`. */
  def diff(what: String, got: Map[String, Long], want: Map[String, Long],
      limit: Int = 3): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted
      .filter(k => got.get(k) != want.get(k)).take(limit)
      .map(k => s"$what: $k has ${got.get(k)}, expected ${want.get(k)}")
}

final case class PartModel(name: String, tldt: Long, files: Map[String, Long])

/** Generator-side truth about one table. `dir` is fixed at creation, so a
  * renamed table keeps its directory, as an external table does. */
final class TableModel(val db: String, var name: String, val dir: String,
    val partitioned: Boolean, var tldt: Long, var files: Map[String, Long]) {
  val parts = mutable.TreeMap.empty[String, PartModel]
  var nextPart = 0
}

/**
 * A seeded source warehouse: files on local disk plus the catalog objects
 * that describe them, and the model the checks compare the destination
 * against. Each data directory holds `filesPerDir` small files; a rewrite
 * keeps the file names and changes every size, as an overwrite does.
 */
final class Warehouse(val srcDir: Path, val destDir: Path, filesPerDir: Int,
    minBytes: Int, maxBytes: Int) {
  val srcRoot: String = Fs.uri(srcDir)
  val destRoot: String = Fs.uri(destDir)
  val tables = mutable.TreeMap.empty[(String, String), TableModel]
  private var clock = 1700000000L
  private var fileTag = 0L
  private var tableSeq = 0

  private def tick(): Long = { clock += 1; clock }

  def objects: Long = tables.size.toLong + tables.values.map(_.parts.size).sum

  private def tableLoc(root: String, t: TableModel) = s"$root/${t.db}/${t.dir}"
  private def partLoc(root: String, t: TableModel, p: String) = s"${tableLoc(root, t)}/$p"

  def tableMeta(t: TableModel): TableMeta = TableMeta(t.db, t.name,
    tableLoc(srcRoot, t), "parquet",
    Seq(ColumnMeta("id", "bigint"), ColumnMeta("payload", "string")),
    if (t.partitioned) Seq(ColumnMeta("ds", "string")) else Seq.empty,
    Map(TableMeta.Tldt -> t.tldt.toString))

  def partMeta(t: TableModel, p: PartModel): PartitionMeta = PartitionMeta(
    t.db, t.name, p.name, partLoc(srcRoot, t, p.name),
    Map(TableMeta.Tldt -> p.tldt.toString))

  private def dirPath(t: TableModel, part: Option[String]): Path = {
    val d = srcDir.resolve(t.db).resolve(t.dir)
    part.fold(d)(d.resolve)
  }

  /** Relative data directory of a table or partition (same under both roots). */
  def relDir(t: TableModel, part: Option[String]): String =
    s"${t.db}/${t.dir}" + part.fold("")("/" + _)

  /** Write a data directory: same names as `old`, every size different. */
  private def writeDir(dir: Path, old: Map[String, Long], rng: Random): Map[String, Long] =
    (0 until filesPerDir).map { i =>
      val name = f"part-$i%05d"
      var size = minBytes + rng.nextInt(maxBytes - minBytes)
      if (old.get(name).contains(size.toLong)) size += 1
      fileTag += 1
      Fs.writeFile(dir.resolve(name), size, fileTag)
      name -> size.toLong
    }.toMap

  def createTable(cat: CatalogClient, db: String, partitioned: Boolean,
      nParts: Int, rng: Random): TableModel = {
    tableSeq += 1
    val name = f"t$tableSeq%04d"
    val t = new TableModel(db, name, name, partitioned, tick(), Map.empty)
    if (!partitioned) t.files = writeDir(dirPath(t, None), Map.empty, rng)
    Files.createDirectories(dirPath(t, None))
    tables((db, name)) = t
    cat.createTable(tableMeta(t))
    (0 until nParts).foreach(_ => addPartition(cat, t, rng))
    t
  }

  def addPartition(cat: CatalogClient, t: TableModel, rng: Random): PartModel = {
    val name = f"ds=${t.nextPart}%05d"
    t.nextPart += 1
    val p = PartModel(name, tick(), writeDir(dirPath(t, Some(name)), Map.empty, rng))
    t.parts(name) = p
    cat.addPartition(partMeta(t, p))
    p
  }

  def rewritePartition(cat: CatalogClient, t: TableModel, name: String,
      rng: Random): PartModel = {
    val old = t.parts(name)
    val p = PartModel(name, tick(), writeDir(dirPath(t, Some(name)), old.files, rng))
    t.parts(name) = p
    cat.alterPartition(partMeta(t, p))
    p
  }

  /** Drop a partition; its source files go with it, as for a managed table. */
  def dropPartition(cat: CatalogClient, t: TableModel, name: String): Unit = {
    t.parts.remove(name)
    cat.dropPartition(t.db, t.name, name)
    Fs.deleteTree(dirPath(t, Some(name)))
  }

  def dropTable(cat: CatalogClient, t: TableModel): Unit = {
    tables.remove((t.db, t.name))
    cat.dropTable(t.db, t.name)
    Fs.deleteTree(dirPath(t, None))
  }

  def renameTable(cat: CatalogClient, t: TableModel): Unit = {
    val from = t.name
    tableSeq += 1
    tables.remove((t.db, from))
    t.name = f"t$tableSeq%04d"
    t.tldt = tick()
    tables((t.db, t.name)) = t
    cat.alterTable(t.db, from, tableMeta(t))
  }

  /** Write the converged destination directly from the model: every data
    * file copied under the destination root, every catalog object created
    * at its destination location. */
  def mirror(dest: CatalogClient): Unit = tables.values.foreach { t =>
    val meta = tableMeta(t)
    dest.createTable(meta.copy(location = tableLoc(destRoot, t)))
    val dirs =
      if (t.partitioned) t.parts.values.map { p =>
        dest.addPartition(partMeta(t, p).copy(location = partLoc(destRoot, t, p.name)))
        relDir(t, Some(p.name)) -> p.files
      } else Seq(relDir(t, None) -> t.files)
    for ((rel, files) <- dirs; name <- files.keys) {
      val to = destDir.resolve(rel).resolve(name)
      Files.createDirectories(to.getParent)
      Files.copy(srcDir.resolve(rel).resolve(name), to)
    }
  }

  /**
   * Compare a destination catalog with the model: the same tables and
   * partitions, each at its source location moved under the destination
   * root, with the source's schema and modified-time; and for every data
   * directory in `dirs`, the destination holds the model's files by
   * relative path and size.
   */
  def check(dest: CatalogClient, dirs: Iterable[(String, Map[String, Long])]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val got = dest.listDatabases().flatMap(db => dest.listTables(db).map(db -> _)).toSet
    val want = tables.keySet.toSet
    (got -- want).take(3).foreach(k => errs += s"dest has extra table $k")
    (want -- got).take(3).foreach(k => errs += s"dest lacks table $k")
    for (((db, name), t) <- tables if got.contains((db, name)); dt <- dest.getTable(db, name)) {
      val exp = tableMeta(t)
      if (dt.location != tableLoc(destRoot, t)) errs += s"$db.$name location ${dt.location}"
      if (dt.cols != exp.cols || dt.partitionKeys != exp.partitionKeys)
        errs += s"$db.$name schema differs"
      if (dt.parameters.get(TableMeta.Tldt) != Some(t.tldt.toString))
        errs += s"$db.$name tldt ${dt.parameters.get(TableMeta.Tldt)} != ${t.tldt}"
      if (t.partitioned) {
        val names = dest.listPartitionNames(db, name).toSet
        if (names != t.parts.keySet.toSet)
          errs += s"$db.$name partitions differ: extra ${(names -- t.parts.keySet).take(3)} " +
            s"missing ${(t.parts.keySet.toSet -- names).take(3)}"
        for ((pn, p) <- t.parts if names.contains(pn); dp <- dest.getPartition(db, name, pn)) {
          if (dp.location != partLoc(destRoot, t, pn)) errs += s"$db.$name/$pn location ${dp.location}"
          if (dp.parameters.get(TableMeta.Tldt) != Some(p.tldt.toString))
            errs += s"$db.$name/$pn tldt ${dp.parameters.get(TableMeta.Tldt)} != ${p.tldt}"
        }
      }
    }
    for ((rel, files) <- dirs) errs ++= Fs.diff(rel, Fs.listTree(destDir.resolve(rel)), files)
    errs.take(10).toSeq
  }

  /** Every live data directory with its model files. */
  def allDirs: Seq[(String, Map[String, Long])] = tables.values.toSeq.flatMap { t =>
    if (t.partitioned) t.parts.values.map(p => relDir(t, Some(p.name)) -> p.files)
    else Seq(relDir(t, None) -> t.files)
  }
}
