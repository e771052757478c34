package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InMemoryCatalog, InMemoryConnector}
import graft.model.{ColumnMeta, PartitionMeta, TableMeta}

/** Shared session + warehouse fixtures mirroring the reference's
  * `ReplicationTestUtils` (tables with one `key STRING` column, partition
  * keys `ds,hr`, files `file1.txt`="foobar", `file2.txt`="123" —
  * `utils/.../ReplicationTestUtils.java:60-230`, FIXTURES.md A1/A2). */
trait TestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestBase.spark

  def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  def writeFile(dir: Path, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), content)
  }

  /** Runs `body` and counts the Spark jobs it started. Jobs are matched by
    * a local property set on this thread (Spark carries it to the threads
    * a query spawns). Listener events arrive asynchronously but in order,
    * so a tagged sentinel job marks the point where every job `body`
    * started has been seen. */
  def jobsStartedBy[A](body: => A): (A, Int) = {
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

  /** Fresh in-memory catalog with a unique id. */
  def freshCatalog(name: String): InMemoryConnector = {
    val id = s"$name-${System.nanoTime()}"
    InMemoryCatalog.drop(id)
    InMemoryConnector(id)
  }

  def unpartitionedTable(db: String, table: String, warehouse: Path,
      tldt: Long = 1000L): TableMeta = {
    val loc = warehouse.resolve(db).resolve(table)
    writeFile(loc, "file1.txt", "foobar")
    writeFile(loc, "file2.txt", "123")
    TableMeta(db, table, loc.toUri.toString.stripSuffix("/"), "parquet",
      Seq(ColumnMeta("key", "string")), Seq.empty,
      Map(TableMeta.Tldt -> tldt.toString))
  }

  def partitionedTable(db: String, table: String, warehouse: Path,
      tldt: Long = 1000L): TableMeta = {
    val loc = warehouse.resolve(db).resolve(table)
    Files.createDirectories(loc)
    TableMeta(db, table, loc.toUri.toString.stripSuffix("/"), "parquet",
      Seq(ColumnMeta("key", "string")),
      Seq(ColumnMeta("ds", "string"), ColumnMeta("hr", "string")),
      Map(TableMeta.Tldt -> tldt.toString))
  }

  def partition(t: TableMeta, partName: String, tldt: Long = 1000L): PartitionMeta = {
    val loc = java.nio.file.Paths.get(java.net.URI.create(t.location + "/" + partName))
    writeFile(loc, "file1.txt", "foobar")
    writeFile(loc, "file2.txt", "123")
    PartitionMeta(t.db, t.table, partName, t.location + "/" + partName,
      Map(TableMeta.Tldt -> tldt.toString))
  }
}

object TestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.create(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
