package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.catalog.{CatalogClient, CatalogConnector}
import graft.model.{PartitionMeta, TableMeta}

/** One recorded span: a timed call into a layer's public entry point. */
final case class Span(name: String, traceId: Long, id: Long, parent: Long,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Spans are opened only from the benchmark's
 * driver thread (the calls into the program are made there), so a plain
 * stack tracks the parent. A disabled tracer runs the body and records
 * nothing, so untraced rounds pay no tracing cost.
 */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 0L
  private var traceId = 0L

  /** Start a new trace: spans opened from here on share a fresh id. */
  def newTrace(): Unit = traceId += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(name, traceId, id, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Seconds per span name inside one trace, summed over its spans. */
  def secondsIn(trace: Long): Map[String, Double] =
    done.filter(_.traceId == trace).groupMapReduce(_.name)(_.seconds)(_ + _)

  def currentTrace: Long = traceId

  /** Self time per span name: each span's duration minus the time its
    * direct children cover (children of one parent run one after another
    * on the driver thread, so their durations do not overlap). */
  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    done.groupMapReduce(_.name)(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)(_ + _)
  }
}

/**
 * Spark work counters from listener events. Jobs tagged with the marker
 * property are the benchmark's own flush jobs: they are not counted, and
 * waiting for a marker job's end event proves that every event posted
 * before it has reached this listener (the listener bus is FIFO).
 */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runTimeMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  private val markerStages = TrieMap.empty[Int, Unit]
  private val markerJobsEnded = new AtomicLong
  private val markerJobs = TrieMap.empty[Int, Unit]

  private def isMarker(props: java.util.Properties): Boolean =
    props != null && props.getProperty(SparkCounters.MarkerKey) != null

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (isMarker(e.properties)) {
      markerJobs.put(e.jobId, ())
      e.stageIds.foreach(markerStages.put(_, ()))
    } else jobs.incrementAndGet()

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId).isDefined) markerJobsEnded.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!markerStages.contains(e.stageId)) {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runTimeMs.addAndGet(m.executorRunTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

  /** Run one tagged job and wait until its end event has been delivered. */
  def flush(sc: SparkContext): Unit = {
    val target = markerJobsEnded.get() + 1
    sc.setLocalProperty(SparkCounters.MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SparkCounters.MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (markerJobsEnded.get() < target && System.nanoTime() < deadline)
      Thread.sleep(1)
  }

  def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_busy_s" -> runTimeMs.get / 1e3,
    "spark.shuffle_write_mb" -> shuffleWriteBytes.get / 1e6)
}

object SparkCounters {
  val MarkerKey = "perfbench.marker"
}

/** Catalog call counters, kept per connector id in a JVM-wide map so
  * clients that executor threads open (local mode) count into the same
  * place as the driver's. */
final class CatalogCounters {
  val calls = new AtomicLong
  val writes = new AtomicLong
  val busyNs = new AtomicLong
}

object CatalogCounters {
  private val byId = TrieMap.empty[String, CatalogCounters]
  def apply(id: String): CatalogCounters =
    byId.getOrElseUpdate(id, new CatalogCounters)

  /** Totals over every counted connector. */
  def snapshot(): Map[String, Double] = {
    val all = byId.values
    Map(
      "catalog.calls" -> all.map(_.calls.get).sum.toDouble,
      "catalog.writes" -> all.map(_.writes.get).sum.toDouble,
      "catalog.busy_s" -> all.map(_.busyNs.get).sum / 1e9)
  }
}

/** Decorator that counts every catalog call made through `inner`. */
final case class CountingConnector(inner: CatalogConnector, id: String)
    extends CatalogConnector {
  def connect(): CatalogClient = new CountingClient(inner.connect(), CatalogCounters(id))
  override def executorSafe: Boolean = inner.executorSafe
}

final class CountingClient(u: CatalogClient, c: CatalogCounters) extends CatalogClient {
  private def read[A](f: => A): A = {
    c.calls.incrementAndGet()
    val t0 = System.nanoTime()
    try f finally c.busyNs.addAndGet(System.nanoTime() - t0)
  }
  private def write[A](f: => A): A = { c.writes.incrementAndGet(); read(f) }

  def listDatabases(): Seq[String] = read(u.listDatabases())
  def createDatabase(db: String): Unit = write(u.createDatabase(db))
  def listTables(db: String): Seq[String] = read(u.listTables(db))
  def getTable(db: String, table: String): Option[TableMeta] = read(u.getTable(db, table))
  def createTable(t: TableMeta): Unit = write(u.createTable(t))
  def alterTable(db: String, table: String, t: TableMeta): Unit =
    write(u.alterTable(db, table, t))
  def dropTable(db: String, table: String): Unit = write(u.dropTable(db, table))
  def listPartitionNames(db: String, table: String): Seq[String] =
    read(u.listPartitionNames(db, table))
  def getPartition(db: String, table: String, partName: String): Option[PartitionMeta] =
    read(u.getPartition(db, table, partName))
  def addPartition(p: PartitionMeta): Unit = write(u.addPartition(p))
  def alterPartition(p: PartitionMeta): Unit = write(u.alterPartition(p))
  def dropPartition(db: String, table: String, partName: String): Unit =
    write(u.dropPartition(db, table, partName))
  def renamePartition(db: String, table: String, from: String, to: PartitionMeta): Unit =
    write(u.renamePartition(db, table, from, to))
}

/** JVM-level readings from the platform MXBeans. */
object Jvm {
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /**
   * Memory the program holds, in MB: live heap after full collections,
   * plus non-heap (metaspace, code cache) and NIO direct and mapped
   * buffers. Collecting makes the figure independent of when the
   * collector last ran and of how far it has grown the heap. Spark frees
   * the blocks of broadcasts and shuffles that a collection found
   * unreachable on its cleaner thread afterwards, so collections repeat
   * until the live heap stops shrinking.
   */
  def retainedMb(): Double = {
    import java.lang.management.{BufferPoolMXBean, ManagementFactory}
    import scala.jdk.CollectionConverters._
    val mem = ManagementFactory.getMemoryMXBean
    def liveHeap(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var before = Long.MaxValue
    var after = liveHeap()
    var collections = 1
    while (after < before - (1L << 20) && collections < 5) {
      Thread.sleep(200)
      before = after
      after = liveHeap()
      collections += 1
    }
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    (after + mem.getNonHeapMemoryUsage.getUsed + buffers) / (1024.0 * 1024.0)
  }
}
