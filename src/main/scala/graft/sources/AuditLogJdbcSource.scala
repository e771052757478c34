package graft.sources

import java.sql.DriverManager
import java.util

import scala.collection.JavaConverters._
import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.{AuditLogEntry, AuditObject}

/**
 * ST1 as a native Structured Streaming source: a DataSource-v2
 * `MicroBatchStream` over the JDBC audit log, with the monotonically
 * increasing entry `id` as the stream offset — exactly the shape SURVEY
 * §2.9 maps the reference's poll loop onto.
 *
 * Reference semantics carried over (`incremental/auditlog/AuditLogReader
 * .java:199-254`, `ReplicationServer.java:443-457`):
 *  - offsets are ids; a restart resumes from the checkpointed id (ST2 —
 *    Spark's commit log replaces the hand-rolled `last_persisted_id` KV);
 *  - SHOW-type/no-op command types are filtered in the pushed-down WHERE;
 *  - admission control caps ids per trigger (the reference's batch cap);
 *  - the 1:N `audit_objects` join is assembled per id range inside each
 *    partition reader (S7/A6), including serialized payloads (F6) when
 *    the table carries them.
 *
 * Scale shape: `planInputPartitions` splits each micro-batch's id range
 * into page-sized slices, one reader per slice, each with its own JDBC
 * connection on the executor — rows never funnel through the driver.
 *
 * Usage:
 * {{{
 *   spark.readStream.format("graft-audit-jdbc")
 *     .option("url", jdbcUrl).load().as[AuditLogEntry]
 * }}}
 */
class AuditLogJdbcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-audit-jdbc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AuditLogJdbc.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AuditLogJdbcTable(properties.asScala.toMap)
}

/**
 * The one audit-log reader (S6/S7/J6/A6, reference `incremental/auditlog/
 * AuditLogReader.java:199-412`); both JDBC tails read through it. The
 * driver-side poll loop ([[graft.incremental.IncrementalServer.pollJdbc]])
 * fetches one page per poll with [[fetchPage]]; the DSv2 stream above
 * fetches one id slice per partition reader with [[fetchRange]]. Both run
 * the same id-ordered query with SHOW* filtered and group the 1:N
 * `audit_objects` rows into one entry per id the same way; they differ
 * only in the upper id bound and the row cap. A page is O(`pageSize`)
 * rows, the reference's own fetch shape.
 *
 * The share-lock (`lockInShareMode`) is a MySQL-ism guarding against
 * reading rows whose sibling `audit_objects` inserts haven't committed;
 * without it the guarantee is that hooks insert objects before the log
 * row (the reference's hook transaction order).
 */
object AuditLogJdbc {
  val schema: StructType = ExpressionEncoder[AuditLogEntry]().schema

  /** Reader settings, shared by the poll loop and the stream. Table names
    * are spliced into SQL text (JDBC can't parameterize identifiers), so
    * they must be plain possibly-qualified identifiers: a quote in a
    * setting can't break out of the statement. */
  final case class Settings(
      url: String,
      auditTable: String = "audit_log",
      objectsTable: String = "audit_objects",
      pageSize: Int = 200,
      dropCommandTypes: Seq[String] =
        Seq("SHOWTABLES", "SHOWPARTITIONS", "SWITCHDATABASE"),
      // MySQL-only read consistency: page reads append LOCK IN SHARE MODE
      // so a half-committed hook transaction's rows are waited for instead
      // of skipped past, as the reference's AuditLogReader does. Off by
      // default: Derby/Postgres don't accept the syntax, and the
      // file/embedded deployments don't need it.
      lockInShareMode: Boolean = false) {
    requireIdent(auditTable, "auditTable")
    requireIdent(objectsTable, "objectsTable")
    require(pageSize > 0, s"graft-audit-jdbc: pageSize must be positive, got $pageSize")
  }

  private val IdentPattern = "[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*".r
  private def requireIdent(name: String, opt: String): Unit =
    if (!IdentPattern.pattern.matcher(name).matches())
      throw new IllegalArgumentException(
        s"graft-audit-jdbc: option '$opt' must be a plain identifier, got '$name'")

  /** The stream's settings: the reader's, plus the id a fresh checkpoint
    * starts after and the id span admitted per trigger. */
  final case class Options(reader: Settings, startId: Long, rowsPerTrigger: Long)

  def options(raw: Map[String, String]): Options = {
    // normalize: getTable receives the ORIGINAL-case option map
    // (CaseInsensitiveStringMap.asCaseSensitiveMap), so `.option("startId",
    // ...)` arrives camelCase — lowercase-only lookups silently miss it
    val m = raw.map { case (k, v) => k.toLowerCase -> v }
    val d = Settings(m.getOrElse("url",
      throw new IllegalArgumentException("graft-audit-jdbc requires 'url'")))
    Options(
      d.copy(
        auditTable = m.getOrElse("audittable", d.auditTable),
        objectsTable = m.getOrElse("objectstable", d.objectsTable),
        pageSize = m.get("pagesize").fold(d.pageSize)(_.toInt),
        dropCommandTypes =
          m.get("dropcommandtypes").fold(d.dropCommandTypes)(_.split(',').toSeq),
        lockInShareMode = m.get("lockinsharemode").fold(d.lockInShareMode)(_.toBoolean)),
      startId = m.get("startid").fold(0L)(_.toLong),
      rowsPerTrigger = m.get("rowspertrigger").fold(200L)(_.toLong))
  }

  def maxId(r: Settings): Long = {
    val conn = DriverManager.getConnection(r.url)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT MAX(id) FROM ${r.auditTable}")
      if (rs.next()) math.max(rs.getLong(1), 0L) else 0L
    } finally conn.close()
  }

  /** One poll: the first `pageSize` entries with `id > afterId`. */
  def fetchPage(r: Settings, afterId: Long): Seq[AuditLogEntry] =
    fetch(r, afterId, None, r.pageSize)

  /** One stream slice: every entry in (lo, hi]; runs inside a partition reader. */
  def fetchRange(r: Settings, lo: Long, hi: Long): Seq[AuditLogEntry] =
    fetch(r, lo, Some(hi), maxRows = 0)

  /** Entries with `id > lo` (and `<= hi` when given), SHOW* filtered, in id
    * order, at most `maxRows` of them (0: no cap), each with its objects. */
  private def fetch(r: Settings, lo: Long, hi: Option[Long],
      maxRows: Int): Seq[AuditLogEntry] = {
    val conn = DriverManager.getConnection(r.url)
    try {
      // command types come from a setting — bind them as parameters rather
      // than splicing quoted literals (table names are validated
      // identifiers; id bounds are longs, bound anyway for uniformity)
      val drops = r.dropCommandTypes.filter(_.nonEmpty)
      val upper = if (hi.isDefined) " AND id <= ?" else ""
      val notIn =
        if (drops.isEmpty) ""
        else s" AND command_type NOT IN (${Seq.fill(drops.size)("?").mkString(", ")})"
      val lock = if (r.lockInShareMode) "\nLOCK IN SHARE MODE" else ""
      val logPs = conn.prepareStatement(
        s"""SELECT id, create_time, command_type, command
           |FROM ${r.auditTable}
           |WHERE id > ?$upper$notIn
           |ORDER BY id""".stripMargin + lock)
      logPs.setMaxRows(maxRows)
      logPs.setLong(1, lo)
      hi.foreach(logPs.setLong(2, _))
      val firstDrop = if (hi.isDefined) 3 else 2
      drops.zipWithIndex.foreach { case (t, i) => logPs.setString(firstDrop + i, t) }
      val logRs = logPs.executeQuery()
      val heads = mutable.ArrayBuffer.empty[AuditLogEntry]
      while (logRs.next()) {
        heads += AuditLogEntry(
          id = logRs.getLong(1),
          createTime = logRs.getTimestamp(2),
          commandType = logRs.getString(3),
          command = logRs.getString(4),
          outputTables = Seq.empty, outputPartitions = Seq.empty,
          renameFrom = None, referenceTables = Seq.empty)
      }
      if (heads.isEmpty) return Seq.empty
      // cheap, dialect-portable probe (getColumns with null filters would
      // scan the whole catalog every page): an empty-result SELECT either
      // parses or throws on the missing column. Runs BEFORE the objects
      // query — autocommit drivers (Derby) close other statements' open
      // ResultSets when a new statement executes.
      val hasSerialized =
        try {
          conn.createStatement().executeQuery(
            s"SELECT serialized FROM ${r.objectsTable} WHERE 1 = 0")
          true
        } catch { case _: java.sql.SQLException => false }
      val serCol = if (hasSerialized) ", serialized" else ""
      // bounded by the last fetched id: objects past it belong to no
      // entry here (a filtered id, or the next page's)
      val objPs = conn.prepareStatement(
        s"""SELECT audit_log_id, category, object_type, name$serCol
           |FROM ${r.objectsTable}
           |WHERE audit_log_id > ? AND audit_log_id <= ?
           |ORDER BY audit_log_id, category, object_type, name""".stripMargin)
      objPs.setLong(1, lo)
      objPs.setLong(2, heads.last.id)
      val objRs = objPs.executeQuery()
      val objects = mutable.HashMap.empty[Long, mutable.ArrayBuffer[AuditObject]]
      while (objRs.next()) {
        val serialized =
          if (hasSerialized) Option(objRs.getString(5)).getOrElse("") else ""
        objects.getOrElseUpdate(objRs.getLong(1), mutable.ArrayBuffer.empty) +=
          AuditObject(objRs.getString(2), objRs.getString(3), objRs.getString(4),
            serialized)
      }
      heads.map(e => withObjects(e, objects.getOrElse(e.id, Nil).toSeq)).toSeq
    } finally conn.close()
  }

  /** S7/A6: route an entry's objects into its write set, its rename source
    * and its referenced tables; the objects ride along in key order. */
  private def withObjects(e: AuditLogEntry, objs: Seq[AuditObject]): AuditLogEntry = {
    def names(p: AuditObject => Boolean): Seq[String] =
      objs.filter(p).flatMap(o => Option(o.name)).sorted
    e.copy(
      outputTables = names(o => o.category == "OUTPUT" && o.objectType == "TABLE"),
      outputPartitions = names(o => o.category == "OUTPUT" && o.objectType == "PARTITION"),
      renameFrom = names(_.category == "RENAME_FROM").lastOption,
      referenceTables = names(_.category == "REFERENCE_TABLE"),
      objects = objs)
  }
}

final class AuditLogJdbcTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"graft-audit-jdbc:${props.getOrElse("url", "?")}"
  override def schema(): StructType = AuditLogJdbc.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = AuditLogJdbc.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new AuditLogMicroBatchStream(AuditLogJdbc.options(props))
      }
    }
}

/** Stream offset = highest audit id admitted so far. */
final case class IdOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

final class AuditLogMicroBatchStream(opts: AuditLogJdbc.Options)
    extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = IdOffset(opts.startId)
  override def deserializeOffset(json: String): Offset = IdOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(opts.rowsPerTrigger)

  /** Admission control over id ranges: ids are dense-enough that capping
    * the id span approximates the row cap (the reference caps entries per
    * poll the same way, `ReplicationServer.java:203-204`). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[IdOffset].id
    val max = AuditLogJdbc.maxId(opts.reader)
    val capped = limit match {
      case rl: ReadMaxRows => math.min(max, from + rl.maxRows())
      case _ => max
    }
    IdOffset(math.max(capped, from))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def reportLatestOffset(): Offset = IdOffset(AuditLogJdbc.maxId(opts.reader))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[IdOffset].id
    val hi = end.asInstanceOf[IdOffset].id
    if (hi <= lo) return Array.empty
    (lo until hi by opts.reader.pageSize.toLong)
      .map(p => IdRangePartition(p, math.min(p + opts.reader.pageSize, hi)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AuditRangeReaderFactory(opts.reader)
}

final case class IdRangePartition(lo: Long, hi: Long) extends InputPartition

final class AuditRangeReaderFactory(reader: AuditLogJdbc.Settings)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val range = partition.asInstanceOf[IdRangePartition]
    new PartitionReader[InternalRow] {
      private val serializer =
        ExpressionEncoder[AuditLogEntry]().resolveAndBind().createSerializer()
      private val it = AuditLogJdbc.fetchRange(reader, range.lo, range.hi).iterator
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = serializer(it.next()).copy(); true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
