package graft.model

/**
 * Core data model of the engine — the typed IR every operator works over.
 *
 * Mirrors the reference's fundamental abstractions (see SURVEY.md §1.1):
 *  - `ObjectSpec`   ⇐ reference `utils/src/main/java/com/airbnb/reair/common/HiveObjectSpec.java:9-76`
 *  - `TableMeta`    ⇐ Thrift `Table` fields the reference actually compares
 *                     (`main/src/main/java/com/airbnb/reair/incremental/ReplicationUtils.java:48-66`)
 *  - `PartitionMeta`⇐ Thrift `Partition` (values, location, parameters)
 *  - `FileEntry`    ⇐ `utils/src/main/java/com/airbnb/reair/common/FsUtils.java:124-188`
 *  - `Action`       ⇐ `TaskEstimate` ⊗ spec rows passed between batch stages
 *                     (`main/.../incremental/primitives/TaskEstimate.java:12-49`)
 *  - `AuditLogEntry`⇐ `main/.../incremental/auditlog/AuditLogEntry.java:13-66`
 *  - `JobState`     ⇐ `main/.../incremental/db/PersistedJobInfo.java:22-120`
 *
 * All types are flat case classes with Spark-encodable fields so each one is
 * a `Dataset[T]` row type; at 100 TB these datasets stay distributed
 * end-to-end (the driver only ever sees aggregated summaries).
 */
final case class ObjectSpec(
    db: String,
    table: String,
    partition: Option[String]) {
  def isPartition: Boolean = partition.isDefined
  /** `db.table` or `db.table/ds=1/hr=2` — reference HiveObjectSpec.toString. */
  def render: String = partition match {
    case Some(p) => s"$db.$table/$p"
    case None    => s"$db.$table"
  }
  def tableSpec: ObjectSpec = copy(partition = None)
}

object ObjectSpec {
  def table(db: String, table: String): ObjectSpec = ObjectSpec(db, table, None)
  def part(db: String, table: String, partName: String): ObjectSpec =
    ObjectSpec(db, table, Some(partName))
  /** Parse `db.table[/partName]`. */
  def parse(s: String): ObjectSpec = {
    val slash = s.indexOf('/')
    val (dbTable, part) =
      if (slash < 0) (s, None) else (s.substring(0, slash), Some(s.substring(slash + 1)))
    val dot = dbTable.indexOf('.')
    require(dot > 0, s"bad object spec: $s")
    ObjectSpec(dbTable.substring(0, dot), dbTable.substring(dot + 1), part)
  }
}

/** Table metadata snapshot (the comparable subset of a Hive Thrift Table). */
final case class TableMeta(
    db: String,
    table: String,
    location: String,
    inputFormat: String,
    cols: Seq[ColumnMeta],
    partitionKeys: Seq[ColumnMeta],
    parameters: Map[String, String]) {
  def spec: ObjectSpec = ObjectSpec.table(db, table)
  def isPartitioned: Boolean = partitionKeys.nonEmpty
  /** Last-modified resolution: max(transient_lastDdlTime, lastModifiedTime).
    * Reference `ReplicationUtils.getLastModifiedTime`
    * (`incremental/ReplicationUtils.java:502-572`). */
  def lastModified: Long = TableMeta.lastModified(parameters)
}

object TableMeta {
  val Tldt = "transient_lastDdlTime"
  val Tlmt = "last_modified_time"
  val SrcCluster = "graft.srcCluster"
  def lastModified(parameters: Map[String, String]): Long = {
    def asLong(k: String) = parameters.get(k).flatMap(_.toLongOption).getOrElse(0L)
    math.max(asLong(Tldt), asLong(Tlmt))
  }
}

final case class ColumnMeta(name: String, dataType: String)

/** Partition metadata snapshot. */
final case class PartitionMeta(
    db: String,
    table: String,
    partName: String, // "ds=2024-01-01/hr=02"
    location: String,
    parameters: Map[String, String]) {
  def spec: ObjectSpec = ObjectSpec.part(db, table, partName)
  def values: Seq[String] = graft.model.PartitionName.values(partName)
  def lastModified: Long = TableMeta.lastModified(parameters)
}

/** Partition-name codec: `ds=1/hr=2` ⇄ values ⇄ map.
  * Reference `utils/common/HiveUtils.java:41-58`. */
object PartitionName {
  def values(partName: String): Seq[String] =
    partName.split('/').toSeq.map(_.split("=", 2).last)
  def toMap(partName: String): Map[String, String] =
    partName.split('/').iterator.map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }.toMap
  def render(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"$k=$v" }.mkString("/")
}

/** One file in a directory manifest; `relPath` is relative to the manifest
  * root so manifests of different roots join on it. */
final case class FileEntry(
    root: String,
    relPath: String,
    size: Long,
    mtime: Long)

/** Action types of the replication plan — reference
  * `incremental/primitives/TaskEstimate.java:14-23`. */
object TaskType {
  val CopyUnpartitionedTable = "COPY_UNPARTITIONED_TABLE"
  val CopyPartitionedTable   = "COPY_PARTITIONED_TABLE"
  val CopyPartition          = "COPY_PARTITION"
  val CopyPartitions         = "COPY_PARTITIONS" // bulk-compacted (ST8)
  val CopyCompleteTable      = "COPY_COMPLETE_TABLE" // T8: data + all partitions
  val DropTable              = "DROP_TABLE"
  val DropPartition          = "DROP_PARTITION"
  val RenameTable            = "RENAME_TABLE"
  val RenamePartition        = "RENAME_PARTITION"
  val NoOp                   = "NO_OP"
  val all: Seq[String] = Seq(CopyUnpartitionedTable, CopyPartitionedTable,
    CopyPartition, CopyPartitions, DropTable, DropPartition, RenameTable,
    RenamePartition, NoOp)
}

/** One row of the replication plan (the inter-stage IR, persisted as
  * Parquet between planning / data-move / commit phases). */
final case class Action(
    taskType: String,
    db: String,
    table: String,
    partName: Option[String],
    updateMetadata: Boolean,
    updateData: Boolean,
    srcPath: Option[String],
    destPath: Option[String]) {
  def spec: ObjectSpec = ObjectSpec(db, table, partName)
}

/** Audit-log CDC record after 1:N object assembly (SURVEY §2.1 S7/A6).
  * `serialized` carries the object's full metadata as JSON ([[MetaJson]]) —
  * the reference's Thrift-JSON payloads (`ReplicationUtils.java:76-85`),
  * which let a job replay without re-fetching from the source catalog
  * (e.g. a rename of an already-dropped source object). */
final case class AuditObject(
    category: String, // INPUT | OUTPUT | RENAME_FROM | REFERENCE_TABLE
    objectType: String, // TABLE | PARTITION | DATABASE | DFS_DIR | ...
    name: String,
    serialized: String)

final case class AuditLogEntry(
    id: Long,
    createTime: java.sql.Timestamp,
    commandType: String,
    command: String,
    outputTables: Seq[String],
    outputPartitions: Seq[String],
    renameFrom: Option[String],
    referenceTables: Seq[String],
    // serialized object payloads (F6); may be null when decoded from JSON
    // files that predate the field — read through objectsOrEmpty
    objects: Seq[AuditObject] = Seq.empty) {
  def objectsOrEmpty: Seq[AuditObject] = Option(objects).getOrElse(Seq.empty)
}

/**
 * F6 — object-metadata JSON codec: the engine's analog of the reference's
 * Thrift-JSON `Table`/`Partition` serialization
 * (`incremental/ReplicationUtils.java:76-85`, writer side
 * `hive-hooks/.../ObjectLogModule.java:268-312`). Jackson + its Scala
 * module ship with Spark.
 */
object MetaJson {
  private lazy val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    // derived getters (isPartitioned, lastModified) appear in the payload;
    // ignore them on read — constructor params are the source of truth
    m.configure(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  def writeTable(t: TableMeta): String = mapper.writeValueAsString(t)
  def readTable(s: String): TableMeta = mapper.readValue(s, classOf[TableMeta])
  def writePartition(p: PartitionMeta): String = mapper.writeValueAsString(p)
  def readPartition(s: String): PartitionMeta =
    mapper.readValue(s, classOf[PartitionMeta])
}

/** Persisted replication-job row — reference `PersistedJobInfo.java:22-120`,
  * status enum `create_tables.sql:2-27`. */
object JobStatus {
  val Pending        = "PENDING"
  val Running        = "RUNNING"
  val Successful     = "SUCCESSFUL"
  val Failed         = "FAILED"
  val NotCompletable = "NOT_COMPLETABLE"
  val Aborted        = "ABORTED"
  // terminal no-op under overwriteNewer=false (reference RunInfo's
  // DEST_IS_NEWER) — its own status so the state table / rollups show how
  // often the guard fires
  val DestNewer      = "DEST_IS_NEWER"

  /** Every status, in the order rollups (`/status`, statsd) list them. */
  val All: Seq[String] = Seq(Pending, Running, Successful, Failed,
    NotCompletable, Aborted, DestNewer)
}

object JobState {
  /** extras key carrying the F6 serialized object payload the job can
    * replay from when the source object is gone. */
  val SerializedMeta = "serialized_meta"
}

final case class JobState(
    id: Long,
    createTime: Long,
    operation: String,
    status: String,
    db: String,
    table: String,
    partitions: Seq[String],
    srcTldt: Option[Long],
    renameToDb: Option[String],
    renameToTable: Option[String],
    extras: Map[String, String])
