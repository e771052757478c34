package graft.incremental

import graft.catalog.CatalogClient
import graft.model.{AuditObject, PartitionMeta, TableMeta}

/**
 * The audit-hook analog (reference `hive-hooks/`: CliAuditLogHook +
 * MetastoreAuditLogListener write CDC rows on every DDL/DML): a
 * CatalogClient decorator that emits one JSON audit entry per mutation
 * into a directory the incremental server tails ([[IncrementalServer.start]]).
 *
 * Entries are written file-per-entry (atomic create) in the
 * `AuditLogEntry` JSON schema, so src-side catalog mutations stream
 * straight into replication jobs — the full hooks → audit log → server
 * loop of the reference, with the file directory standing in for the
 * MySQL audit table.
 *
 * This is the SQL-hook shape (reference `CliAuditLogHook`): entries carry
 * Hive's command types and SQL text. DDL arriving through the metastore
 * API is audited by [[graft.hooks.MetastoreAuditListener]] instead, with
 * `THRIFT_*` command types; [[JobFactory]] routes both vocabularies.
 */
final class AuditLoggingCatalog(underlying: CatalogClient, auditDir: String,
    startId: Long = 0L) extends CatalogClient {

  private val writer = new AuditEntryWriter(auditDir, startId)

  private def emit(commandType: String, outputTables: Seq[String] = Seq.empty,
      outputPartitions: Seq[String] = Seq.empty,
      renameFrom: Option[String] = None,
      objects: Seq[AuditObject] = Seq.empty,
      command: Option[String] = None,
      referenceTables: Seq[String] = Seq.empty): Unit =
    writer.emit(commandType, outputTables, outputPartitions, renameFrom,
      objects, command, referenceTables)

  // ---- mutations emit audit entries --------------------------------------
  def createDatabase(db: String): Unit = {
    underlying.createDatabase(db)
    emit("CREATEDATABASE", command = Some(s"CREATE DATABASE $db"))
  }
  private def tableObj(t: TableMeta): AuditObject = AuditEntryWriter.tableObj(t)
  private def partObj(p: PartitionMeta): AuditObject = AuditEntryWriter.partObj(p)

  /** `ds=1/hr=2` → `ds='1', hr='2'` — the SQL partition-spec rendering
    * (single quotes doubled so values containing quotes stay parseable). */
  private def specSql(partName: String): String =
    partName.split('/').map { kv =>
      val Array(k, v) = kv.split("=", 2)
      s"$k='${v.replace("'", "''")}'"
    }.mkString(", ")

  def createTable(t: TableMeta): Unit = {
    underlying.createTable(t)
    emit("CREATETABLE", outputTables = Seq(s"${t.db}.${t.table}"),
      objects = Seq(tableObj(t)),
      command = Some(s"CREATE TABLE ${t.db}.${t.table}"))
  }
  def alterTable(db: String, table: String, t: TableMeta): Unit = {
    underlying.alterTable(db, table, t)
    val renamed = db != t.db || table != t.table
    if (renamed) {
      emit("ALTERTABLE_RENAME", outputTables = Seq(s"${t.db}.${t.table}"),
        renameFrom = Some(s"$db.$table"), objects = Seq(tableObj(t)),
        command = Some(s"ALTER TABLE $db.$table RENAME TO ${t.db}.${t.table}"))
    } else {
      emit("ALTERTABLE_PROPERTIES", outputTables = Seq(s"$db.$table"),
        objects = Seq(tableObj(t)),
        command = Some(s"ALTER TABLE $db.$table SET TBLPROPERTIES (...)"))
    }
  }
  def dropTable(db: String, table: String): Unit = {
    underlying.dropTable(db, table)
    emit("DROPTABLE", outputTables = Seq(s"$db.$table"),
      command = Some(s"DROP TABLE $db.$table"))
  }
  def addPartition(p: PartitionMeta): Unit = {
    underlying.addPartition(p)
    emit("QUERY", outputPartitions = Seq(s"${p.db}.${p.table}/${p.partName}"),
      objects = Seq(partObj(p)),
      command = Some(s"ALTER TABLE ${p.db}.${p.table} " +
        s"ADD PARTITION (${specSql(p.partName)})"))
  }
  def alterPartition(p: PartitionMeta): Unit = {
    underlying.alterPartition(p)
    emit("QUERY", outputPartitions = Seq(s"${p.db}.${p.table}/${p.partName}"),
      objects = Seq(partObj(p)),
      command = Some(s"INSERT OVERWRITE TABLE ${p.db}.${p.table} " +
        s"PARTITION (${specSql(p.partName)})"))
  }
  def dropPartition(db: String, table: String, partName: String): Unit = {
    underlying.dropPartition(db, table, partName)
    emit("ALTERTABLE_DROPPARTS",
      outputPartitions = Seq(s"$db.$table/$partName"),
      command = Some(s"ALTER TABLE $db.$table DROP PARTITION (${specSql(partName)})"))
  }
  def renamePartition(db: String, table: String, from: String,
      to: PartitionMeta): Unit = {
    underlying.renamePartition(db, table, from, to)
    emit("ALTERTABLE_RENAMEPART",
      outputPartitions = Seq(s"$db.$table/${to.partName}"),
      renameFrom = Some(s"$db.$table/$from"),
      objects = Seq(partObj(to)),
      command = Some(s"ALTER TABLE $db.$table PARTITION (${specSql(from)}) " +
        s"RENAME TO PARTITION (${specSql(to.partName)})"))
  }

  /** HIVE-12865 exchange: moves the partition out of `fromDb.fromTable`
    * into `to`'s table. The emitted entry deliberately carries NO
    * outputs — exactly like Hive's hook output for this command — so the
    * incremental server can only replicate it by parsing the command
    * text; the source table rides along as an input (REFERENCE_TABLE),
    * matching the reference's object logging
    * (`hive-hooks/.../ObjectLogModule.java:268-312`). */
  def exchangePartition(fromDb: String, fromTable: String,
      to: PartitionMeta): Unit = {
    underlying.dropPartition(fromDb, fromTable, to.partName)
    underlying.addPartition(to)
    emit("ALTERTABLE_EXCHANGEPARTITION",
      command = Some(s"ALTER TABLE ${to.db}.${to.table} " +
        s"EXCHANGE PARTITION (${specSql(to.partName)}) " +
        s"WITH TABLE $fromDb.$fromTable"),
      referenceTables = Seq(s"$fromDb.$fromTable"))
  }

  // ---- reads pass through -------------------------------------------------
  def listDatabases(): Seq[String] = underlying.listDatabases()
  def listTables(db: String): Seq[String] = underlying.listTables(db)
  def getTable(db: String, table: String): Option[TableMeta] =
    underlying.getTable(db, table)
  def listPartitionNames(db: String, table: String): Seq[String] =
    underlying.listPartitionNames(db, table)
  def getPartition(db: String, table: String, partName: String): Option[PartitionMeta] =
    underlying.getPartition(db, table, partName)
}
