package graft.hooks

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hive.metastore.MetaStoreEventListener
import org.apache.hadoop.hive.metastore.api.{Partition, Table}
import org.apache.hadoop.hive.metastore.events._

import graft.catalog.ThriftHmsCatalogClient.{fromThriftPartition, fromThriftTable}
import graft.incremental.AuditEntryWriter
import graft.model.PartitionName

/**
 * A REAL Hive `MetaStoreEventListener` — the server-side audit emitter
 * the reference deploys inside the metastore process (`hive-hooks/.../
 * MetastoreAuditLogListener.java:80-311`): DDL arriving over the Thrift
 * API from ANY client fires these events, so API-originated mutations
 * are audited at the source of truth rather than at one cooperating
 * client. This is the only emitter of `THRIFT_*` entries; the SQL-hook
 * vocabulary comes from [[graft.incremental.AuditLoggingCatalog]], and
 * [[graft.incremental.JobFactory]] routes both.
 *
 * Deploy by configuring the metastore with
 * `hive.metastore.event.listeners=graft.hooks.MetastoreAuditListener`
 * and setting [[MetastoreAuditListener.DirKey]] to the audit directory
 * the incremental server tails. The reference writes rows to MySQL; the
 * file-per-entry directory is this engine's audit-table stand-in
 * everywhere ([[AuditEntryWriter]]).
 *
 * Event → entry mapping follows the reference listener: one entry per
 * event, commandType `THRIFT_<EVENT>`, command text `THRIFT_API`
 * (`MetastoreAuditLogListener.java:311` — there is no SQL to log), the
 * changed object's full metadata riding along, and a rename surfacing
 * as THRIFT_ALTER_* whose old name ≠ new name (the router detects
 * renames exactly as `ReplicationJobFactory.java:599-607` does). An
 * API-side partition exchange reaches the listener as the metastore's
 * underlying drop+add event pair — there is no EXCHANGEPARTITION thrift
 * event.
 *
 * Failed operations (`event.getStatus == false`) are skipped: the 2.x
 * metastore only invokes non-transactional listeners after a successful
 * commit, but events are also constructible directly (tests, embedded
 * handlers), so the flag is honored rather than assumed.
 */
final class MetastoreAuditListener(conf: Configuration)
    extends MetaStoreEventListener(conf) {

  import MetastoreAuditListener._

  private val writer = new AuditEntryWriter(
    Option(conf.get(DirKey)).getOrElse(throw new IllegalArgumentException(
      s"$DirKey must be set to the audit directory the server tails")),
    conf.getLong(StartIdKey, 0L))

  private val cmd = Some(AuditEntryWriter.ThriftCommand)

  private def partName(table: Table, p: Partition): String =
    PartitionName.render(
      table.getPartitionKeys.asScala.toSeq.map(_.getName)
        .zip(p.getValues.asScala.toSeq))

  private def qualified(t: Table): String =
    s"${t.getDbName}.${t.getTableName}"

  override def onCreateTable(event: CreateTableEvent): Unit =
    if (event.getStatus) {
      val t = fromThriftTable(event.getTable)
      writer.emit("THRIFT_CREATE_TABLE",
        outputTables = Seq(qualified(event.getTable)),
        objects = Seq(AuditEntryWriter.tableObj(t)), command = cmd)
    }

  override def onDropTable(event: DropTableEvent): Unit =
    if (event.getStatus)
      writer.emit("THRIFT_DROP_TABLE",
        outputTables = Seq(qualified(event.getTable)), command = cmd)

  override def onAlterTable(event: AlterTableEvent): Unit =
    if (event.getStatus) {
      val oldName = qualified(event.getOldTable)
      val newName = qualified(event.getNewTable)
      writer.emit("THRIFT_ALTER_TABLE", outputTables = Seq(newName),
        renameFrom = if (oldName != newName) Some(oldName) else None,
        objects = Seq(AuditEntryWriter.tableObj(
          fromThriftTable(event.getNewTable))), command = cmd)
    }

  override def onAddPartition(event: AddPartitionEvent): Unit =
    if (event.getStatus) {
      // one entry for the whole event, like the reference (a bulk add is
      // ONE audit row whose write set is every added partition)
      val parts = event.getPartitionIterator.asScala.toSeq
        .map(p => fromThriftPartition(p, partName(event.getTable, p)))
      writer.emit("THRIFT_ADD_PARTITION",
        outputPartitions = parts.map(p => s"${p.db}.${p.table}/${p.partName}"),
        objects = parts.map(AuditEntryWriter.partObj), command = cmd)
    }

  override def onDropPartition(event: DropPartitionEvent): Unit =
    if (event.getStatus) {
      val names = event.getPartitionIterator.asScala.toSeq
        .map(p => s"${qualified(event.getTable)}/${partName(event.getTable, p)}")
      writer.emit("THRIFT_DROP_PARTITION", outputPartitions = names,
        command = cmd)
    }

  override def onAlterPartition(event: AlterPartitionEvent): Unit =
    if (event.getStatus) {
      // 2.3's event carries the table (the reference works around older
      // versions via getHandler().get_table — not needed here)
      val table = event.getTable
      val oldName = s"${qualified(table)}/${partName(table, event.getOldPartition)}"
      val p = fromThriftPartition(event.getNewPartition,
        partName(table, event.getNewPartition))
      val newName = s"${p.db}.${p.table}/${p.partName}"
      writer.emit("THRIFT_ALTER_PARTITION", outputPartitions = Seq(newName),
        renameFrom = if (oldName != newName) Some(oldName) else None,
        objects = Seq(AuditEntryWriter.partObj(p)), command = cmd)
    }

  override def onCreateDatabase(event: CreateDatabaseEvent): Unit =
    if (event.getStatus)
      writer.emit("THRIFT_CREATE_DATABASE", command = cmd)

  override def onDropDatabase(event: DropDatabaseEvent): Unit =
    if (event.getStatus)
      writer.emit("THRIFT_DROP_DATABASE", command = cmd)
}

object MetastoreAuditListener {
  /** Config key: directory the incremental server tails. */
  val DirKey = "graft.audit.dir"
  /** Config key: starting audit id (entries are `startId + n`). */
  val StartIdKey = "graft.audit.start.id"
}
