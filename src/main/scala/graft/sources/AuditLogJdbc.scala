package graft.sources

import java.sql.DriverManager

import scala.collection.mutable

import graft.model.{AuditLogEntry, AuditObject}

/**
 * The audit-log reader (S6/S7/J6/A6, reference `incremental/auditlog/
 * AuditLogReader.java:199-412`) behind the JDBC audit tail
 * ([[graft.incremental.IncrementalServer.pollJdbc]]). Each poll fetches one
 * page on the driver with [[fetchPage]]: an id-ordered query with SHOW*
 * filtered, whose 1:N `audit_objects` rows are grouped into one entry per
 * id. A page is O(`pageSize`) rows, the reference's own fetch shape.
 *
 * The share-lock (`lockInShareMode`) is a MySQL-ism guarding against
 * reading rows whose sibling `audit_objects` inserts haven't committed;
 * without it the guarantee is that hooks insert objects before the log
 * row (the reference's hook transaction order).
 */
object AuditLogJdbc {

  /** Reader settings. Table names are spliced into SQL text (JDBC can't
    * parameterize identifiers), so they must be plain possibly-qualified
    * identifiers: a quote in a setting can't break out of the statement. */
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
    require(pageSize > 0, s"pageSize must be positive, got $pageSize")
  }

  private val IdentPattern = "[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*".r
  private def requireIdent(name: String, opt: String): Unit =
    if (!IdentPattern.pattern.matcher(name).matches())
      throw new IllegalArgumentException(
        s"setting '$opt' must be a plain identifier, got '$name'")

  /** One poll: the first `pageSize` entries with `id > afterId`, SHOW*
    * filtered, in id order, each with its objects. */
  def fetchPage(r: Settings, afterId: Long): Seq[AuditLogEntry] = {
    val conn = DriverManager.getConnection(r.url)
    try {
      // command types come from a setting — bind them as parameters rather
      // than splicing quoted literals (table names are validated
      // identifiers; the id bound is a long, bound anyway for uniformity)
      val drops = r.dropCommandTypes.filter(_.nonEmpty)
      val notIn =
        if (drops.isEmpty) ""
        else s" AND command_type NOT IN (${Seq.fill(drops.size)("?").mkString(", ")})"
      val lock = if (r.lockInShareMode) "\nLOCK IN SHARE MODE" else ""
      val logPs = conn.prepareStatement(
        s"""SELECT id, create_time, command_type, command
           |FROM ${r.auditTable}
           |WHERE id > ?$notIn
           |ORDER BY id""".stripMargin + lock)
      logPs.setMaxRows(r.pageSize)
      logPs.setLong(1, afterId)
      drops.zipWithIndex.foreach { case (t, i) => logPs.setString(2 + i, t) }
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
      objPs.setLong(1, afterId)
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
