package graft.incremental

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model._

/**
 * Audit-entry → replication-job planning (SURVEY §2.9 ST7/ST8 + filters
 * P2-P4). A plain function of each entry, run on the driver over a
 * collected page — the reference's `ReplicationJobFactory.createReplicationJobs`
 * (`incremental/ReplicationJobFactory.java:486-721`) minus the side
 * effects, which live in [[IncrementalServer]].
 */
final case class JobFilterConfig(
    whitelist: String = ".*",
    blacklist: String = "^$",
    dropCommandTypes: Set[String] =
      Set("SHOWTABLES", "SHOWPARTITIONS", "SWITCHDATABASE"))

/**
 * F4 — exchange-partition SQL parse, the driver-side twin of the column
 * expressions in [[graft.functions]] (HIVE-12865 workaround: the audit
 * entry for `ALTER TABLE <to> EXCHANGE PARTITION (ds='1') WITH TABLE
 * <from>` carries no inputs/outputs, so the command text is the only
 * source of truth). Reference: `incremental/ExchangePartitionParser.java:21-149`.
 */
object ExchangePartitionParser {
  final case class Exchange(toDb: String, toTable: String,
      fromDb: String, fromTable: String, partName: String)

  private val Re =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+EXCHANGE\s+PARTITION\s*\(\s*(.*)\)\s+WITH\s+TABLE\s+(\S+)\s*""".r

  def parse(command: String): Option[Exchange] = command match {
    case Re(to, spec, from) =>
      for {
        (tdb, ttbl) <- splitSpec(to)
        (fdb, ftbl) <- splitSpec(from)
        part <- partName(spec)
      } yield Exchange(tdb, ttbl, fdb, ftbl, part)
    case _ => None
  }

  /** `db.table` or bare `table` (assumes default db, like the reference). */
  private def splitSpec(s: String): Option[(String, String)] =
    s.split('.') match {
      case Array(t) => Some(("default", t))
      case Array(d, t) => Some((d, t))
      case _ => None
    }

  /** `ds='1', hr='2'` → `ds=1/hr=2`. Splits on commas OUTSIDE quotes and
    * unescapes doubled quotes, so values containing commas or quotes
    * (`city='San Jose, CA'`, `note='it''s'`) parse instead of silently
    * yielding a wrong partition name. */
  private def partName(spec: String): Option[String] = {
    val comps = splitTopLevel(spec).map(_.trim).filter(_.nonEmpty).map { c =>
      c.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty =>
          Some(s"${k.trim}=${unquote(v.trim)}")
        case _ => None
      }
    }
    if (comps.isEmpty || comps.exists(_.isEmpty)) None
    else Some(comps.flatten.mkString("/"))
  }

  private def splitTopLevel(spec: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inQuote = false
    spec.foreach {
      case '\'' => inQuote = !inQuote; sb += '\''
      case ',' if !inQuote => out += sb.toString; sb.clear()
      case ch => sb += ch
    }
    out += sb.toString
    out.result()
  }

  /** `'it''s'` → `it's`; bare values pass through. */
  private def unquote(v: String): String =
    if (v.length >= 2 && v.head == '\'' && v.last == '\'')
      v.substring(1, v.length - 1).replace("''", "'")
    else v
}

object JobFactory {

  private val ExchangeCommand = "ALTERTABLE_EXCHANGEPARTITION"

  /** Metastore-listener (Thrift API) entries — the reference's
    * `HiveOperation.isThriftOperation`, which exempts them from the
    * no-output CLI filter (`ReplicationJobFactory.java:576-583`). */
  private def isThrift(commandType: String): Boolean =
    commandType != null && commandType.startsWith("THRIFT_")

  private def hasTarget(e: AuditLogEntry): Boolean =
    e.outputTables.nonEmpty || e.outputPartitions.nonEmpty ||
      e.renameFrom.isDefined || e.commandType == ExchangeCommand ||
      isThrift(e.commandType)

  /** P2/P3: command-type filter, no-output filter, object-name regex
    * whitelist/blacklist chain; None = the entry plans no job.
    * Exchange-partition entries legally have no outputs (HIVE-12865) and
    * pass through to the parser; THRIFT_* entries are exempt from the
    * no-output drop like the reference's isThriftOperation check
    * (database-level thrift events carry no table outputs yet must not be
    * silently discarded). */
  private def filterEntry(e: AuditLogEntry, cfg: JobFilterConfig): Option[AuditLogEntry] =
    Some(e)
      .filter(e => !cfg.dropCommandTypes.contains(e.commandType) && hasTarget(e))
      .map { e =>
        // regexes match the case-NORMALIZED name (P7): a mixed-case entry
        // must not slip past a lowercase blacklist and then lowercase into
        // the very object the blacklist names
        def keep(name: String) = {
          val n = name.toLowerCase
          n.matches(cfg.whitelist) && !n.matches(cfg.blacklist)
        }
        e.copy(
          outputTables = e.outputTables.filter(keep),
          outputPartitions = e.outputPartitions.filter(keep))
      }
      .filter(hasTarget)

  /** [[plan]] over a Dataset holding one page: the page is collected, so
    * it must be bounded like the pages [[IncrementalServer.processBatch]]
    * takes. */
  def planJobs(spark: SparkSession, entries: Dataset[AuditLogEntry],
      cfg: JobFilterConfig = JobFilterConfig()): Dataset[JobState] = {
    import spark.implicits._
    spark.createDataset(plan(entries.collect().toSeq, cfg))
  }

  /**
   * ST7 + ST8: route each entry of a page to an operation and compact
   * multi-partition outputs of one table into a single bulk job
   * (`ReplicationJobFactory.java:585-620,660-671`). Runs on the driver, as
   * the reference plans its fetched page in plain Java.
   */
  def plan(entries: Seq[AuditLogEntry], cfg: JobFilterConfig): Seq[JobState] =
    entries.flatMap(filterEntry(_, cfg)).flatMap { e =>
      val op = e.commandType match {
        // DROPVIEW and THRIFT_DROP_PARTITION propagate as drops too
        // (`ReplicationJobFactory.java:587-592`) — falling through to COPY
        // would plan NotCompletable copies of already-deleted source objects.
        case "DROPTABLE" | "THRIFT_DROP_TABLE" | "DROPVIEW" => "DROP_TABLE"
        case "ALTERTABLE_DROPPARTS" | "THRIFT_DROP_PARTITION" => "DROP_PARTITION"
        case ExchangeCommand => "EXCHANGE_PARTITION"
        case "ALTERTABLE_RENAME" => "RENAME_TABLE"
        case "ALTERTABLE_RENAMEPART" => "RENAME_PARTITION"
        // THRIFT alters are one event type for rename AND metadata change;
        // the reference splits on input-name ≠ output-name
        // (`ReplicationJobFactory.java:599-616`) — renameFrom carries that
        case "THRIFT_ALTER_TABLE" if e.renameFrom.isDefined => "RENAME_TABLE"
        case "THRIFT_ALTER_PARTITION" if e.renameFrom.isDefined =>
          "RENAME_PARTITION"
        // Default = COPY, matching the reference's switch default
        // (`ReplicationJobFactory.java:585-620`): any command with output
        // tables/partitions — CREATETABLE, QUERY, ALTERTABLE_ADDPARTS,
        // metadata-only ALTERTABLE_* ops, etc. — replicates as a copy.
        // SHOW*/no-output entries were already dropped by filterEntry.
        case _ => "COPY"
      }
      def split(name: String): (String, String, Option[String]) = {
        val spec = ObjectSpec.parse(name)
        // P7 (`ReplicationUtils.java:481-499`): Hive identifiers are
        // case-insensitive and stored lowercase — normalize so mixed-case
        // audit entries hit the same lock keys and catalog objects.
        (spec.db.toLowerCase, spec.table.toLowerCase, spec.partition)
      }
      // F6: serialized payload lookup by full object name (case-normalized)
      def payloadOf(name: String): Map[String, String] =
        e.objectsOrEmpty
          .find(o => o.name != null && o.name.equalsIgnoreCase(name) &&
            o.serialized != null && o.serialized.nonEmpty)
          .map(o => Map(JobState.SerializedMeta -> o.serialized))
          .getOrElse(Map.empty)
      op match {
        case "EXCHANGE_PARTITION" =>
          // HIVE-12865 workaround (`ReplicationJobFactory.java:524-572`):
          // parse the SQL; the exchanged partition lands in the ALTER TABLE
          // target, and with the source partition's mtime unavailable the
          // reference "just copies" ⇒ one COPY_PARTITION of the dest object.
          ExchangePartitionParser.parse(e.command) match {
            case Some(x) =>
              Seq(x).filter { x =>
                // same normalization as filterEntry's keep: the FULL name
                // (partition values included) lowercases before matching,
                // so one blacklist regex behaves identically on both paths
                val name =
                  s"${x.toDb}.${x.toTable}/${x.partName}".toLowerCase
                name.matches(cfg.whitelist) && !name.matches(cfg.blacklist)
              }.map { x =>
                // P7 applies here too: unnormalized case would break the
                // per-object lock key and lowercase-keyed catalog lookups
                JobState(e.id, e.createTime.getTime, TaskType.CopyPartition,
                  JobStatus.Pending, x.toDb.toLowerCase, x.toTable.toLowerCase,
                  Seq(x.partName), None, None, None, Map.empty)
              }
            case None =>
              // an unparseable exchange must surface as NOT_COMPLETABLE in
              // the state table, not silently skip replication (the
              // reference logs the SQL on parse failure) — the command
              // text rides in extras for the operator to inspect
              Seq(JobState(e.id, e.createTime.getTime, TaskType.NoOp,
                JobStatus.Pending, "_unparsed", s"exchange_${e.id}",
                Seq.empty, None, None, None,
                Map("command" -> Option(e.command).getOrElse(""))))
          }
        case "COPY" if e.outputPartitions.nonEmpty =>
          // ST8: group output partitions by table → one job per table
          e.outputPartitions.groupBy(n => { val s = split(n); (s._1, s._2) })
            .toSeq.sortBy(_._1)
            .map { case ((db, tbl), parts) =>
              JobState(e.id, e.createTime.getTime,
                if (parts.size > 1) TaskType.CopyPartitions else TaskType.CopyPartition,
                JobStatus.Pending, db, tbl,
                parts.flatMap(n => split(n)._3).sorted,
                None, None, None,
                if (parts.size == 1) payloadOf(parts.head) else Map.empty)
            }
        case "COPY" =>
          // Table creation intends a COMPLETE copy (partitions included —
          // a table created with pre-existing partitions gets no partition
          // events to converge from); every other table-level command is
          // metadata-only, matching `createJobForCopyTable`
          // (`ReplicationJobFactory.java:104-140`: COPY_PARTITIONED_TABLE
          // never touches partition data).
          val tableOp = e.commandType match {
            case "CREATETABLE" | "CREATETABLE_AS_SELECT" | "IMPORT" |
                 "THRIFT_CREATE_TABLE" =>
              TaskType.CopyCompleteTable
            case _ => "COPY_TABLE"
          }
          e.outputTables.map { n =>
            val (db, tbl, _) = split(n)
            JobState(e.id, e.createTime.getTime, tableOp,
              JobStatus.Pending, db, tbl, Seq.empty, None, None, None,
              payloadOf(n))
          }
        case "DROP_TABLE" =>
          e.outputTables.map { n =>
            val (db, tbl, _) = split(n)
            JobState(e.id, e.createTime.getTime, TaskType.DropTable,
              JobStatus.Pending, db, tbl, Seq.empty, None, None, None, Map.empty)
          }
        case "DROP_PARTITION" =>
          e.outputPartitions.map { n =>
            val (db, tbl, part) = split(n)
            JobState(e.id, e.createTime.getTime, TaskType.DropPartition,
              JobStatus.Pending, db, tbl, part.toSeq, None, None, None, Map.empty)
          }
        case "RENAME_TABLE" =>
          (e.renameFrom, e.outputTables.headOption) match {
            case (Some(from), Some(to)) =>
              val (fdb, ftbl, _) = split(from)
              val (tdb, ttbl, _) = split(to)
              Seq(JobState(e.id, e.createTime.getTime, TaskType.RenameTable,
                JobStatus.Pending, fdb, ftbl, Seq.empty, None,
                Some(tdb), Some(ttbl), payloadOf(to)))
            case _ => Seq.empty
          }
        case "RENAME_PARTITION" =>
          (e.renameFrom, e.outputPartitions.headOption) match {
            case (Some(from), Some(to)) =>
              val (fdb, ftbl, fpart) = split(from)
              val (_, _, tpart) = split(to)
              Seq(JobState(e.id, e.createTime.getTime, TaskType.RenamePartition,
                JobStatus.Pending, fdb, ftbl,
                fpart.toSeq ++ tpart.toSeq, None, None, None, payloadOf(to)))
            case _ => Seq.empty
          }
        case _ => Seq.empty
      }
    }
}
