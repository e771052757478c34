package graft.catalog

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{PartitionMeta, TableMeta}

/**
 * Warehouse catalog client — the engine's analog of the reference's
 * `HiveMetastoreClient` surface
 * (`utils/src/main/java/com/airbnb/reair/common/HiveMetastoreClient.java:13-78`).
 *
 * Implementations: [[InMemoryCatalog]] (tests — replaces the reference's
 * `MockHiveMetastoreClient`); a Thrift/Spark-ExternalCatalog-backed client
 * plugs in behind the same trait in a real deployment.
 */
trait CatalogClient {
  def listDatabases(): Seq[String]
  def createDatabase(db: String): Unit
  def listTables(db: String): Seq[String]
  def getTable(db: String, table: String): Option[TableMeta]
  def createTable(t: TableMeta): Unit
  def alterTable(db: String, table: String, t: TableMeta): Unit
  def dropTable(db: String, table: String): Unit
  def listPartitionNames(db: String, table: String): Seq[String]
  def getPartition(db: String, table: String, partName: String): Option[PartitionMeta]
  def addPartition(p: PartitionMeta): Unit
  def alterPartition(p: PartitionMeta): Unit
  def dropPartition(db: String, table: String, partName: String): Unit
  def renamePartition(db: String, table: String, from: String, to: PartitionMeta): Unit
}

/**
 * Serializable connection factory — the reference's `ClusterFactory`
 * pattern (`ConfigurationKeys.java:112-113`): tasks open their own catalog
 * connection per partition, never serialize a live client.
 */
trait CatalogConnector extends Serializable {
  def connect(): CatalogClient
  /** Whether connect() works inside executor JVMs (a Thrift-style client
    * does; a client bound to the driver's SparkSession does not). Paths
    * that fan catalog work out to executors must fall back to driver-side
    * execution when this is false. */
  def executorSafe: Boolean = true
}

/** In-memory catalog store, addressed by id so executor threads in the
  * same JVM (local mode) resolve the same store a driver created. */
object InMemoryCatalog {
  private val stores = TrieMap.empty[String, InMemoryCatalog]
  def get(id: String): InMemoryCatalog =
    stores.getOrElseUpdate(id, new InMemoryCatalog)
  def drop(id: String): Unit = stores.remove(id)
}

final class InMemoryCatalog extends CatalogClient {
  private val dbs = TrieMap.empty[String, Unit]
  private val tables = TrieMap.empty[(String, String), TableMeta]
  private val parts = TrieMap.empty[(String, String, String), PartitionMeta]

  def listDatabases(): Seq[String] = dbs.keys.toSeq.sorted
  def createDatabase(db: String): Unit = dbs.put(db, ())
  def listTables(db: String): Seq[String] =
    tables.keys.collect { case (d, t) if d == db => t }.toSeq.sorted
  def getTable(db: String, table: String): Option[TableMeta] =
    tables.get((db, table))
  def createTable(t: TableMeta): Unit = {
    createDatabase(t.db)
    tables.put((t.db, t.table), t)
  }
  def alterTable(db: String, table: String, t: TableMeta): Unit = {
    tables.remove((db, table))
    createTable(t)
    if (db != t.db || table != t.table) {
      // rename carries partitions along
      parts.keys.filter(k => k._1 == db && k._2 == table).foreach { k =>
        val p = parts.remove(k).get
        parts.put((t.db, t.table, k._3), p.copy(db = t.db, table = t.table))
      }
    }
  }
  def dropTable(db: String, table: String): Unit = {
    tables.remove((db, table))
    parts.keys.filter(k => k._1 == db && k._2 == table).foreach(parts.remove)
  }
  def listPartitionNames(db: String, table: String): Seq[String] =
    parts.keys.collect { case (d, t, p) if d == db && t == table => p }.toSeq.sorted
  def getPartition(db: String, table: String, partName: String): Option[PartitionMeta] =
    parts.get((db, table, partName))
  def addPartition(p: PartitionMeta): Unit =
    parts.put((p.db, p.table, p.partName), p)
  def alterPartition(p: PartitionMeta): Unit = addPartition(p)
  def dropPartition(db: String, table: String, partName: String): Unit =
    parts.remove((db, table, partName))
  def renamePartition(db: String, table: String, from: String, to: PartitionMeta): Unit = {
    parts.remove((db, table, from))
    addPartition(to)
  }
}

final case class InMemoryConnector(id: String) extends CatalogConnector {
  def connect(): CatalogClient = InMemoryCatalog.get(id)
}

/**
 * Catalog snapshot readers (S1-S3): enumerate the warehouse into Datasets.
 * The db list is the only driver-side collection (small); tables and
 * partitions are fetched inside `mapPartitions` with one connection per
 * partition — the Spark translation of the reference's 16-thread scan +
 * per-mapper Thrift connections (`MetastoreScanInputFormat.java:37-147`).
 */
object CatalogSnapshot {

  def tables(spark: SparkSession, connector: CatalogConnector,
      parallelism: Int = 16): Dataset[TableMeta] = {
    import spark.implicits._
    val dbNames = connector.connect().listDatabases()
    if (dbNames.isEmpty) spark.emptyDataset[TableMeta]
    else if (!connector.executorSafe) {
      // session-bound catalogs are visible only from the driver: enumerate
      // there (a cluster deployment uses a Thrift-style executor-safe
      // connector and takes the distributed path below)
      val c = connector.connect()
      spark.createDataset(dbNames.flatMap(db =>
        c.listTables(db).flatMap(t => c.getTable(db, t))))
    } else spark.createDataset(dbNames)
      .repartition(math.min(parallelism, math.max(dbNames.size, 1)))
      .mapPartitions { it =>
        val c = connector.connect()
        it.flatMap(db => c.listTables(db).iterator.flatMap(t => c.getTable(db, t)))
      }
  }

  def partitions(spark: SparkSession, connector: CatalogConnector,
      parallelism: Int = 16): Dataset[PartitionMeta] =
    partitionsOf(spark, connector, tables(spark, connector, parallelism),
      parallelism)

  /** The partitions of `tables` only: a caller that has already filtered
    * its table snapshot (blacklist, allowlist) lists no partition of a
    * table it dropped. */
  def partitionsOf(spark: SparkSession, connector: CatalogConnector,
      tables: Dataset[TableMeta], parallelism: Int = 16): Dataset[PartitionMeta] = {
    import spark.implicits._
    val specs = tables
      .filter((t: TableMeta) => t.isPartitioned)
      .map(t => (t.db, t.table))
    if (!connector.executorSafe) {
      val c = connector.connect()
      spark.createDataset(specs.collect().toSeq.flatMap { case (db, tbl) =>
        c.listPartitionNames(db, tbl).flatMap(p => c.getPartition(db, tbl, p))
      })
    } else specs.repartition(parallelism).mapPartitions { it =>
      val c = connector.connect()
      it.flatMap { case (db, tbl) =>
        c.listPartitionNames(db, tbl).iterator
          .flatMap(p => c.getPartition(db, tbl, p))
      }
    }
  }
}
