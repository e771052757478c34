package graft.tools

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.batch.{BatchConfig, BatchReplication}
import graft.catalog.{CatalogConnector, InMemoryConnector, JdbcCatalogClient, JdbcCatalogConnector, SparkCatalogConnector}
import graft.hdfs.HdfsSync
import graft.incremental.{IncrementalConfig, IncrementalServer}
import graft.observability.{Metrics, StatusServer}
import graft.sources.AuditLogJdbc

/**
 * CLI entry points — the engine's analogs of the reference's three mains
 * (SURVEY §3): `MetastoreReplicationJob.main` (batch, `--step` resume),
 * `batch/hdfs/ReplicationJob.main` (standalone sync, `-source/-destination/
 * -dry-run`), and `deploy/ReplicationLauncher.main` (incremental server).
 *
 * Catalog connectors are named specs (the reference's `ClusterFactory`
 * class-name configuration): `spark` = the session's ExternalCatalog
 * (Hive metastore under `spark.sql.catalogImplementation=hive`);
 * `jdbc:<url>` = the executor-safe JDBC metastore-subset catalog (the
 * production connector — schema auto-initialized, idempotent);
 * `inmemory:<id>` = the in-process test catalog.
 */
object Cli {

  def connector(spec: String): CatalogConnector =
    if (spec.startsWith("jdbc:")) {
      JdbcCatalogClient.initSchema(spec)
      JdbcCatalogConnector(spec)
    } else spec.split(':') match {
      case Array("spark") => SparkCatalogConnector()
      case Array("inmemory", id) => InMemoryConnector(id)
      case _ => throw new IllegalArgumentException(
        s"unknown catalog spec '$spec' (expected spark | jdbc:<url> | inmemory:<id>)")
    }

  /** `--key value` pairs + positional-free flags (`--dry-run`). */
  def parseFlags(args: Seq[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --flag, got '$a'")
      val key = a.stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m.put(key, args(i + 1)); i += 2
      } else { m.put(key, "true"); i += 1 }
    }
    m.toMap
  }
}

/** Batch replication (reference `MetastoreReplicationJob.main`):
  * `--src-catalog spark --dest-catalog ... --src-root hdfs://src-wh
  *  --dest-root hdfs://dest-wh --plan-dir ... [--step 1|2|3]
  *  [--table-list file] [--blacklist dbRe:tblRe[,dbRe:tblRe]]`. */
object BatchReplicate {

  def config(flags: Map[String, String]): BatchConfig = BatchConfig(
    srcConnector = Cli.connector(flags("src-catalog")),
    destConnector = Cli.connector(flags("dest-catalog")),
    srcFsRoot = flags("src-root"),
    destFsRoot = flags("dest-root"),
    planDir = flags("plan-dir"),
    blacklist = flags.get("blacklist").toSeq.flatMap(_.split(',')).map { p =>
      p.split(':') match {
        case Array(d, t) => (d, t)
        case _ => throw new IllegalArgumentException(s"bad blacklist pair '$p'")
      }
    },
    copyParallelism = flags.getOrElse("parallelism", "32").toInt,
    tableListPath = flags.get("table-list"),
    verifyChecksum = flags.get("verify-checksum").contains("true"))

  /** `--step N` resumes one stage from the persisted plan (reference
    * `MetastoreReplicationJob.java:308-356`); no step runs all three. */
  def run(spark: SparkSession, flags: Map[String, String]): Unit = {
    val cfg = config(flags)
    flags.get("step").map(_.toInt) match {
      case Some(1) => BatchReplication.plan(spark, cfg); ()
      case Some(2) => BatchReplication.copyData(spark, cfg); ()
      case Some(3) => BatchReplication.commit(spark, cfg); ()
      case Some(other) =>
        throw new IllegalArgumentException(s"unknown --step $other")
      case None => BatchReplication.run(spark, cfg); ()
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-batch-replicate")
    try run(spark, Cli.parseFlags(args.toSeq)) finally spark.stop()
  }
}

/** Standalone HDFS sync (reference `batch/hdfs/ReplicationJob.main`):
  * `--source rootA[,rootB] --destination root [--operations a,u,d]
  *  [--dry-run] [--parallelism N]`. */
object HdfsSyncTool {

  def run(spark: SparkSession, flags: Map[String, String]): Unit = {
    val (actions, stats) = HdfsSync.run(spark,
      srcRoots = flags("source").split(',').toSeq,
      destRoot = flags("destination"),
      operations = flags.getOrElse("operations", "a,u,d")
        .split(',').map(_.trim).toSet,
      dryRun = flags.get("dry-run").contains("true"),
      parallelism = flags.getOrElse("parallelism", "32").toInt)
    stats match {
      case Some(s) =>
        println(s"added=${s.added} updated=${s.updated} deleted=${s.deleted}")
      case None =>
        // dry run: print the plan summary, touch nothing (reference :536-541)
        actions.groupBy("op").count().collect()
          .foreach(r => println(s"${r.getString(0)}=${r.getLong(1)}"))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-hdfs-sync")
    try run(spark, Cli.parseFlags(args.toSeq)) finally spark.stop()
  }
}

/** Incremental server (reference `deploy/ReplicationLauncher.main`):
  * `--src-catalog ... --dest-catalog ... --src-root ... --dest-root ...
  *  --state-dir ... [--audit-dir dir [--checkpoint-dir dir] | --audit-jdbc url]
  *  [--workers N] [--max-jobs N] [--status-port P] [--start-after-id N]
  *  [--statsd host:port] [--stats-dir dir]`. `--audit-jdbc` polls the
  * audit table from the watermark; `--checkpoint-dir` (default
  * `<state-dir>/checkpoint`) is the `--audit-dir` stream's position and
  * applies to it only. `--start-after-id` is a one-shot reset, see
  * [[IncrementalService.server]]. */
object IncrementalService {

  def config(flags: Map[String, String]): IncrementalConfig = IncrementalConfig(
    srcConnector = Cli.connector(flags("src-catalog")),
    destConnector = Cli.connector(flags("dest-catalog")),
    srcFsRoot = flags("src-root"),
    destFsRoot = flags("dest-root"),
    stateDir = flags("state-dir").stripSuffix("/") + "/jobs",
    watermarkPath = flags("state-dir").stripSuffix("/") + "/watermark",
    workers = flags.getOrElse("workers", "20").toInt,
    maxJobsPerBatch = flags.getOrElse("max-jobs", "600").toInt,
    statsDir = flags.get("stats-dir"))

  private def startAfterId(flags: Map[String, String]): Long =
    flags.get("start-after-id").map(_.toLong).getOrElse(0L)

  /** The server over `--state-dir`. `--start-after-id N` (reference
    * `ReplicationLauncher.java:275-280`) is a one-shot reset that acts on
    * every launch which gives it: it sets the watermark, the JDBC tail's
    * only position, to N, so a restart that still passes the flag replays
    * every id above N instead of resuming. The `--audit-dir` stream also
    * filters on it, but positions by its checkpoint. */
  def server(spark: SparkSession, flags: Map[String, String]): IncrementalServer = {
    val server = new IncrementalServer(spark, config(flags))
    if (startAfterId(flags) > 0L) server.watermark.set(startAfterId(flags))
    server
  }

  /** One round of the `--audit-jdbc` loop: drain every page after the
    * watermark; returns the entries read. */
  def drainAuditJdbc(server: IncrementalServer, flags: Map[String, String]): Int =
    server.drainJdbc(AuditLogJdbc.Settings(flags("audit-jdbc")))

  def main(args: Array[String]): Unit = {
    val flags = Cli.parseFlags(args.toSeq)
    val spark = GraftSession.local("graft-incremental")
    val server = this.server(spark, flags)
    // --statsd host:port (reference StatsTracker's daemon address)
    val statsd = flags.get("statsd").map { hp =>
      val Array(h, p) = hp.split(':')
      new graft.observability.StatsdReporter(h, p.toInt)
    }
    val status = new StatusServer(server.state, server.watermark,
      Some(Metrics.install(spark)),
      flags.getOrElse("status-port", "0").toInt, statsd,
      statsDir = flags.get("stats-dir"))
    val port = status.start()
    println(s"status endpoint on :$port")
    server.recover()
    (flags.get("audit-dir"), flags.get("audit-jdbc")) match {
      case (Some(dir), _) =>
        val q = server.start(dir, flags.getOrElse("checkpoint-dir",
          flags("state-dir").stripSuffix("/") + "/checkpoint"),
          startAfterId = startAfterId(flags))
        q.awaitTermination()
      case (_, Some(_)) =>
        // the reference's poll loop: drain, then sleep 10 s, forever
        while (true) {
          drainAuditJdbc(server, flags)
          Thread.sleep(IncrementalServer.PollWaitMillis)
        }
      case _ => throw new IllegalArgumentException(
        "need --audit-dir or --audit-jdbc")
    }
  }
}

/** Training-corpus build (the pipeline layer end-to-end):
  * `--input docs.parquet --output out/ [--min-quality 0.5]
  *  [--mix src:rate,src:rate] [--default-rate 1.0]
  *  [--splits train:0.8,val:0.1,test:0.1] [--budget 4096]
  *  [--shards-per-leaf 16] [--format parquet|json]`.
  * Reads (doc_id, text, source) parquet, runs quality gate → exact dedup
  * → weighted mix → split → packing, writes layout-partitioned shards. */
object CorpusBuild {

  def run(spark: org.apache.spark.sql.SparkSession,
      flags: Map[String, String]): Unit = {
    import graft.pipeline.{CorpusWriter, TrainingPipeline}
    def rates(s: String): Map[String, Double] =
      s.split(',').filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split(':'); k -> v.toDouble
      }.toMap
    val cfg = TrainingPipeline.Config(
      minQuality = flags.getOrElse("min-quality", "0.5").toDouble,
      mixWeights = flags.get("mix").map(rates).getOrElse(Map.empty),
      defaultRate = flags.getOrElse("default-rate", "1.0").toDouble,
      splits = flags.getOrElse("splits", "train:0.8,val:0.1,test:0.1")
        .split(',').toSeq.map { kv =>
          val Array(k, v) = kv.split(':'); k -> v.toDouble
        },
      packBudget = flags.getOrElse("budget", "4096").toLong)
    val corpus = TrainingPipeline.buildCorpus(
      spark.read.parquet(flags("input")), cfg)
    CorpusWriter.writeShards(corpus, flags("output"),
      layoutCols = Seq("split", "source"), idCol = "doc_id",
      shardsPerLeaf = flags.getOrElse("shards-per-leaf", "16").toInt,
      sortCols = Seq("bin_id"),
      format = flags.getOrElse("format", "parquet"))
    val n = spark.read.format(flags.getOrElse("format", "parquet"))
      .load(flags("output")).count()
    println(s"wrote $n documents to ${flags("output")}")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-corpus-build")
    try run(spark, Cli.parseFlags(args.toSeq)) finally spark.stop()
  }
}
