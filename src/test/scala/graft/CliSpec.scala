package graft

import graft.model.TaskType
import graft.tools.{BatchReplicate, Cli, HdfsSyncTool, IncrementalService}

/** CLI surface: flag parsing, connector specs, and a full batch run with
  * --step resume driven through the CLI layer. */
class CliSpec extends TestBase {

  test("flag parsing and connector specs") {
    val flags = Cli.parseFlags(Seq("--src-root", "a", "--dry-run",
      "--parallelism", "4"))
    assert(flags == Map("src-root" -> "a", "dry-run" -> "true",
      "parallelism" -> "4"))
    assert(Cli.connector("inmemory:x").isInstanceOf[graft.catalog.InMemoryConnector])
    assert(Cli.connector("spark").isInstanceOf[graft.catalog.SparkCatalogConnector])
    // jdbc spec auto-initializes the schema (idempotent) and is usable
    val dbDir = tmpDir("cli-jdbc-cat").resolve("db")
    val jdbcConn = Cli.connector(s"jdbc:derby:$dbDir;create=true")
    assert(jdbcConn.isInstanceOf[graft.catalog.JdbcCatalogConnector])
    assert(jdbcConn.executorSafe)
    assert(jdbcConn.connect().listDatabases().isEmpty)
    intercept[IllegalArgumentException](Cli.connector("thrift://nope"))
    intercept[IllegalArgumentException](Cli.parseFlags(Seq("positional")))
  }

  test("batch replicate CLI: staged --step runs converge the dest") {
    val srcWh = tmpDir("cli-src-wh")
    val destWh = tmpDir("cli-dest-wh")
    val srcConn = freshCatalog("cli-src")
    val src = srcConn.connect()
    src.createTable(unpartitionedTable("db1", "t_cli", srcWh))
    val destId = s"cli-dest-${System.nanoTime()}"

    val flags = Map(
      "src-catalog" -> s"inmemory:${srcConn.id}",
      "dest-catalog" -> s"inmemory:$destId",
      "src-root" -> srcWh.toUri.toString.stripSuffix("/"),
      "dest-root" -> destWh.toUri.toString.stripSuffix("/"),
      "plan-dir" -> (tmpDir("cli-plan").toUri.toString + "plan"),
      "parallelism" -> "4")

    // resume semantics: each stage runs standalone from the persisted plan
    BatchReplicate.run(spark, flags + ("step" -> "1"))
    BatchReplicate.run(spark, flags + ("step" -> "2"))
    BatchReplicate.run(spark, flags + ("step" -> "3"))

    val dest = graft.catalog.InMemoryConnector(destId).connect()
    assert(dest.getTable("db1", "t_cli").isDefined)
    intercept[IllegalArgumentException](
      BatchReplicate.run(spark, flags + ("step" -> "9")))
    // blacklist pair parsing
    assert(BatchReplicate.config(flags + ("blacklist" -> "^tmp_.*:.*,x:y"))
      .blacklist == Seq(("^tmp_.*", ".*"), ("x", "y")))
    assert(BatchReplicate.config(flags + ("verify-checksum" -> "true"))
      .verifyChecksum)
  }

  test("incremental CLI: --audit-jdbc drains from the watermark; --start-after-id resets it") {
    val srcWh = tmpDir("cli-inc-src-wh")
    val srcConn = freshCatalog("cli-inc-src")
    val destId = s"cli-inc-dest-${System.nanoTime()}"
    val url = s"jdbc:derby:${tmpDir("cli-inc-audit").resolve("db")};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE audit_log (id BIGINT PRIMARY KEY, " +
      "create_time TIMESTAMP, command_type VARCHAR(64), command VARCHAR(4000))")
    st.executeUpdate("CREATE TABLE audit_objects (audit_log_id BIGINT, " +
      "category VARCHAR(32), object_type VARCHAR(32), name VARCHAR(256))")
    def create(id: Int): Unit = {
      srcConn.connect().createTable(unpartitionedTable("db1", s"t$id", srcWh))
      st.executeUpdate(s"INSERT INTO audit_objects VALUES ($id, 'OUTPUT', 'TABLE', 'db1.t$id')")
      st.executeUpdate(s"INSERT INTO audit_log VALUES ($id, " +
        s"TIMESTAMP('2024-01-01 00:00:00'), 'CREATETABLE', 'cmd-$id')")
    }
    (1 to 3).foreach(create)
    val flags = Map(
      "src-catalog" -> s"inmemory:${srcConn.id}",
      "dest-catalog" -> s"inmemory:$destId",
      "src-root" -> srcWh.toUri.toString.stripSuffix("/"),
      "dest-root" -> tmpDir("cli-inc-dest-wh").toUri.toString.stripSuffix("/"),
      "state-dir" -> tmpDir("cli-inc-state").toUri.toString,
      "audit-jdbc" -> url, "workers" -> "2")
    def launch(f: Map[String, String]) = IncrementalService.server(spark, f)

    val first = launch(flags + ("start-after-id" -> "1"))
    assert(IncrementalService.drainAuditJdbc(first, flags) == 2)
    val dest = graft.catalog.InMemoryConnector(destId).connect()
    assert(dest.getTable("db1", "t1").isEmpty)
    assert(Seq("t2", "t3").forall(dest.getTable("db1", _).isDefined))
    // a relaunch without the flag resumes from the watermark alone
    create(4)
    assert(IncrementalService.drainAuditJdbc(launch(flags), flags) == 1)
    assert(dest.getTable("db1", "t4").isDefined)
    // a relaunch that still gives the flag resets it and replays above 1
    val again = launch(flags + ("start-after-id" -> "1"))
    assert(again.watermark.get().contains(1L))
    assert(IncrementalService.drainAuditJdbc(again, flags) == 3)
    assert(again.watermark.get().contains(4L))
    conn.close()
  }

  test("hdfs sync CLI: dry run plans without touching the dest") {
    val src = tmpDir("cli-sync-src")
    val dest = tmpDir("cli-sync-dest")
    writeFile(src, "a.txt", "aaa")
    HdfsSyncTool.run(spark, Map(
      "source" -> src.toUri.toString,
      "destination" -> dest.toUri.toString,
      "dry-run" -> "true", "parallelism" -> "4"))
    assert(!java.nio.file.Files.exists(dest.resolve("a.txt")))
    HdfsSyncTool.run(spark, Map(
      "source" -> src.toUri.toString,
      "destination" -> dest.toUri.toString,
      "parallelism" -> "4"))
    assert(java.nio.file.Files.readString(dest.resolve("a.txt")) == "aaa")
  }

  test("corpus build CLI: end-to-end from flags to layout-partitioned shards") {
    val out = tmpDir("cli-corpus").toString + "/out"
    graft.tools.CorpusBuild.run(spark, Map(
      "input" -> "/root/testdata/sf0.001/documents.parquet",
      "output" -> out,
      "min-quality" -> "0.3",
      "mix" -> "src0:0.5",
      "splits" -> "train:0.9,val:0.1",
      "budget" -> "512",
      "shards-per-leaf" -> "2"))
    val back = spark.read.parquet(out)
    assert(back.count() > 0)
    assert(back.columns.toSet ==
      Set("doc_id", "source", "split", "n_tokens", "bin_id"))
    val splits = back.select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val")))
    val leaves = new java.io.File(out).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.isDirectory)
    leaves.foreach { leaf =>
      val files = leaf.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty && files.length <= 2, leaf.getPath)
    }
  }
}
