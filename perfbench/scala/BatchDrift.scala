package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.batch.{BatchConfig, BatchReplication}
import graft.catalog.{CatalogSnapshot, InMemoryConnector}

/**
 * batch_drift: the daily re-sync of a converged warehouse. Set-up builds
 * the source warehouse and converges an empty destination with one full
 * BatchReplication.run. Each round applies a seeded drift of fixed size
 * (new, rewritten and dropped partitions, one table added and one
 * dropped) and runs BatchReplication again; few bytes move, so catalog
 * snapshots, the diff planner, the plan parquet and the commit dominate.
 */
final class BatchDrift(env: Env) extends Workload {
  import BatchDrift._

  private var wh: Warehouse = _
  private var cfg: BatchConfig = _
  private var ids: (String, String) = _

  def setup(): Unit = {
    val dir = env.work.resolve("batch")
    ids = ("perfbench-bd-src", "perfbench-bd-dest")
    wh = new Warehouse(dir.resolve("src"), dir.resolve("dest"), FilesPerDir, 1024, 8192)
    val rng = new Random(env.seed)
    val src = InMemoryConnector(ids._1).connect()
    (0 until PartitionedTables).foreach(i =>
      wh.createTable(src, s"db${i % Dbs}", partitioned = true, PartsPerTable, rng))
    (0 until UnpartitionedTables).foreach(i =>
      wh.createTable(src, s"db${i % Dbs}", partitioned = false, 0, rng))
    cfg = BatchConfig(InMemoryConnector(ids._1), InMemoryConnector(ids._2),
      wh.srcRoot, wh.destRoot, Fs.uri(dir.resolve("plan")),
      copyParallelism = env.nproc)
    BatchReplication.run(env.spark, cfg)
    val errs = wh.check(InMemoryConnector(ids._2).connect(), wh.allDirs)
    require(errs.isEmpty, s"initial convergence: ${errs.mkString("; ")}")
  }

  /** Apply one drift round to the source; returns the data directories it
    * wrote (with their model files) and the number of objects changed. */
  private def drift(rng: Random): (Seq[(String, Map[String, Long])], Int) = {
    val src = InMemoryConnector(ids._1).connect()
    val changed = mutable.ArrayBuffer.empty[(String, Map[String, Long])]
    val touched = mutable.Set.empty[(String, String)]
    def partitioned = wh.tables.values.filter(_.partitioned).toIndexedSeq
    def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))
    def untouchedPart(): (TableModel, String) = {
      var choice: (TableModel, String) = null
      while (choice == null) {
        val t = pick(partitioned)
        if (t.parts.nonEmpty) {
          val p = pick(t.parts.keys.toIndexedSeq)
          if (!touched((t.name, p))) choice = (t, p)
        }
      }
      touched += ((choice._1.name, choice._2))
      choice
    }
    (0 until NewParts).foreach { _ =>
      val t = pick(partitioned)
      val p = wh.addPartition(src, t, rng)
      touched += ((t.name, p.name))
      changed += wh.relDir(t, Some(p.name)) -> p.files
    }
    (0 until RewrittenParts).foreach { _ =>
      val (t, name) = untouchedPart()
      val p = wh.rewritePartition(src, t, name, rng)
      changed += wh.relDir(t, Some(name)) -> p.files
    }
    (0 until DroppedParts).foreach { _ =>
      val (t, name) = untouchedPart()
      wh.dropPartition(src, t, name)
    }
    val unpart = wh.tables.values.filter(!_.partitioned).toIndexedSeq
    wh.dropTable(src, pick(unpart))
    val added = wh.createTable(src, s"db${rng.nextInt(Dbs)}", partitioned = false, 0, rng)
    changed += wh.relDir(added, None) -> added.files
    (changed.toSeq, NewParts + RewrittenParts + DroppedParts + 2)
  }

  def round(r: Int, t: Tracer): Round = {
    val rng = new Random(env.seed * 1000003L + r)
    val (changed, nChanged) = drift(rng)
    val objects = wh.objects
    val layer = mutable.Map.empty[String, Double]
    val spark = env.spark
    val runCfg =
      if (!t.enabled) cfg
      else cfg.copy(srcConnector = CountingConnector(cfg.srcConnector, ids._1),
        destConnector = CountingConnector(cfg.destConnector, ids._2))
    if (t.enabled) {
      // split of the planning stage: snapshot materialisation, then the
      // diff over the cached snapshots (probes outside the timed round)
      val snaps = t.span("catalog.snapshot") {
        val s = Seq(CatalogSnapshot.tables(spark, cfg.srcConnector).cache(),
          CatalogSnapshot.tables(spark, cfg.destConnector).cache())
        val p = Seq(CatalogSnapshot.partitions(spark, cfg.srcConnector).cache(),
          CatalogSnapshot.partitions(spark, cfg.destConnector).cache())
        (s ++ p).foreach(_.count())
        (s, p)
      }
      t.span("planner.diff") {
        graft.planner.DiffPlanner.plan((snaps._1(0), snaps._2(0)),
          (snaps._1(1), snaps._2(1))).count()
      }
      (snaps._1 ++ snaps._2).foreach(_.unpersist(blocking = true))
    }
    val (secs, cpu, (stats, copied)) = env.timed(t, layer) {
      if (!t.enabled) (BatchReplication.run(spark, runCfg), -1L)
      else {
        t.span("batch.plan")(BatchReplication.plan(spark, runCfg))
        val copied = t.span("batch.copy")(BatchReplication.copyData(spark, runCfg))
        (t.span("batch.commit")(BatchReplication.commit(spark, runCfg)), copied)
      }
    }
    if (t.enabled) {
      val changedFiles = changed.map(_._2.size).sum
      layer("batch.actions") = stats.planned.toDouble
      layer("batch.files_copied") = copied.toDouble
      layer("batch.copy_amplification") = copied.toDouble / changedFiles
      layer("catalog.calls_per_object") = layer.getOrElse("catalog.calls", 0.0) / objects
    }
    val errors = wh.check(InMemoryConnector(ids._2).connect(), changed) ++
      (if (stats.commitFailures > 0) Seq(s"${stats.commitFailures} commit failures") else Nil)
    Round(secs, cpu, nChanged, stats.planned, stats.commitFailures, errors, layer.toMap)
  }
}

object BatchDrift {
  val Dbs = 2
  val PartitionedTables = 8
  val PartsPerTable = 12
  val UnpartitionedTables = 4
  val FilesPerDir = 2
  // per round: 3 of 96 partitions plus one table added, one dropped
  val NewParts = 1
  val RewrittenParts = 1
  val DroppedParts = 1
}
