package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one round reports: its timed seconds, the work items it brought to
  * done, the operations it attempted and saw fail, the correctness
  * violations found after it, and (traced rounds only) layer readings. */
final case class Round(seconds: Double, cpuSeconds: Double, items: Long,
    attempted: Long, failed: Long, errors: Seq[String],
    layer: Map[String, Double])

/** Shared state of one benchmark process. */
final class Env(val spark: SparkSession, val work: Path, val seed: Long,
    val nproc: Int, val counters: Option[SparkCounters]) {

  /**
   * Time `body`: the wall and process-CPU seconds it takes. On a traced
   * round the body runs inside the `round` span, and the Spark, catalog
   * and GC counters are read before and after it; their differences and
   * the seconds of every span of the current trace go into `layer`.
   */
  def timed[A](t: Tracer, layer: mutable.Map[String, Double])(body: => A): (Double, Double, A) = {
    def counts(): Map[String, Double] = {
      counters.foreach(_.flush(spark.sparkContext))
      counters.map(_.snapshot()).getOrElse(Map.empty) ++
        CatalogCounters.snapshot() + ("jvm.gc_s" -> Jvm.gcSeconds())
    }
    val before = if (t.enabled) counts() else Map.empty[String, Double]
    val cpu0 = Jvm.processCpuSeconds()
    val t0 = System.nanoTime()
    val a = t.span("round")(body)
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = Jvm.processCpuSeconds() - cpu0
    if (t.enabled) {
      val after = counts()
      after.foreach { case (k, v) => layer(k) = v - before.getOrElse(k, 0.0) }
      t.secondsIn(t.currentTrace).foreach { case (name, s) =>
        if (name != "round") layer(s"${name}_s") = s
      }
    }
    (secs, cpu, a)
  }

  /** Drop cached frames and RDD blocks left by the previous pass; blocking,
    * so removal does not run beside the next measurement. */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    graft.pipeline.Dedup.clearCaches()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** One benchmark workload. */
trait Workload {
  /** Generate the inputs from the seed (and converge the destination where
    * the workload starts from a converged one). */
  def setup(): Unit

  /** One round: untimed input preparation, the timed calls into the
    * program, then the untimed correctness check. */
  def round(r: Int, t: Tracer): Round
}

object Main {
  /** Untimed rounds before measuring; they count in setup_s. */
  val WarmupPasses = 1
  /** Measured rounds per run, at least; more run while --seconds lasts. */
  val MinRounds = 2

  /** `metrics` lists the (name, unit) pairs to report, in order, as
    * BENCHMARK.json names them for this kind of run. */
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, traceOut: Path, nproc: Int,
      metrics: Seq[(String, String)])

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val metrics = need("metrics").split(",").toSeq.map { nu =>
      val i = nu.indexOf(':')
      require(i > 0, s"metric without a unit: $nu")
      (nu.take(i), nu.drop(i + 1))
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      Paths.get(need("trace-out")), need("nproc").toInt, metrics)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Quartiles by the same rule as Python's statistics.quantiles(n=4). */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 2) (s.headOption.getOrElse(Double.NaN), s.headOption.getOrElse(Double.NaN))
    else {
      def q(i: Int): Double = {
        val pos = i * (n + 1) / 4.0
        val j = math.min(math.max(pos.toInt, 1), n - 1)
        val frac = pos - j
        s(j - 1) + (s(j) - s(j - 1)) * frac
      }
      (q(1), q(3))
    }
  }

  private def workload(name: String, env: Env): Workload = name match {
    case "batch_drift" => new BatchDrift(env)
    case "incremental_replay" => new IncrementalReplay(env)
    case "bulk_copy" => new BulkCopy(env)
    case "corpus_build" => new CorpusBuild(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.nproc}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.nproc.toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
    val spark = graft.GraftSession.create(b)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val started = System.nanoTime()
    // JVM start-up before main belongs to session start as well
    val jvmUptime = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val spark = session(a)
    val sessionS = jvmUptime + (System.nanoTime() - started) / 1e9
    val counters = if (a.trace) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val env = new Env(spark, a.work, a.seed, a.nproc, counters)
    val w = workload(a.workload, env)

    val tracer = new Tracer(a.trace)
    val off = new Tracer(false)
    var errors = Seq.empty[String]
    var crashed = 0L
    val retained = mutable.ArrayBuffer.empty[Double]
    def attempt(r: Int, t: Tracer): Option[Round] = {
      val res =
        try Some(w.round(r, t))
        catch {
          case e: Throwable =>
            crashed += 1
            errors = Seq(s"round $r threw ${e.getClass.getName}: ${e.getMessage}")
            e.printStackTrace()
            None
        }
      res.foreach(x => errors = x.errors)
      // what the round left held, caches included, before they are dropped
      if (!a.trace && r > WarmupPasses) retained += Jvm.retainedMb()
      env.clearCaches()
      res
    }

    // set-up, then the warm-up pass: an untimed round
    val setupStarted = System.nanoTime()
    w.setup()
    val warmStarted = System.nanoTime()
    val warm = (1 to WarmupPasses).flatMap(r => attempt(r, off))
    val setupS = sessionS + (System.nanoTime() - setupStarted) / 1e9
    System.err.println(f"perfbench: session start $sessionS%.3f s, inputs " +
      f"${(warmStarted - setupStarted) / 1e9}%.3f s, warm-up passes " +
      warm.map(r => f"${r.seconds}%.3f").mkString(" ") + " s")

    // Closed loop, one caller: rounds run back to back until the
    // measuring time is spent. A traced run interleaves untraced and
    // traced rounds (U T T U ...), so the tracing overhead is measured in
    // one process and any drift over the run falls on both sides.
    val plain = mutable.ArrayBuffer.empty[Round]
    val traced = mutable.ArrayBuffer.empty[Round]
    val minRounds = if (a.trace) 4 else MinRounds
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    while (errors.isEmpty && (i < minRounds || System.nanoTime() < deadline)) {
      val isTraced = a.trace && (i % 4 == 1 || i % 4 == 2)
      if (isTraced) tracer.newTrace()
      attempt(WarmupPasses + i + 1, if (isTraced) tracer else off)
        .foreach(res => (if (isTraced) traced else plain) += res)
      i += 1
    }
    val all = (warm.toSeq ++ plain ++ traced)
    val attempted = all.map(_.attempted).sum + crashed
    val failed = all.map(_.failed).sum + crashed
    errors.foreach(e => System.err.println(s"perfbench: CHECK FAILED: $e"))

    val readings =
      if (!a.trace) endToEnd(plain.toSeq, setupS, retained.toSeq)
      else perLayer(plain.toSeq, traced.toSeq, tracer)
    // an end-to-end metric must be measured; a per-layer one of a layer
    // this workload never calls reads 0
    val metrics = a.metrics.map { case (k, unit) =>
      (k, readings.getOrElse(k,
        if (a.trace) 0.0 else throw new IllegalArgumentException(s"no end-to-end metric $k")),
        unit)
    }
    report(a, metrics, plain.toSeq, traced.toSeq, retained.toSeq)
    writeTrace(a, tracer)

    val json = new StringBuilder
    json ++= s"""{"correct": ${errors.isEmpty && crashed == 0 && plain.nonEmpty}, """
    json ++= s""""attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": {"""
    json ++= metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    json ++= "}}"
    Files.write(a.out, (json.toString + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def endToEnd(rounds: Seq[Round], setupS: Double,
      retained: Seq[Double]): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "round_s" -> median(rounds.map(_.seconds)),
    "items_per_s" -> median(rounds.map(r => r.items / r.seconds)),
    "cpu_ms_per_item" -> median(rounds.map(r => 1e3 * r.cpuSeconds / r.items)),
    "retained_mb" -> retained.maxOption.getOrElse(Double.NaN))

  /** Every per-layer reading, as the median over traced rounds, plus the
    * tracing overhead and the round span's self time. */
  private def perLayer(plain: Seq[Round], traced: Seq[Round],
      tracer: Tracer): Map[String, Double] = {
    val layers = traced.flatMap(_.layer.keys).distinct.map(k =>
      k -> median(traced.map(_.layer.getOrElse(k, 0.0)))).toMap
    val roundSelf = median(tracer.spans.groupBy(_.traceId).values.map { spans =>
      val round = spans.filter(_.name == "round")
      val roundIds = round.map(_.id).toSet
      round.map(_.seconds).sum -
        spans.filter(s => roundIds.contains(s.parent)).map(_.seconds).sum
    }.toSeq)
    layers ++ Map(
      "trace.overhead_ratio" -> median(traced.map(_.seconds)) / median(plain.map(_.seconds)),
      "trace.round_self_s" -> roundSelf,
      "spark.jobs_per_entry" ->
        median(traced.map(r => r.layer.getOrElse("spark.jobs", 0.0) / r.items)))
  }

  /** A human-readable summary on stderr: each reading's median, quartiles
    * and sample count, and the self time of every span. */
  private def report(a: Args, metrics: Seq[(String, Double, String)],
      plain: Seq[Round], traced: Seq[Round], retained: Seq[Double]): Unit = {
    val err = System.err
    def line(name: String, xs: Seq[Double]): Unit = {
      val (q1, q3) = quartiles(xs)
      err.println(f"perfbench:   $name%-28s median ${median(xs)}%.4f  q1 $q1%.4f  q3 $q3%.4f  n ${xs.size}")
    }
    err.println(s"perfbench: workload ${a.workload} seed ${a.seed} nproc ${a.nproc} trace ${a.trace}")
    err.println(s"perfbench:   rounds (s) ${(plain ++ traced).map(r => f"${r.seconds}%.3f").mkString(" ")}")
    if (retained.nonEmpty)
      err.println(s"perfbench:   retained after round (MB) ${retained.map(m => f"$m%.1f").mkString(" ")}")
    line("round_s (untraced)", plain.map(_.seconds))
    line("items_per_s (untraced)", plain.map(r => r.items / r.seconds))
    if (traced.nonEmpty) {
      line("round_s (traced)", traced.map(_.seconds))
      traced.flatMap(_.layer.keys).distinct.sorted.foreach(k =>
        line(k, traced.map(_.layer.getOrElse(k, 0.0))))
    }
    metrics.foreach { case (k, v, u) => err.println(f"perfbench: $k%-28s $v%.6f $u") }
  }

  private def writeTrace(a: Args, tracer: Tracer): Unit = if (a.trace) {
    val sb = new StringBuilder("{\"spans\": [")
    sb ++= tracer.spans.map(s =>
      f"""{"name": "${s.name}", "trace": ${s.traceId}, "id": ${s.id}, "parent": ${s.parent}, "start_s": ${s.startNs / 1e9}%.6f, "end_s": ${s.endNs / 1e9}%.6f}""")
      .mkString(",\n")
    sb ++= "],\n\"self_s\": {"
    sb ++= tracer.selfSeconds.toSeq.sortBy(_._1).map { case (k, v) =>
      f""""$k": $v%.6f""" }.mkString(", ")
    sb ++= "}}\n"
    Files.createDirectories(a.traceOut.getParent)
    Files.write(a.traceOut, sb.toString.getBytes(StandardCharsets.UTF_8))
    System.err.println("perfbench: span self time (s, summed over traced rounds and probes):")
    tracer.selfSeconds.toSeq.sortBy(-_._2).foreach { case (k, v) =>
      System.err.println(f"perfbench:   $k%-28s $v%.4f") }
  }
}
