package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions.{col, input_file_name}

import graft.pipeline.{CorpusWriter, Dedup, TrainingPipeline}

final case class Doc(doc_id: Long, source: String, text: String)

/**
 * corpus_build: the training-data half. Synthetic documents over a Zipf
 * vocabulary from four sources, with planted exact-duplicate groups,
 * planted near-duplicate families (a base document plus copies that each
 * append one token) and a share of low-quality junk. One pass runs
 * Dedup.minhashLshPairsFast and Dedup.connectedComponents, then
 * TrainingPipeline.buildCorpus and CorpusWriter.writeShards. CPU and
 * shuffle heavy; touches no replication layer.
 */
final class CorpusBuild(env: Env) extends Workload {
  import CorpusBuild._

  private var docsPath: String = _
  private var outDir: String = _
  private var groups: Set[Set[Long]] = Set.empty
  private var keep: Map[Long, String] = Map.empty

  def setup(): Unit = {
    val d = env.work.resolve("corpus")
    docsPath = Fs.uri(d.resolve("docs"))
    outDir = Fs.uri(d.resolve("shards"))
    val docs = generate(new Random(env.seed))
    val spark = env.spark
    import spark.implicits._
    spark.createDataset(docs).repartition(env.nproc).write.parquet(docsPath)
  }

  /** Build the documents and record the truth the checks use: the planted
    * groups (exact-duplicate groups and near-duplicate families) and the
    * documents the corpus must keep (every good document, one per exact
    * group, the lowest id). */
  private def generate(rng: Random): Seq[Doc] = {
    val vocab = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < Vocab) {
        val n = 3 + rng.nextInt(7)
        seen += (0 until n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      }
      seen.toVector.filterNot(Stopwords.contains)
    }
    val cdf = {
      val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, ZipfS))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def word(): String =
      if (rng.nextDouble() < StopShare) Stopwords(rng.nextInt(Stopwords.size))
      else {
        val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
        vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
      }
    def goodText(): String =
      (0 until MinTokens + rng.nextInt(MaxTokens - MinTokens)).map(_ => word()).mkString(" ")
    def junkText(): String =
      (0 until 12 + rng.nextInt(9)).map(_ => rng.nextInt(1000000).toString).mkString(" ")

    // texts first, ids after a shuffle so planted groups are not adjacent
    val texts = mutable.ArrayBuffer.empty[(String, Int)] // text, group (-1 none)
    var g = 0
    (0 until ExactGroups).foreach { _ =>
      val t = goodText()
      (0 until 2 + rng.nextInt(2)).foreach(_ => texts += ((t, g)))
      g += 1
    }
    (0 until Families).foreach { f =>
      val base = goodText()
      texts += ((base, g))
      (0 until 2 + rng.nextInt(2)).foreach(k => texts += ((s"$base zq${f}x$k", g)))
      g += 1
    }
    val junk = (Docs * JunkShare).toInt
    (0 until junk).foreach(_ => texts += ((junkText(), -2)))
    while (texts.size < Docs) texts += ((goodText(), -1))
    val ids = rng.shuffle((1L to texts.size.toLong).toVector)
    val docs = texts.zip(ids).map { case ((t, _), id) =>
      Doc(id, Sources(rng.nextInt(Sources.size)), t) }
    val withGroup = texts.zip(docs).map { case ((_, grp), doc) => (grp, doc) }
    groups = withGroup.filter(_._1 >= 0).groupBy(_._1).values
      .map(_.map(_._2.doc_id).toSet).toSet
    val exactGroupOf = withGroup.filter(x => x._1 >= 0 && x._1 < ExactGroups)
      .groupBy(_._1).values.map(_.map(_._2.doc_id))
    val dropped = exactGroupOf.flatMap(ids => ids.sorted.tail).toSet
    keep = withGroup.collect { case (grp, d) if grp != -2 && !dropped(d.doc_id) =>
      d.doc_id -> d.source }.toMap
    docs.toSeq
  }

  def round(r: Int, t: Tracer): Round = {
    val spark = env.spark
    val docs = spark.read.parquet(docsPath)
    val pairs = Dedup.minhashLshPairsFast(docs, k = MinhashK, bands = Bands)
      .filter(col("jaccard") >= NearDupJaccard)
    val layer = mutable.Map.empty[String, Double]
    val (secs, cpu, clusters) = env.timed(t, layer) {
      val clusters = t.span("pipeline.neardup") {
        Dedup.connectedComponents(pairs).collect()
          .map(row => row.getLong(0) -> row.getLong(1))
      }
      val corpus = t.span("pipeline.build") {
        val c = TrainingPipeline.buildCorpus(docs, Config).persist()
        c.count()
        c
      }
      t.span("pipeline.write") {
        CorpusWriter.writeShards(corpus, outDir, Seq("split", "source"), "doc_id",
          ShardsPerLeaf, sortCols = Seq("bin_id"), numTasks = Leaves * ShardsPerLeaf)
      }
      corpus.unpersist(blocking = true)
      clusters
    }
    val errors = mutable.ArrayBuffer.empty[String]
    val found = clusters.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    (groups -- found).take(3).foreach(g => errors += s"planted group ${g.toSeq.sorted} not one cluster")
    (found -- groups).take(3).foreach(g => errors += s"unplanted cluster ${g.toSeq.sorted}")
    val written = spark.read.parquet(outDir)
      .select(col("doc_id"), col("source"), input_file_name().as("file")).collect()
      .map(row => (row.getLong(0), row.getString(1), row.getString(2)))
    written.groupBy(_._1).filter(_._2.length != 1).take(3).foreach { case (id, rows) =>
      errors += s"doc $id written ${rows.length} times" }
    val got = written.map(w => w._1 -> w._2).toMap
    if (got != keep) {
      val missing = (keep.keySet -- got.keySet).take(3)
      val extra = (got.keySet -- keep.keySet).take(3)
      val moved = keep.keySet.intersect(got.keySet).filter(k => keep(k) != got(k)).take(3)
      errors += s"written docs differ: missing $missing extra $extra wrong source $moved"
    }
    if (t.enabled) {
      layer("pipeline.dup_pairs") = pairs.count().toDouble
      layer("pipeline.clusters") = found.size.toDouble
      layer("pipeline.kept_ratio") = written.length.toDouble / Docs
    }
    Round(secs, cpu, Docs.toLong, 1L, 0L, errors.toSeq, layer.toMap)
  }
}

object CorpusBuild {
  val Docs = 1000
  val Vocab = 20000
  val ZipfS = 1.0
  val StopShare = 0.3
  val Stopwords: Vector[String] = Vector("the", "a", "of", "and", "is")
  val MinTokens = 60
  val MaxTokens = 160
  val JunkShare = 0.05
  // ~10% of documents are copies in exact groups of 2-3
  val ExactGroups = 40
  val Families = 20
  val Sources: Vector[String] = Vector("web", "books", "news", "forums")
  // 8 bands of 2 rows: a family member (Jaccard >= 0.98 to its base)
  // misses every band with probability below 1e-10
  val MinhashK = 16
  val Bands = 8
  val NearDupJaccard = 0.5
  val Config = TrainingPipeline.Config(minQuality = 0.3, packBudget = 2048L)
  val ShardsPerLeaf = 2
  val Leaves = 12 // 3 splits x 4 sources
}
