package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.pipeline.Dedup

/**
 * The two paths of [[Dedup.connectedComponents]]: below
 * [[Dedup.LocalCcMaxEdges]] edge rows a union-find on the driver, above it
 * the distributed large-star/small-star rounds
 * ([[Dedup.connectedComponentsAlternating]]). Both must give the same
 * `(doc_id, cluster_id)` rows under the same schema, and the driver path
 * must start no Spark job past its `take`.
 */
class CcLocalSpec extends TestBase {

  import spark.implicits._

  private def rows(df: DataFrame): Set[(Option[Long], Option[Long])] =
    df.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet

  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.map(f => (f.name, f.dataType.simpleString))

  /** Asserts parity of the public entry (driver path here) with the
    * distributed labeler, and returns the labels. */
  private def parity(pairs: DataFrame): Set[(Option[Long], Option[Long])] = {
    val local = Dedup.connectedComponents(pairs)
    assert(Dedup.lastCcRounds == 0, "graph under the bound must label on the driver")
    val dist = Dedup.connectedComponentsAlternating(pairs)
    assert(shape(local) == shape(dist))
    assert(shape(local) == Seq("doc_id" -> "bigint", "cluster_id" -> "bigint"))
    val (l, d) = (rows(local), rows(dist))
    assert(l == d, s"driver-only ${(l diff d).take(5)} / distributed-only ${(d diff l).take(5)}")
    l
  }

  /** Min-id labels by breadth-first search, independent of both paths. */
  private def reference(edges: Seq[(Long, Long)]): Set[(Option[Long], Option[Long])] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seen = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { start =>
      if (!seen.contains(start)) {
        var frontier = Seq(start)
        seen(start) = start
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj).filterNot(seen.contains).distinct
          frontier.foreach(seen(_) = start)
        }
      }
    }
    seen.map { case (id, c) => (Some(id), Some(c)) }.toSet
  }

  private val Big = 7000000000000L

  private val shapes: Seq[(Long, Long)] = {
    val chain = (100L until 160L).map(i => (i, i + 1))
    val star = (201L to 230L).map(i => (200L, i))
    val cycle = (300L until 320L).map(i => (i, i + 1)) :+ (320L -> 300L)
    val clique = for (a <- 400L to 408L; b <- a + 1 to 408L) yield (b, a)
    val pairs = (500L until 540L by 2).map(i => (i + 1, i))
    val selfLoops = Seq(600L -> 600L, 601L -> 601L, 601L -> 602L)
    val dupAndReversed = Seq(700L -> 701L, 700L -> 701L, 701L -> 700L, 702L -> 701L, 702L -> 701L)
    val largeIds = Seq(Big + 9 -> Big, Big -> 3000000000L, 3000000000L -> 800L,
      Long.MaxValue -> (Long.MaxValue - 5), 9L -> (Big * 2))
    chain ++ star ++ cycle ++ clique ++ pairs ++ selfLoops ++ dupAndReversed ++ largeIds
  }

  test("shaped graphs: driver and distributed paths give identical labels and schema") {
    val got = parity(shapes.toDF("doc_a", "doc_b"))
    assert(got == reference(shapes))
    // spot checks that the shapes collapsed as intended
    val m = got.collect { case (Some(id), Some(c)) => id -> c }.toMap
    assert((100L to 160L).forall(m(_) == 100L) && (300L to 320L).forall(m(_) == 300L))
    assert(m(601L) == 601L && m(602L) == 601L && m(600L) == 600L)
    assert(m(Big + 9) == 800L && m(Long.MaxValue) == Long.MaxValue - 5 && m(Big * 2) == 9L)
  }

  test("empty pair frame: both paths return no rows under the same schema") {
    assert(parity(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).isEmpty)
  }

  test("random graphs: driver and distributed paths give identical labels") {
    Seq(7L, 424242L, 99L).foreach { seed =>
      val rng = new Random(seed)
      val n = 40 + rng.nextInt(200)
      val edges = Seq.fill(n) {
        (rng.nextInt(3 * n).toLong * 13, rng.nextInt(3 * n).toLong * 13)
      }
      val got = parity(edges.toDF("doc_a", "doc_b"))
      assert(got == reference(edges), s"seed $seed")
    }
  }

  test("a null endpoint: it joins nothing and both paths add one (null, null) row") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (5L, null), (null, 6L), (6L, 7L), (null, null))
      .toDF("doc_a", "doc_b")
    val none = Option.empty[Long]
    assert(parity(pairs) == Set(
      (Some(1L), Some(1L)), (Some(2L), Some(1L)),
      (Some(5L), Some(5L)), (Some(6L), Some(6L)), (Some(7L), Some(6L)),
      (none, none)))
  }

  test("above the bound the distributed loop runs and gives the same labels") {
    val pairs = shapes.toDF("doc_a", "doc_b")
    val expected = Dedup.connectedComponents(pairs)
    val over = Dedup.connectedComponentsBounded(pairs, "doc_a", "doc_b", 50,
      maxLocalEdges = shapes.size - 1)
    assert(Dedup.lastCcRounds > 0, "a graph over the bound must run the distributed rounds")
    assert(rows(over) == rows(expected) && shape(over) == shape(expected))
    // at exactly the bound it stays on the driver
    Dedup.connectedComponentsBounded(pairs, "doc_a", "doc_b", 50,
      maxLocalEdges = shapes.size)
    assert(Dedup.lastCcRounds == 0)
  }

  test("near-threshold sparse random graph: the distributed path matches BFS") {
    // average degree 1 (edges = ids / 2), the giant-component threshold:
    // a tree-like giant component with long paths plus many small ones,
    // the shape where label propagation needs rounds in the diameter
    Seq(11L, 424242L).foreach { seed =>
      val rng = new Random(seed)
      val ids = 6000
      val edges = Seq.fill(ids / 2)((rng.nextInt(ids).toLong, rng.nextInt(ids).toLong))
      val over = Dedup.connectedComponentsBounded(edges.toDF("doc_a", "doc_b"),
        "doc_a", "doc_b", 50, maxLocalEdges = 100)
      assert(Dedup.lastCcRounds > 0, "a graph over the bound must run the distributed rounds")
      assert(rows(over) == reference(edges), s"seed $seed")
    }
  }

  test("under the bound: one Spark job (the take), and none to collect the result") {
    val pairs = shapes.toDF("doc_a", "doc_b").coalesce(1).localCheckpoint()
    val (cc, jobs) = jobsStartedBy(Dedup.connectedComponents(pairs))
    assert(jobs <= 1, s"connectedComponents started $jobs jobs")
    val (labels, collectJobs) = jobsStartedBy(cc.collect())
    assert(collectJobs == 0, s"collecting the labels started $collectJobs jobs")
    assert(labels.length == reference(shapes).size)
    // take scans partitions in waves (1, then 4x as many), so a pair frame
    // of 4 partitions costs two jobs at most
    val wide = shapes.toDF("doc_a", "doc_b").repartition(4).localCheckpoint()
    val (_, wideJobs) = jobsStartedBy(Dedup.connectedComponents(wide))
    assert(wideJobs <= 2, s"a 4-partition frame started $wideJobs jobs")
  }
}
