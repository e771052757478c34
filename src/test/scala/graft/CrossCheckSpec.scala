package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Similarity}
import graft.sim.WarehouseSim

/**
 * Cross-verification of the three rows-only queries against their
 * exact/oracle-checked twins, so "no DuckDB oracle" no longer means
 * "only a row count":
 *  - the xxhash64 fast LSH path finds the same verified pairs as the md5
 *    parity path;
 *  - the robust-skew path (exact pre-pass + bucket cap) loses nothing on
 *    an uncapped corpus and collapses clone clusters as designed;
 *  - random-hyperplane LSH top-k holds a recall floor against the
 *    brute-force baseline on the real embeddings table.
 */
class CrossCheckSpec extends TestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** Near-dup clusters (1 token changed in 60) + unrelated docs. */
  private def nearDupCorpus = {
    import spark.implicits._
    val clusters = (0 until 8).flatMap { c =>
      val base = (1 to 60).map(i => s"c${c}tok$i")
      Seq(
        (c * 10L + 1, base.mkString(" ")),
        (c * 10L + 2, base.updated(59, "altered").mkString(" ")))
    }
    val unrelated = (0 until 20).map(i =>
      (1000L + i, (1 to 60).map(j => s"lone$i-$j word$j").mkString(" ")))
    (clusters ++ unrelated).toDF("doc_id", "text")
  }

  test("fast LSH (xxhash64) finds the same verified pairs as the md5 oracle path") {
    val docs = nearDupCorpus
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.filter(col("jaccard") >= 0.7).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5Pairs = pairs(Dedup.minhashLshPairs(docs))
    val fastPairs = pairs(Dedup.minhashLshPairsFast(docs))
    assert(md5Pairs.nonEmpty, "fixture found no near-dup pairs at all")
    assert(fastPairs == md5Pairs,
      s"fast=${fastPairs.toSeq.sorted} md5=${md5Pairs.toSeq.sorted}")
  }

  test("robust-skew path: lossless without skew; clone clusters collapse to reps") {
    import spark.implicits._
    val docs = nearDupCorpus
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.filter(col("jaccard") >= 0.7).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no exact dups + buckets far below the cap ⇒ identical to the plain
    // fast path (the cap and pre-pass must not drop legitimate pairs)
    assert(pairs(Dedup.minhashLshPairsRobust(docs, bucketCap = 50)) ==
      pairs(Dedup.minhashLshPairsFast(docs)))
    // 400 exact clones of one doc: the pre-pass collapses them, so the
    // robust result equals the fast path run on representatives only
    val hot = docs.orderBy("doc_id").limit(1)
      .select(explode(sequence(lit(1L), lit(400L))).as("i"), col("text"))
      .select((col("i") + 10000000L).as("doc_id"), col("text"))
    val skewed = docs.unionAll(hot)
    val reps = skewed.groupBy(graft.pipeline.TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    assert(pairs(Dedup.minhashLshPairsRobust(skewed, bucketCap = 50)) ==
      pairs(Dedup.minhashLshPairsFast(reps)))
  }

  test("incremental LSH equals the full path restricted to increment-touching pairs") {
    val docs = nearDupCorpus
    val isNew = (id: org.apache.spark.sql.Column) => id % 10 === 2
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairSet(Dedup.minhashLshPairs(docs))
    val expected = full.filter { case (a, b) => a % 10 == 2 || b % 10 == 2 }
    val inc = pairSet(Dedup.minhashLshPairsIncremental(docs, isNew))
    assert(expected.nonEmpty, "fixture produced no increment-touching pairs")
    assert(inc == expected,
      s"inc=${inc.toSeq.sorted} expected=${expected.toSeq.sorted}")
    // and no old×old pair sneaks in
    assert(inc.forall { case (a, b) => a % 10 == 2 || b % 10 == 2 })
  }

  test("decontaminate removes exactly the corpus docs leaking benchmark shingles") {
    import spark.implicits._
    val bench = Seq(
      (1000L, (1 to 40).map(i => s"benchA$i").mkString(" ")),
      (2000L, (1 to 40).map(i => s"benchB$i").mkString(" "))).toDF("doc_id", "text")
    val leaked = // contains a verbatim 20-token span of benchmark doc A
      (1 to 10).map(i => s"pre$i").mkString(" ") + " " +
        (5 to 25).map(i => s"benchA$i").mkString(" ")
    val corpus = Seq(
      (1L, leaked),
      (2L, (1 to 40).map(i => s"clean$i").mkString(" ")),
      (3L, (1 to 40).map(i => s"other$i word$i").mkString(" "))).toDF("doc_id", "text")
    val report = graft.pipeline.Decontamination.overlaps(corpus, bench, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(report.map(t => (t._1, t._2)).toSet == Set((1L, 1000L)), report.toSeq)
    assert(report.head._3 >= 15, "the 20-token leak shares >= 15 3-shingles")
    val clean = graft.pipeline.Decontamination
      .decontaminate(corpus, bench, minShared = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L))
    // df-prune: with maxDf=0 every shingle is "too common" — no matches
    assert(graft.pipeline.Decontamination
      .overlaps(corpus, bench, 1, maxDf = Some(0)).isEmpty)
  }

  test("bloom-prefiltered decontamination equals the exact path at any fpp") {
    val docs = WarehouseSim.read(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val exact = graft.pipeline.Decontamination
      .overlaps(corpus, bench, minShared = 3, maxDf = Some(100))
      .collect().map(_.toSeq).toSet
    for (fpp <- Seq(0.5, 0.01)) { // even an awful filter must stay exact
      val bloom = graft.pipeline.Decontamination
        .overlapsBloom(corpus, bench, minShared = 3, maxDf = Some(100), fpp = fpp)
        .collect().map(_.toSeq).toSet
      assert(bloom == exact, s"fpp=$fpp diverged")
    }
  }

  test("HLL vocab sketch tracks the exact distinct-token counts") {
    val toks = WarehouseSim.read(spark, "/root/testdata/sf0.01", "documents")
      .select(col("source"),
        explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
    val exact = toks.groupBy("source").agg(countDistinct("tok").as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = toks.groupBy("source")
      .agg(approx_count_distinct("tok", 0.02).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (s, e) =>
      assert(math.abs(approx(s) - e) <= 0.05 * e,
        s"$s: approx ${approx(s)} vs exact $e")
    }
  }

  test("decontamination: colliding id spaces still report same-id contamination") {
    import spark.implicits._
    // corpus doc 1 and benchmark doc 1 are DIFFERENT documents whose
    // sequentially-assigned ids happen to collide — the leak must be found
    val shared = (1 to 30).map(i => s"leak$i").mkString(" ")
    val corpus = Seq(
      (1L, "corpus preamble " + shared),
      (2L, (1 to 40).map(i => s"clean$i").mkString(" "))).toDF("doc_id", "text")
    val bench = Seq((1L, shared)).toDF("doc_id", "text")
    val found = graft.pipeline.Decontamination
      .overlaps(corpus, bench, minShared = 3)
      .select("doc_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == Set((1L, 1L)), s"same-id contamination suppressed: $found")
    assert(graft.pipeline.Decontamination
      .decontaminate(corpus, bench, minShared = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
    // subset mode: the benchmark IS corpus rows — self-pairs are trivial
    val subsetPairs = graft.pipeline.Decontamination
      .overlaps(corpus, corpus.filter($"doc_id" === 1L), minShared = 3,
        benchIsCorpusSubset = true)
      .collect()
    assert(subsetPairs.isEmpty, subsetPairs.mkString(","))
  }

  test("percentile_approx sketch tracks the exact quantiles") {
    // the scale path for order statistics is the sketch (mergeable,
    // bounded memory); it must stay within its accuracy contract of the
    // exact interpolated quantiles the oracle verifies
    val docs = WarehouseSim.read(spark, "/root/testdata/sf0.01", "documents")
      .select(col("source"),
        size(graft.pipeline.TextAnalysis.tokens(col("text")))
          .cast("double").as("nt"))
    val exact = docs.groupBy("source")
      .agg(expr("percentile(nt, 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = docs.groupBy("source")
      .agg(expr("percentile_approx(nt, 0.5, 10000)").as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (src, e) =>
      // high-accuracy sketch on small strata: within one token of exact
      // (approx returns an actual sample, exact may interpolate between)
      assert(math.abs(approx(src) - e) <= 1.0,
        s"$src: approx=${approx(src)} exact=$e")
    }
  }

  test("connected components collapse transitive near-dup chains") {
    import spark.implicits._
    // chain 1-2-3-5 (min label must travel 3 hops), plus two more
    // components and an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L), s"$cc")
    // empty input → empty output, right schema
    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(empty.columns.toSeq == Seq("doc_id", "cluster_id") && empty.count() == 0)
  }

  test("sourceOverlap: directional matrix with exact fractions on a fixture") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, text, "A"),                        // near-dups doc 2 across sources
      (2L, text + " ok", "B"),
      (3L, "completely different content about spark catalyst plans", "B"),
      (4L, text, "A")                          // same-source near-dup: excluded
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // A→B: docs 1 and 4 each pair with 2 ⇒ 2 pairs, 2 distinct A docs / |A|=2
    assert(out(("A", "B")) == ((2L, 2L, 1.0)))
    // B→A: doc 2 pairs with both ⇒ 2 pairs, 1 distinct B doc / |B|=2
    assert(out(("B", "A")) == ((2L, 1L, 0.5)))
    assert(out.size == 2, "same-source pairs must not appear")
  }

  test("minePairs: best positive and hardest negative per anchor; anchors without positives drop") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0),     // anchor
      (2L, Seq(1.0f, 0.1f), 0),     // cos ~0.995 — best positive
      (3L, Seq(0.7f, 0.714f), 0),   // cos ~0.70 — weaker positive
      (4L, Seq(0.2f, 0.98f), 0),    // cos ~0.20 — hardest negative
      (5L, Seq(-1.0f, 0.0f), 0),    // cos -1 — easy negative, not chosen
      (6L, Seq(1.0f, 0.0f), 1),     // cell 1: only an orthogonal partner
      (7L, Seq(0.0f, 1.0f), 1)      //   -> no positive, both anchors drop
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.minePairs(emb, posLo = 0.3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    assert(!out.contains(6L) && !out.contains(7L))
    val (posId, posSim, negId, negSim) = out(1L)
    assert(posId == 2L && negId == 4L)
    assert(posSim >= 0.3 && negSim < 0.3 && negSim > -1.0)
    // doc 4's own positive is doc 3 (cos ~0.84); doc 5 sees none
    assert(out(4L)._1 == 3L)
    assert(!out.contains(5L), "doc 5 has no positive")
  }

  test("cluster keepers: one per cluster, best quality wins, singletons kept") {
    import spark.implicits._
    val docs = WarehouseSim.read(spark, "/root/testdata/sf0.001", "documents")
    val pairs = Dedup.simhashPairs(docs)
    val out = Dedup.clusterKeepers(docs, pairs)
    assert(out.count() == docs.count(), "one row per document")
    // exactly one keeper per cluster
    val perCluster = out.groupBy("cluster_id")
      .agg(org.apache.spark.sql.functions.sum("is_keeper").as("k"))
    assert(perCluster.filter(col("k") =!= 1).count() == 0)
    // the keeper's quality is the cluster max
    val best = out.groupBy("cluster_id")
      .agg(org.apache.spark.sql.functions.max("quality_score").as("q"))
    val kept = out.filter(col("is_keeper") === 1)
      .join(best, "cluster_id")
    assert(kept.filter(col("quality_score") =!= col("q")).count() == 0)
    // a doc in no pair is its own cluster's keeper
    val paired = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val singles = out.join(paired, Seq("doc_id"), "left_anti")
    assert(singles.filter(col("is_keeper") =!= 1 ||
      col("cluster_id") =!= col("doc_id")).count() == 0)
  }

  test("alternating CC equals the public CC on the real near-dup graph") {
    import spark.implicits._
    // same fixtures as the connected-components test above: chains,
    // multiple components, empty input...
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("doc_a", "doc_b")
    val alt = Dedup.connectedComponentsAlternating(pairs)
      .as[(Long, Long)].collect().toMap
    assert(alt == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L), s"$alt")
    val empty = Dedup.connectedComponentsAlternating(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(empty.columns.toSeq == Seq("doc_id", "cluster_id") && empty.count() == 0)
    // ... and full equality against the public entry (the driver
    // union-find at this size) on the REAL simhash near-dup graph from
    // the test corpus
    val real = Dedup.simhashPairs(WarehouseSim.read(spark, sfDir, "documents"))
      .select("doc_a", "doc_b").localCheckpoint()
    val a = Dedup.connectedComponentsAlternating(real)
      .as[(Long, Long)].collect().toMap
    val m = Dedup.connectedComponents(real)
      .as[(Long, Long)].collect().toMap
    assert(a == m, s"alternating and public labelings differ: " +
      s"${(a.toSet diff m.toSet).take(5)} / ${(m.toSet diff a.toSet).take(5)}")
  }

  test("pathological chain: alternating refuses at a too-small round budget") {
    import spark.implicits._
    // a 600-node path graph — diameter 599. Large-star/small-star takes
    // about log2(600) rounds on it, so a budget of 3 rounds cannot
    // converge and must fail LOUDLY (silent truncation would split one
    // component into many); a budget of 15 suffices. 599 edges is under
    // LocalCcMaxEdges, so the public call labels on the driver, which has
    // no rounds; the budget applies to the distributed labeler, called
    // directly.
    val chain = (1L until 600L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val refused = intercept[IllegalStateException] {
      Dedup.connectedComponentsAlternating(chain, maxIter = 3)
    }
    assert(refused.getMessage.contains("did not converge"))
    assert(Dedup.lastCcRounds == 3)
    val local = Dedup.connectedComponents(chain, maxIter = 3)
      .as[(Long, Long)].collect()
    assert(local.length == 600 && local.forall(_._2 == 1L),
      s"chain must collapse to cluster 1: ${local.filter(_._2 != 1L).take(5).toSeq}")
    val alt = Dedup.connectedComponentsAlternating(chain, maxIter = 15)
      .as[(Long, Long)].collect()
    assert(alt.length == 600 && alt.forall(_._2 == 1L),
      s"chain must collapse to cluster 1: ${alt.filter(_._2 != 1L).take(5).toSeq}")
    assert(Dedup.lastCcRounds <= 15)
  }

  test("IVF multi-probe: nprobe >= cell count equals brute force; recall is monotone in nprobe") {
    import spark.implicits._
    val e = WarehouseSim.read(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    val nCells = e.select("label").distinct().count().toInt
    // probing every cell = no pruning at all: the ranking must be
    // EXACTLY brute force (same rounding, same tie-breaks)
    val all = Similarity.ivfTopKMultiProbe(q, e, 5, nprobe = nCells)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(q, e, 5)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(all == bf, s"full-probe IVF must equal brute force; " +
      s"diff: ${(all diff bf).take(5)} / ${(bf diff all).take(5)}")
    // recall against brute force can only improve as nprobe grows
    def recall(n: Int): Double = {
      val got = Similarity.ivfTopKMultiProbe(q, e, 5, nprobe = n)
        .select("q_id", "c_id").as[(Long, Long)].collect().toSet
      val want = bf.map(t => (t._1, t._2))
      got.intersect(want).size.toDouble / want.size
    }
    val r1 = recall(1); val r2 = recall(2)
    assert(r2 >= r1, s"recall must be monotone in nprobe: $r1 -> $r2")
  }

  test("binary sign-sketch ANN: unbounded candMult equals cell-exact IVF; " +
      "recall is monotone in candMult") {
    import spark.implicits._
    val e = WarehouseSim.read(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    // candMult*k >= any cell size => the Hamming pre-rank prunes nothing
    // and the ranking must EXACTLY equal the cell-exact IVF top-k
    val maxCell = e.groupBy("label").count()
      .agg(max("count")).collect().head.getLong(0).toInt
    val all = Similarity.binaryTopK(q, e, 5, candMult = maxCell)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfTopK(q, e, 5)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(all == ivf, s"unpruned binary must equal cell-exact IVF; " +
      s"diff: ${(all diff ivf).take(5)} / ${(ivf diff all).take(5)}")
    // recall against the cell-exact ranking is monotone in candMult
    def recall(m: Int): Double = {
      val got = Similarity.binaryTopK(q, e, 5, candMult = m)
        .select("q_id", "c_id").as[(Long, Long)].collect().toSet
      val want = ivf.map(t => (t._1, t._2))
      got.intersect(want).size.toDouble / want.size
    }
    val r2 = recall(2); val r8 = recall(8)
    assert(r8 >= r2, s"recall must be monotone in candMult: $r2 -> $r8")
    assert(r8 >= 0.5, s"candMult=8 recall floor: $r8")
  }

  test("persisted IVF index: full probe equals brute force; nprobe=2 holds " +
      "a recall floor") {
    import spark.implicits._
    val e = WarehouseSim.read(spark, sfDir, "embeddings")
    val dir = tmpDir("ivf-cross").toString
    Similarity.buildIvfIndex(e, dir, kCells = 8, iters = 2)
    val q = e.filter(col("vec_id") < 8)
    val k = 5
    // probing every cell = no pruning: serving from DISK must equal the
    // in-memory brute force exactly (same rounding, same tie-breaks)
    val full = Similarity.indexedTopK(spark, q, dir, k, nprobe = 8)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(q, e, k)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full == bf, s"full-probe indexed serve must equal brute force; " +
      s"diff: ${(full diff bf).take(5)} / ${(bf diff full).take(5)}")
    // the production setting (nprobe = 2 of 8 cells) keeps most of the
    // true top-k — the recall/cost trade the index exists for
    val idx = Similarity.indexedTopK(spark, q, dir, k, nprobe = 2)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val want = bf.map(t => (t._1, t._2))
    val recall = idx.intersect(want).size.toDouble / want.size
    assert(recall >= 0.5, f"indexed nprobe=2 recall $recall%.2f < 0.50 floor")
  }

  test("LSH top-k holds a recall floor against brute force on real embeddings") {
    val e = WarehouseSim.read(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    val k = 5
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(Similarity.bruteForceTopK(q, e, k))
    val approx = resultSet(Similarity.lshTopK(q, e, k))
    val recall = (exact & approx).size.toDouble / exact.size
    // an approximate index that finds under half of the true top-k on this
    // corpus is broken, not "approximate" — 8-bit buckets measured ~0.6+
    assert(recall >= 0.4, f"LSH top-$k recall $recall%.2f < 0.40 floor " +
      s"(|exact|=${exact.size}, |approx∩exact|=${(exact & approx).size})")
  }

  test("IVF-PQ top-k holds a recall floor against the cell-exact IVF path") {
    // PQ approximates WITHIN the IVF cell, so the fair baseline is the
    // exact-cosine scan of the same cell (ivfTopK) — recall loss beyond
    // that is pure quantization error. m=8 subspaces over dim 64 with a
    // 4x rescore pool measured ~0.9+ here; below half is a broken index.
    val e = WarehouseSim.read(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    val k = 5
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cellExact = resultSet(Similarity.ivfTopK(q, e, k))
    val pq = resultSet(Similarity.pqTopK(q, e, k))
    val recall = (cellExact & pq).size.toDouble / cellExact.size
    assert(recall >= 0.5, f"IVF-PQ top-$k recall $recall%.2f < 0.50 floor " +
      s"(|exact|=${cellExact.size}, |pq∩exact|=${(cellExact & pq).size})")
  }

  test("NLL tiers: sketch-boundary assignment agrees with the exact ntile path") {
    // the documented 100-TB twin: percentile_approx boundaries + a
    // scan-side bucket compare, vs the exact single-sort ntile. With the
    // sketch at max accuracy the two disagree only on boundary ties.
    val docs = WarehouseSim.read(spark, "/root/testdata/sf0.001", "documents")
    val exact = graft.pipeline.TextAnalysis.nllTiers(docs)
    val approx = graft.pipeline.TextAnalysis.nllTiersApprox(docs)
    val joined = exact.as("e").join(approx.as("a"), "doc_id")
      .select(col("e.tier").as("et"), col("a.tier").as("at"))
      .collect()
    val agree = joined.count(r => r.getLong(0) == r.getLong(1))
    val frac = agree.toDouble / joined.length
    assert(frac >= 0.95,
      f"sketch-tier agreement $frac%.3f < 0.95 (n=${joined.length})")
  }

  test("containment LSH holds a recall floor against exact containment on planted pairs") {
    import spark.implicits._
    // 40 background docs with disjoint vocabularies, plus 6 planted
    // containment pairs: a small doc fully contained in a ~5x larger one
    // (token Jaccard ~0.2 — exactly the asymmetric case a fixed-block
    // Jaccard gate misses). Deterministic fixture, no randomness.
    val background = (1 to 40).map { i =>
      (i.toLong, (1 to 60).map(j => s"bg${i}_$j").mkString(" "))
    }
    val planted = (1 to 6).flatMap { p =>
      val small = (1 to 20).map(j => s"leak${p}_$j")
      val large = small ++ (1 to 80).map(j => s"wrap${p}_$j")
      Seq((100L + p, small.mkString(" ")), (200L + p, large.mkString(" ")))
    }
    val docs = (background ++ planted).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: exact containment over ALL pairs (single block)
    val exact = pairSet(graft.pipeline.Dedup.containmentPairs(
      docs.withColumn("blk", lit(1)), "blk", 0.8))
    assert(exact.size >= 6, s"fixture must plant >=6 pairs, got $exact")
    val lsh = pairSet(graft.pipeline.Dedup.containmentPairsLsh(docs, 0.8))
    // no false positives possible (exact verify), so lsh ⊆ exact
    assert((lsh -- exact).isEmpty, s"false positives: ${lsh -- exact}")
    val recall = (lsh & exact).size.toDouble / exact.size
    // per-pair survival at J~0.2 under the g=1 fallback is
    // 1-(1-J)^16 ~ 0.97; 0.6 leaves room for tier-boundary effects
    assert(recall >= 0.6, f"containment LSH recall $recall%.2f < 0.60 " +
      s"(|exact|=${exact.size}, |lsh∩exact|=${(lsh & exact).size})")
  }

  test("SQ8 rescored top-k holds a recall floor against the unquantized IVF path") {
    val e = WarehouseSim.read(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    val k = 5
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = resultSet(Similarity.ivfTopK(q, e, k))
    val sq8 = resultSet(Similarity.sq8TopK(q, e, k))
    val recall = (ivf & sq8).size.toDouble / ivf.size
    // same cells, same rescore — the only loss is the int8 pre-rank
    // dropping a true neighbor below candMult*k; measured 1.0 here
    assert(recall >= 0.8, f"SQ8 top-$k recall $recall%.2f < 0.80 floor " +
      s"(|ivf|=${ivf.size}, |sq8∩ivf|=${(ivf & sq8).size})")
  }

  test("JL random-projection top-k: cell-covering candMult equals IVF; default holds a floor") {
    val e = WarehouseSim.read(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    val k = 5
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = resultSet(Similarity.ivfTopK(q, e, k))
    // candMult*k >= max cell size -> the sketch pre-rank prunes nothing
    // and the exact rescore must reproduce cell-exact IVF verbatim
    val maxCell = e.groupBy("label").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0).toInt
    val full = resultSet(Similarity.rpTopK(q, e, k,
      rDim = 16, candMult = maxCell / k + 1))
    assert(full == ivf, s"cell-covering RP must equal IVF; " +
      s"diff: ${(full diff ivf).take(5)} / ${(ivf diff full).take(5)}")
    // default candMult: JL concentration keeps most true neighbors in
    // the survivor set (measured 0.95 on this corpus at rDim 16, cm 8)
    val rp = resultSet(Similarity.rpTopK(q, e, k, rDim = 16, candMult = 8))
    val recall = (ivf & rp).size.toDouble / ivf.size
    assert(recall >= 0.8, f"RP top-$k recall $recall%.2f < 0.80 floor " +
      s"(|ivf|=${ivf.size}, |rp∩ivf|=${(ivf & rp).size})")
  }

  test("lshTuningReport: identical docs are always tp; ratios are consistent") {
    import spark.implicits._
    // rate=1.0 keeps every doc: two identical docs (jaccard 1.0, all
    // bands equal -> guaranteed LSH candidate AND ground truth), one
    // moderate near-dup, many unrelated docs
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = (Seq(
      (1L, base), (2L, base),
      (3L, (1 to 40).map(i => if (i > 35) s"alt$i" else s"tok$i").mkString(" ")))
      ++ (10 until 30).map(i =>
        (i.toLong, (1 to 40).map(j => s"u$i-$j").mkString(" "))))
      .toDF("doc_id", "text")
    val r = Dedup.lshTuningReport(docs, rate = 1.0, threshold = 0.7).head()
    val (nDocs, nTrue, nCand, tp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nDocs == 23L)
    assert(nTrue >= 1L, "the identical pair must be ground truth")
    assert(tp >= 1L, "the identical pair must be an LSH candidate")
    assert(tp <= math.min(nCand, nTrue))
    assert(r.getDouble(4) ==
      (if (nCand > 0) BigDecimal(tp.toDouble / nCand)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0))
    assert(r.getDouble(5) ==
      (if (nTrue > 0) BigDecimal(tp.toDouble / nTrue)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0))
  }

  test("recallReport: exact arithmetic, zero-hit rows included") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("q_id", "c_id")
    val good = Seq((1L, 10L), (1L, 11L), (2L, 21L)).toDF("q_id", "c_id")
    val bad = Seq((1L, 99L), (2L, 98L)).toDF("q_id", "c_id")
    val rep = Similarity.recallReport(exact,
        Seq("good" -> good, "bad" -> bad))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rep(("good", 1L)) == ((2L, 2L, 1.0)))
    assert(rep(("good", 2L)) == ((2L, 1L, 0.5)))
    assert(rep(("bad", 1L)) == ((2L, 0L, 0.0)), "zero-hit query must row")
    assert(rep(("bad", 2L)) == ((2L, 0L, 0.0)))
    assert(rep.size == 4)
  }

  test("incremental containment equals the batch pairs restricted to pairs touching the increment") {
    val docs = WarehouseSim.read(spark, sfDir, "documents")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val batch = Dedup.containmentPairsLsh(docs, 0.8).collect().map(key)
      .filter(p => p._1 % 4 == 0 || p._2 % 4 == 0).toSet
    val inc = Dedup.containmentPairsLshIncremental(docs,
      id => id % 4 === 0, 0.8).collect().map(key).toSet
    assert(inc == batch,
      s"incremental-only: ${(inc -- batch).take(3)}; " +
        s"batch-only: ${(batch -- inc).take(3)}")
    assert(inc.nonEmpty, "fixture must exercise the admission path")
  }

  test("gopher inline (zero-shuffle HOF) is bit-equal to the exploded bundle on the corpus") {
    import graft.pipeline.TextAnalysis
    val docs = WarehouseSim.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"))
    val a = TextAnalysis.gopherRepetition(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val b = TextAnalysis.gopherRepetitionInline(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(a.keySet == b.keySet)
    val diffs = a.keys.filter(k => a(k) != b(k))
    assert(diffs.isEmpty,
      s"inline/exploded divergence on docs ${diffs.take(3).toList}: " +
        diffs.take(1).toList.map(k => s"${a(k)} vs ${b(k)}").mkString)
  }

  test("gopher inline equality holds on adversarial repetition fixtures") {
    import graft.pipeline.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      1L -> Seq.fill(30)("tok").mkString(" "), // every gram duplicated
      2L -> "ab cd ab cd ab cd xx yy", // argmax with interior ties
      3L -> (1 to 40).map(i => s"w$i").mkString(" "), // all distinct
      4L -> "one two", // shorter than most n
      5L -> ("p q r s t u v w x y z " * 3).trim) // period-11 repeats
      .map { case (i, t) => (i, t) }
      .toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val a = TextAnalysis.gopherRepetition(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val b = TextAnalysis.gopherRepetitionInline(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(a == b)
    val c = TextAnalysis.gopherRepetitionNative(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(a == c, "native GopherStats diverges on adversarial fixtures")
  }

  test("gopher native expression is bit-equal to both siblings on the corpus") {
    import graft.pipeline.TextAnalysis
    val docs = WarehouseSim.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"))
    val a = TextAnalysis.gopherRepetition(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val c = TextAnalysis.gopherRepetitionNative(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(a.keySet == c.keySet)
    val diffs = a.keys.filter(k => a(k) != c(k))
    assert(diffs.isEmpty,
      s"native/exploded divergence on docs ${diffs.take(3).toList}: " +
        diffs.take(1).toList.map(k => s"${a(k)} vs ${c(k)}").mkString)
  }

  test("session_window boundary: gap-equal spacing merges, gap+1 splits") {
    // pins the semantics the w4 oracle encodes (a new session starts
    // only when the gap EXCEEDS the window gap — an event exactly at
    // the previous session's end merges; end = last event + gap) on
    // the exact boundary the corpus never hits
    import spark.implicits._
    val df = Seq((1L, 0L), (1L, 3600000000L),       // gap-equal -> merge
      (2L, 0L), (2L, 3599999999L),                  // gap-1 -> merge
      (3L, 0L), (3L, 3600000001L))                  // gap+1 -> split
      .toDF("uid", "us").withColumn("ts", timestamp_micros(col("us")))
    val sessions = df
      .groupBy(col("uid"), session_window(col("ts"), "1 hour").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("uid"), unix_micros(col("sw.end")).as("end_us"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sessions === Set(
      (1L, 7200000000L, 2L),
      (2L, 3599999999L + 3600000000L, 2L),
      (3L, 3600000000L, 1L), (3L, 7200000001L, 1L)))
  }

  test("reliable-checkpoint mode (spark.graft.checkpointDir) produces " +
      "identical CC labels and ranks to localCheckpoint mode") {
    import spark.implicits._
    val real = Dedup.simhashPairs(WarehouseSim.read(spark, sfDir, "documents"))
      .select("doc_a", "doc_b").localCheckpoint()
    // default mode (executor-local checkpoints). The public CC labels this
    // graph on the driver, so the checkpointing labeler is called directly.
    val altLocal = Dedup.connectedComponentsAlternating(real)
      .as[(Long, Long)].collect().toMap
    val rankLocal = Dedup.graphRank(real)
      .as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    try {
      spark.conf.set("spark.graft.checkpointDir", dir)
      val altRel = Dedup.connectedComponentsAlternating(real)
        .as[(Long, Long)].collect().toMap
      val rankRel = Dedup.graphRank(real)
        .as[(Long, Long)].collect().toMap
      assert(altRel == altLocal, "alternating CC labels diverge across modes")
      assert(rankRel == rankLocal, "graphRank diverges across modes")
      // the reliable mode must actually have written checkpoint state
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode wrote no checkpoint files")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      // the SparkContext-level dir sticks for the session; harmless for
      // other tests (Lineage.cut only checkpoints reliably when the
      // graft conf is set), but delete the files
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }
}
