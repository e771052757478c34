package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Semantic (embedding-space) clustering and deduplication for training
 * corpora — the SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540):
 * k-means-partition the embedding space, then remove near-duplicates
 * WITHIN each cluster by cosine similarity, so the pairwise work is
 * bounded by cluster size instead of corpus size.
 *
 * Spark shape, designed for the 100-TB case:
 *  - **assignment is a pure scan**: centroids are a k×dim literal
 *    (driver-held, like MLlib's broadcast in Lloyd's iterations), so
 *    assigning a vector is `argmin` over k codegen'd fold expressions —
 *    no shuffle, no join, embarrassingly parallel;
 *  - **centroid update is one partial-aggregated shuffle** of exactly
 *    k×dim `(cluster, dim) → mean` rows (`posexplode` + `avg` with
 *    map-side combine), independent of corpus size;
 *  - **dedup is a cluster-bounded equi self-join** — the same candidate
 *    shape as the IVF similarity path; a pathologically hot cluster is
 *    the LSH hot-bucket problem and takes the same cap treatment
 *    ([[Dedup.minhashLshPairsRobust]]'s approach) if one arises.
 *
 * Everything is deterministic and engine-mirrorable, so assignments,
 * cluster stats, and the kept-set are hash-verified against DuckDB:
 *  - init = the k lowest-id vectors (no RNG);
 *  - distances are sequential index-order folds (bit-identical across
 *    engines, same convention as [[Similarity.dot]]);
 *  - updated centroid components are rounded to 1e-6 — quantizing kills
 *    the cross-engine drift of float summation order (Spark's partial
 *    aggregates sum in partition order, any other engine in its own),
 *    which otherwise compounds across iterations.
 *
 * A cluster that loses all members simply disappears from the centroid
 * set (both engines derive centroids from the same assignment), so `k`
 * is an upper bound.
 */
object Semantic {

  private def asDouble(vecCol: Column): Column =
    transform(vecCol, x => x.cast("double"))

  /** Loud guard for the drift family: a ZERO-LENGTH embedding explodes
    * to no (cell, pos) rows, so it would silently vanish from per-cell
    * counts and the report would under-count without a trace — the same
    * silent-drop class the streaming late-data discipline forbids. Fail
    * the job instead; the caller filters empties knowingly or fixes the
    * feed. */
  private def requireNonEmptyVec(v: Column, op: String): Column =
    when(size(v) === 0, raise_error(lit(
      s"$op: zero-length embedding vector — it carries no components, " +
        "so it would silently vanish from per-cell counts; filter " +
        "empties explicitly or fix the embedding feed"))).otherwise(v)

  /** Sequential-fold squared L2 distance of a vector column against a
    * centroid literal — index order, bit-identical to the oracle fold. */
  private def sqDist(v: Column, centroid: Array[Double]): Column = {
    val c = array(centroid.map(lit): _*)
    aggregate(zip_with(v, c, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** `(cluster_id, sq_dist)` of the nearest centroid: `array_min` over
    * `(dist, id)` structs — struct ordering breaks exact-tie distances by
    * centroid id, deterministically in any engine. */
  private def nearest(v: Column, centroids: Seq[(Int, Array[Double])]): Column =
    array_min(array(centroids.map { case (cid, c) =>
      struct(sqDist(v, c).as("d"), lit(cid).as("cid"))
    }: _*))

  /** Run `iters` Lloyd's iterations from the deterministic lowest-id
    * init and return the final assignment:
    * `(vec_id, cluster_id, sq_dist)` with `sq_dist` rounded to 1e-6. */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignTo(emb, kmeansCentroids(emb, k, iters, idCol, vecCol),
      idCol, vecCol)

  /** The centroid-training half of [[kmeansAssign]]: `iters` Lloyd's
    * iterations from the deterministic lowest-id init, returning the
    * k×dim centroid table (driver-held — the standing "index" an
    * incremental pipeline trains once per corpus snapshot and reuses
    * across admission batches). */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[(Int, Array[Double])] = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got $k, $iters")
    // NO spread/checkpoint of the training frame (tried and reverted,
    // r16): a spread + localCheckpoint before the loop measured a
    // consistent LOSS across the k-means consumers (sem_kmeans_assign
    // 1.4→2.6 s, sim_index_stats 2.3→3.9 s, sim_nprobe_curve 5.3→11.2 s
    // warm) — the extra materialization job plus width-count scheduler
    // stages cost more than re-running the cheap per-row assign inside
    // the scan; iters is small (≤3 everywhere) so the re-scan is paid
    // at most thrice.
    val e = emb.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))

    // deterministic init: the k lowest-id vectors ARE the first centroids
    var centroids: Seq[(Int, Array[Double])] =
      e.orderBy("vec_id").limit(k).collect().zipWithIndex.map { case (r, i) =>
        i -> r.getSeq[Double](1).toArray
      }.toSeq

    if (centroids.isEmpty) return centroids
    val dim = centroids.head._2.length
    for (_ <- 1 to iters) {
      // one scan assigns (literal centroids below the plan-size
      // threshold, broadcast-join above — see assignCells); one
      // k-row aggregate re-centers. The avg is rounded so both
      // engines land on the same quantized centroid no matter their
      // float summation order. The re-center is ONE groupBy with dim
      // parallel avg columns — the previous posexplode + two-level
      // groupBy shape multiplied the rows by dim and paid a second
      // exchange per iteration for the map_from_arrays re-assembly
      // (measured r15: the indexed-serve family is driver/stage-bound,
      // not compute-bound, so per-iteration stages are the cost).
      val assigned = assignCells(e, centroids, "vec_id", "v", "cluster_id")
      val avgs = (0 until dim).map(i =>
        round(avg(element_at(col("v"), i + 1)), 6).as(s"m$i"))
      centroids = assigned
        .groupBy(col("cluster_id"))
        .agg(avgs.head, avgs.tail: _*)
        .collect().map { r =>
          r.getInt(0) -> Array.tabulate(dim)(i => r.getDouble(i + 1))
        }.toSeq.sortBy(_._1)
    }
    centroids
  }

  /** Nearest-centroid cell id as a pure scan COLUMN — [[assignTo]]
    * without the frame reshape, for callers that attach the cell to
    * their own row shape in one pass (the IVF index build tags the full
    * corpus row without a join back on id). `v` must already be a
    * double-array column; ties break to the lower cell id.
    *
    * PLAN-SIZE BOUND: this embeds kCells×dim literals in the expression
    * tree, which is the fastest shape (pure codegen'd scan, no join, no
    * shuffle) but stops being constructible at production IVF sizing
    * (kCells ≈ √N in the tens of thousands × dim 768+ ⇒ 10⁷–10⁸ literal
    * nodes — plan construction and codegen fall over long before the
    * data does). Callers that scale kCells use [[assignCells]], which
    * switches to [[assignCellsByJoin]] above [[LiteralAssignMaxKey]]. */
  def nearestCell(v: Column, centroids: Seq[(Int, Array[Double])]): Column =
    nearest(v, centroids).getField("cid")

  /** Session conf key bounding the plan-literal centroid strategy: when
    * kCells×dim exceeds this many doubles, [[assignCells]] (and every
    * persisted-index path in [[Similarity]]) switches from literal
    * expressions to the broadcast-join assignment. The default (2¹²)
    * keeps the whole assignment inside COMPILED codegen — a 16k-literal
    * tree was measured (a 10× hashed-vector index build) to blow janino's
    * 64 KB method limit and silently fall back to interpreted eval,
    * so the literal path's speed advantage is already gone well before
    * plan construction itself fails at 10⁷⁺ literals. Raise/lower per
    * session via `spark.conf.set` — AssignStrategySpec pins that both
    * strategies return identical assignments. */
  val LiteralAssignMaxKey = "graft.assign.literalMax"

  private[pipeline] def useLiteralAssign(spark: org.apache.spark.sql.SparkSession,
      kCells: Long, dim: Long): Boolean =
    kCells * dim <=
      spark.conf.getOption(LiteralAssignMaxKey).map(_.toLong).getOrElse(1L << 12)

  /**
   * Nearest-centroid assignment via a broadcast JOIN against the
   * centroid frame `(cell, cv)` — the large-kCells twin of
   * [[nearestCell]]: the centroids travel once per executor as a
   * broadcast relation (never as expression-tree literals), each row
   * meets them in a BroadcastNestedLoopJoin, and a map-side-combined
   * `min(struct(d, cid))` per `idCol` keeps exactly the nearest — the
   * same (distance, lower-cid) tie rule, the same sequential-fold
   * distance, so assignments are bit-identical to the literal path
   * (AssignStrategySpec pins equality on both shapes).
   *
   * Cost vs the literal path: one shuffle of n payload rows (the
   * group-back). `idCol` must be unique and non-null — it is the
   * group-back key (duplicate ids would silently collapse; every index
   * caller already requires unique vector ids).
   */
  def assignCellsByJoin(df: DataFrame, centFrame: DataFrame, idCol: String,
      vCol: String, outCol: String): DataFrame = {
    val payload = df.columns.filterNot(_ == idCol).toSeq
    val cf = centFrame.select(col("cell").as("__cid"),
      asDouble(col("cv")).as("__cv"))
    val d = aggregate(zip_with(col(vCol), col("__cv"),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
    df.crossJoin(broadcast(cf))
      .groupBy(col(idCol))
      .agg(min(struct(d.as("d"), col("__cid").as("cid"))).as("__best"),
        payload.map(c => first(col(c)).as(c)): _*)
      .select((df.columns.toSeq.map(col) :+
        col("__best").getField("cid").as(outCol)): _*)
  }

  /** Append `outCol` = nearest cell id of `vCol` (a double-array
    * column), choosing the literal-scan or broadcast-join strategy by
    * the [[LiteralAssignMaxKey]] threshold. `idCol` must be unique
    * (join-path group-back key). */
  def assignCells(df: DataFrame, centroids: Seq[(Int, Array[Double])],
      idCol: String, vCol: String, outCol: String): DataFrame = {
    require(centroids.nonEmpty, "assignCells with no centroids")
    val spark = df.sparkSession
    val dim = centroids.head._2.length
    if (useLiteralAssign(spark, centroids.size.toLong, dim.toLong))
      df.withColumn(outCol, nearestCell(col(vCol), centroids))
    else {
      import spark.implicits._
      val cf = centroids.map { case (cid, cv) => (cid, cv.toSeq) }
        .toDF("cell", "cv")
      assignCellsByJoin(df, cf, idCol, vCol, outCol)
    }
  }

  /** The assignment half of [[kmeansAssign]]: nearest-centroid as a
    * pure scan against the centroid literals —
    * `(vec_id, cluster_id, sq_dist)`, `sq_dist` rounded to 1e-6. */
  def assignTo(emb: DataFrame, centroids: Seq[(Int, Array[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .select(col("vec_id"), nearest(col("v"), centroids).as("best"))
      .select(col("vec_id"), col("best").getField("cid").as("cluster_id"),
        round(col("best").getField("d"), 6).as("sq_dist"))

  /**
   * Embedding drift report between two corpus snapshots — the
   * re-embed / retrain-the-index trigger an embedding-health check
   * reads: per cell, both snapshots' populations, the L2 shift between
   * their centroids, and the centroid cosine. A cell whose centroid
   * moved (low cosine, high shift) or whose population collapsed/
   * exploded is where the data distribution changed; cells present in
   * only ONE snapshot report their counts with null shift (appearing/
   * disappearing content is a first-class finding).
   *
   * Determinism: centroids are 1e-6-rounded coordinate means (the
   * k-means re-center discipline) and shift/cosine round to 1e-6, so
   * the DuckDB oracle replays everything. Scale shape: two corpus
   * scans collapsing to |cells|×dim aggregates; every later join and
   * the arithmetic run on |cells|-row frames.
   */
  def embeddingDrift(a: DataFrame, b: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame = {
    def cents(df: DataFrame, nOut: String, cvOut: String): DataFrame = {
      val e = df.select(col(cellCol).as("cell"),
        requireNonEmptyVec(asDouble(col(vecCol)), "embeddingDrift").as("v"))
      // ONE scan per snapshot: the per-(cell, pos) count IS the cell's
      // vector count (every row contributes one entry per pos), so it
      // rides the means aggregate instead of a second pass
      e.select(col("cell"), posexplode(col("v")))
        .groupBy("cell", "pos")
        .agg(round(avg("col"), 6).as("mv"), count(lit(1)).as("n"))
        .groupBy("cell")
        .agg(max(col("n")).as(nOut),
          map_from_arrays(collect_list("pos"), collect_list("mv"))
            .as("byPos"))
        .select(col("cell"), col(nOut),
          transform(sequence(lit(0), size(col("byPos")) - 1),
            i => element_at(col("byPos"), i)).as(cvOut))
    }
    def dotc(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val ca = cents(a, "n_a", "cv_a")
    val cb = cents(b, "n_b", "cv_b")
    val na = sqrt(dotc(col("cv_a"), col("cv_a")))
    val nb = sqrt(dotc(col("cv_b"), col("cv_b")))
    ca.join(cb, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("cv_a").isNotNull && col("cv_b").isNotNull,
          round(sqrt(aggregate(zip_with(col("cv_a"), col("cv_b"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)), 6))
          .as("l2_shift"),
        when(col("cv_a").isNotNull && col("cv_b").isNotNull &&
            na > 0 && nb > 0,
          round(dotc(col("cv_a"), col("cv_b")) / (na * nb), 6))
          .as("cos_centroid"))
  }

  /**
   * Mergeable per-cell centroid STATE — [[embeddingDrift]]'s
   * incremental half (the [[pcaState]] discipline): one row per
   * (cell, pos) carrying the component micro-sum Σ round(xᵢ·1e6) as an
   * exact long, with the cell's vector count riding at pos = 0 (the
   * first posexplode position). States
   * from disjoint slices merge by ADDITION, so a daily drift check
   * folds the new batch's |cells|×dim-row state into the standing one
   * and never re-scans history.
   */
  def cellState(emb: DataFrame, vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame =
    emb.select(col(cellCol).as("cell"),
        requireNonEmptyVec(asDouble(col(vecCol)), "cellState").as("v"))
      .select(col("cell"), posexplode(col("v")))
      .select(col("cell"), col("pos"),
        round(col("col") * 1e6).cast("long").as("sx"),
        when(col("pos") === 0, 1L).otherwise(0L).as("cnt"))
      .groupBy("cell", "pos")
      .agg(sum(col("sx")).as("sx"), sum(col("cnt")).as("cnt"))

  /** Additive merge of [[cellState]] frames (same embedding dim). */
  def mergeCellState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionAll(b).groupBy("cell", "pos")
      .agg(sum(col("sx")).as("sx"), sum(col("cnt")).as("cnt"))

  /**
   * The [[embeddingDrift]] report from two (possibly merged) states.
   * Centroids come out of the micro-sums (`round(sx / (n·1e6), 6)`),
   * which can differ from the exact-average path in the last digit —
   * the incremental query therefore carries its own oracle replaying
   * THIS formula (the `report_pca_incremental` precedent).
   */
  def renderDrift(stateA: DataFrame, stateB: DataFrame): DataFrame = {
    def cents(st: DataFrame, nOut: String, cvOut: String): DataFrame =
      st.groupBy("cell")
        .agg(max(when(col("pos") === 0, col("cnt"))).as(nOut),
          map_from_arrays(collect_list(col("pos")),
            collect_list(col("sx"))).as("byPos"))
        .select(col("cell"), col(nOut),
          transform(sequence(lit(0), size(col("byPos")) - 1),
            i => round(element_at(col("byPos"), i).cast("double") /
              (col(nOut).cast("double") * 1e6), 6)).as(cvOut))
    def dotc(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val ca = cents(stateA, "n_a", "cv_a")
    val cb = cents(stateB, "n_b", "cv_b")
    val na = sqrt(dotc(col("cv_a"), col("cv_a")))
    val nb = sqrt(dotc(col("cv_b"), col("cv_b")))
    ca.join(cb, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("cv_a").isNotNull && col("cv_b").isNotNull,
          round(sqrt(aggregate(zip_with(col("cv_a"), col("cv_b"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)), 6))
          .as("l2_shift"),
        when(col("cv_a").isNotNull && col("cv_b").isNotNull &&
            na > 0 && nb > 0,
          round(dotc(col("cv_a"), col("cv_b")) / (na * nb), 6))
          .as("cos_centroid"))
  }

  /**
   * Farthest-point seeding + assignment (Gonzalez 1985, the 2-approx
   * k-center traversal) — the deterministic answer to k-means++'s
   * randomized D² sampling: seed 1 is the lowest-id vector, each next
   * seed is the corpus point FARTHEST from the chosen set (min-distance
   * argmax, rounded to 1e-6, ties to the lowest id). Farthest-point
   * seeds spread across the data's extremes, which is what k-means'
   * lowest-id init lacks on clustered data; running [[kmeansAssign]]'s
   * Lloyd refinement from these seeds is the scalable k-means|| recipe
   * with the randomness replaced by a replayable rule.
   *
   * Each seed selection is ONE corpus aggregate (a TakeOrdered of 1 row
   * — per-partition heaps, no global sort), k−1 of them total; the
   * driver holds only the k seed vectors. The final assignment is the
   * same literal-centroid scan as [[kmeansAssign]].
   */
  def farthestAssign(emb: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val e = emb.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val first = e.orderBy("vec_id").limit(1).collect()
    require(first.nonEmpty, "farthestAssign on an empty frame")
    var seeds: Seq[(Int, Array[Double])] =
      Seq(0 -> first(0).getSeq[Double](1).toArray)
    for (i <- 1 until k) {
      // argmax of the (rounded) min distance to the current seed set;
      // the unrounded min matches the assignment fold, rounding happens
      // only at the comparison — mirrored exactly in the oracle
      val next = e.select(col("vec_id"), col("v"),
          round(nearest(col("v"), seeds).getField("d"), 6).as("d"))
        .orderBy(col("d").desc, col("vec_id")).limit(1).collect()(0)
      seeds = seeds :+ (i -> next.getSeq[Double](1).toArray)
    }
    e.select(col("vec_id"), nearest(col("v"), seeds).as("best"))
      .select(col("vec_id"), col("best").getField("cid").as("cluster_id"),
        round(col("best").getField("d"), 6).as("sq_dist"))
  }

  /** Per-cluster size, majority ground-truth label, and purity — the
    * standard external clustering diagnostic when a label column exists. */
  def clusterStats(assignments: DataFrame, labeled: DataFrame,
      idCol: String = "vec_id", labelCol: String = "label"): DataFrame = {
    val joined = assignments.join(
      labeled.select(col(idCol).as("vec_id"), col(labelCol).as("label")),
      "vec_id")
    val byLabel = joined.groupBy("cluster_id", "label")
      .agg(count(lit(1)).as("label_n"))
    val w = Window.partitionBy("cluster_id")
    byLabel
      .withColumn("n_members", sum(col("label_n")).over(w))
      .withColumn("rk", row_number().over(
        w.orderBy(col("label_n").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("n_members"),
        col("label").as("majority_label"),
        round(col("label_n").cast("double") / col("n_members").cast("double"), 6)
          .as("purity"))
  }

  /**
   * Prototypicality ranking (the SSL-prototypes pruning metric of
   * Sorscher et al. 2022, arXiv:2206.14486): rank each cluster's members
   * by distance to their centroid — rank 1 = most prototypical. Keeping
   * the TAIL (large ranks) prunes easy/redundant examples; keeping the
   * head gives canonical exemplars. One window over the assignment —
   * cluster-partitioned, so the sort is per-cluster, never global.
   */
  def prototypeRank(assignments: DataFrame): DataFrame = {
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("sq_dist"), col("vec_id"))
    assignments.withColumn("proto_rank", row_number().over(w).cast("int"))
  }

  /**
   * SemDeDup keep-set: within each cluster, drop a vector when a
   * LOWER-id cluster-mate is cosine-similar above `tau` (greedy
   * keep-lowest-id — the deterministic variant of the paper's
   * keep-one-per-duplicate-group). Returns the surviving
   * `(vec_id, cluster_id)` rows.
   *
   * The dominance join is an equi-join on the cluster id, so candidate
   * volume is Σ cluster_size² — the point of clustering first. The
   * left-anti at the end keeps survivors without materializing pair
   * lists per doc.
   */
  def semanticDedup(emb: DataFrame, assignments: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val vecs = emb.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .join(assignments.select("vec_id", "cluster_id"), "vec_id")
    val a = vecs.select(col("vec_id").as("a_id"), col("v").as("a_v"),
      col("nrm").as("a_nrm"), col("cluster_id"))
    val b = vecs.select(col("vec_id").as("b_id"), col("v").as("b_v"),
      col("nrm").as("b_nrm"), col("cluster_id"))
    val dominated = a.join(b, "cluster_id")
      .filter(col("a_id") < col("b_id"))
      .filter(round(Similarity.dot(col("a_v"), col("b_v")) /
        (col("a_nrm") * col("b_nrm")), 6) >= tau)
      .select(col("b_id").as("vec_id")).distinct()
    assignments.select("vec_id", "cluster_id")
      .join(dominated, Seq("vec_id"), "left_anti")
  }

  /**
   * Incremental SemDeDup — new-vs-corpus semantic admission, the
   * embedding-space member of the engine's incremental-dedup family
   * ([[Dedup.exactIncremental]], [[Dedup.minhashLshPairsIncremental]]):
   * centroids come from the STANDING corpus (train once per snapshot
   * via [[kmeansCentroids]], reuse across admission batches); a new
   * vector is rejected when a same-cluster CORPUS vector, or an
   * already-considered (lower-id) same-cluster NEW vector, is
   * cosine-similar above `tau` — the same greedy keep-lowest-id rule
   * as the batch [[semanticDedup]], restricted so corpus×corpus pairs
   * are NEVER enumerated.
   *
   * Returns the admitted `(vec_id, cluster_id)` rows of `newEmb`.
   *
   * Scale shape: corpus assignment is a scan against centroid
   * literals; both dominance joins are cluster-keyed equi-joins whose
   * candidate volume is Σ cell_new·(cell_corpus + cell_new) — at a
   * steady state where the admission batch is ≪ the corpus this is
   * linear in the batch, and the quadratic old×old term of a naive
   * re-dedup never appears (the exactIncremental guarantee, carried
   * into embedding space).
   */
  def semanticDedupIncremental(corpusEmb: DataFrame, newEmb: DataFrame,
      k: Int, iters: Int, tau: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(corpusEmb, k, iters, idCol, vecCol)
    def withVec(emb: DataFrame, assign: DataFrame): DataFrame =
      emb.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
        .withColumn("nrm", Similarity.norm(col("v")))
        .join(assign.select("vec_id", "cluster_id"), "vec_id")
    val ca = withVec(corpusEmb, assignTo(corpusEmb, cents, idCol, vecCol))
      .select(col("vec_id").as("a_id"), col("v").as("a_v"),
        col("nrm").as("a_nrm"), col("cluster_id"))
    val na = withVec(newEmb, assignTo(newEmb, cents, idCol, vecCol))
    val nb = na.select(col("vec_id").as("b_id"), col("v").as("b_v"),
      col("nrm").as("b_nrm"), col("cluster_id"))
    val byCorpus = ca.join(nb, "cluster_id")
      .filter(round(Similarity.dot(col("a_v"), col("b_v")) /
        (col("a_nrm") * col("b_nrm")), 6) >= tau)
      .select(col("b_id").as("vec_id"))
    val byNew = na.select(col("vec_id").as("a_id"), col("v").as("a_v"),
        col("nrm").as("a_nrm"), col("cluster_id"))
      .join(nb, "cluster_id")
      .filter(col("a_id") < col("b_id"))
      .filter(round(Similarity.dot(col("a_v"), col("b_v")) /
        (col("a_nrm") * col("b_nrm")), 6) >= tau)
      .select(col("b_id").as("vec_id"))
    val dominated = byCorpus.unionAll(byNew).distinct()
    na.select("vec_id", "cluster_id")
      .join(dominated, Seq("vec_id"), "left_anti")
  }

  /**
   * Embedding-collapse report: the top principal component of the
   * (mean-centered) embedding covariance, found by fixed-round power
   * iteration, with the share of total variance it explains. A healthy
   * embedding space spreads variance across dimensions; `explained_frac`
   * near 1 means the space has collapsed onto a line (anisotropy — the
   * classic failure mode of degenerate embedding models), at which point
   * every cosine-based dedup/ANN operator upstream is running on noise.
   *
   * Determinism, the same discipline as the k-means family:
   *  - the mean and every Gram entry are integer micro-sums
   *    (`round(x·1e6)` per ROW, summed exactly) divided out once, so
   *    both engines hold bit-identical G;
   *  - power iteration runs the same fixed `iters` rounds from the same
   *    deterministic init (uniform 1/√d), every iterate rounded to the
   *    1e-9 grid so an engine-level ulp in a fold cannot compound;
   *  - the sign convention (component with the largest |loading| is
   *    positive, ties to the lowest index) pins the eigenvector's
   *    orientation.
   *
   * Scale shape: two corpus scans (means, then centered outer products
   * — the d² explode is map-side combined to d² rows per task before
   * the one shuffle), and the driver holds only μ (d) and G (d²) —
   * bounded at any corpus size. The O(d²) per-row outer-product work is
   * inherent to covariance; at very large d, subsample rows for G (the
   * estimate converges at √n) — the exact path here is the
   * oracle-checkable one.
   */
  def embeddingPca(embs: DataFrame, iters: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    renderPca(pcaState(embs, vecCol), iters)

  /**
   * Mergeable PCA sufficient-statistics STATE: one row per (i, j)
   * carrying the raw-product micro-sum Σ round(xᵢ·xⱼ·1e6), plus (at
   * j = 1) the component micro-sum Σ round(xᵢ·1e6) and (at i = j = 1)
   * the vector count. All three columns are exact 64-bit integers —
   * the per-row summand is bounded by ~1e6·max|x|², so the sum only
   * approaches 2⁶³ past ~9e12 vectors, two orders beyond the 100-TB
   * design point (decimal sums were measured 1.5× slower for no
   * reachable safety) — so states from disjoint slices merge by
   * ADDITION and
   * `renderPca(merge(state(A), state(B))) == embeddingPca(A ∪ B)`
   * bit-for-bit — the incremental-data-card theorem applied to
   * covariance. A daily embedding-health refresh folds the new batch's
   * d²-row state into the standing one and never re-scans history.
   *
   * ONE corpus scan: the (i, j) explode carries the component sums and
   * the count along in the same aggregate.
   */
  def pcaState(embs: DataFrame, vecCol: String = "embedding"): DataFrame = {
    // spread before the d×d outer-product explode (the state's whole
    // cost — d² rows per vector; a single-row-group embeddings table
    // ran it on one core). Keyed on the vector itself: deterministic,
    // and the grouped LONG sums are partitioning-invariant. No-op on
    // inputs already at session width.
    val e = Dedup.spread(embs, col(vecCol)).select(
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val d = e.select(size(col("v"))).head().getInt(0)
    e.select(col("v"), explode(sequence(lit(1), lit(d))).as("i"))
      .select(col("v"), col("i"), explode(sequence(lit(1), lit(d))).as("j"))
      .select(col("i"), col("j"),
        round(element_at(col("v"), col("i")) *
          element_at(col("v"), col("j")) * 1e6).cast("long").as("pp"),
        when(col("j") === 1,
          round(element_at(col("v"), col("i")) * 1e6).cast("long"))
          .otherwise(lit(0L)).as("cc"),
        when(col("i") === 1 && col("j") === 1, 1L).otherwise(0L).as("one"))
      .groupBy("i", "j")
      .agg(sum(col("pp")).as("sxx"), sum(col("cc")).as("sx"),
        sum(col("one")).as("cnt"))
  }

  /** Additive merge of [[pcaState]] frames (same embedding dim). */
  def mergePcaState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionAll(b).groupBy("i", "j")
      .agg(sum(col("sxx")).as("sxx"), sum(col("sx")).as("sx"),
        sum(col("cnt")).as("cnt"))

  /** The [[embeddingPca]] report from a (possibly merged) state. */
  def renderPca(state: DataFrame, iters: Int = 8): DataFrame = {
    val spark = state.sparkSession
    val core = coreFromState(state, iters)
    import spark.implicits._
    (1 to core.d).map(i =>
        (i, core.mu(i - 1), round6(core.u(i - 1)), core.lambda1,
          core.trace, core.explained))
      .toDF("dim_idx", "mean_c", "pc1_loading", "lambda1", "trace_g",
        "explained_frac")
  }

  /** Driver-held result of the deterministic PCA core: rounded means,
    * the sign-fixed 1e-9-grid top eigenvector, and the variance summary
    * — shared by [[embeddingPca]] and [[abttProject]]. */
  final case class PcaCore(d: Int, mu: Array[Double], u: Array[Double],
      lambda1: Double, trace: Double, explained: Double)

  private def round6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  private def pcaCore(embs: DataFrame, iters: Int,
      vecCol: String): PcaCore =
    coreFromState(pcaState(embs, vecCol), iters)

  private def coreFromState(state: DataFrame, iters: Int): PcaCore = {
    val rows = state.collect()
    require(rows.nonEmpty, "pca on an empty state")
    val d = rows.iterator.map(_.getInt(0)).max
    val n = rows.find(r => r.getInt(0) == 1 && r.getInt(1) == 1)
      .map(_.getLong(4)).getOrElse(0L)
    require(n > 0, "pca state carries no vectors")
    // long→double rounds to nearest — the same conversion DuckDB
    // applies casting its (equal-valued) HUGEINT sums to DOUBLE
    val sx = Array.ofDim[Double](d)
    val sxx = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j) = (r.getInt(0) - 1, r.getInt(1) - 1)
      sxx(i)(j) = r.getLong(2).toDouble
      if (j == 0) sx(i) = r.getLong(3).toDouble
    }
    val nd = n.toDouble * 1e6
    val mu = Array.tabulate(d)(i => round6(sx(i) / nd))
    // centered Gram from raw moments: G = Sxx/(n·1e6) − μμᵀ, rounded —
    // derivable from the ADDITIVE state, which is what makes the whole
    // report mergeable
    val g = Array.tabulate(d, d)((i, j) =>
      round6(sxx(i)(j) / nd - mu(i) * mu(j)))
    // fixed-round power iteration on the driver-held d×d matrix; every
    // arithmetic step (ascending-index folds, 1e-9 grid) is replayed
    // verbatim by the DuckDB oracle's recursive CTE
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += g(i)(j) * v(j); j += 1 }; s
      }
    // BigDecimal.valueOf = Double.toString semantics — the exact rule
    // Spark's Round expression uses, empirically DuckDB-round-compatible
    // across the whole certified surface
    def round9(x: Double): Double =
      BigDecimal.valueOf(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    var v = Array.fill(d)(round9(1.0 / math.sqrt(d.toDouble)))
    for (_ <- 1 to iters) {
      val w = matVec(v)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      if (nrm > 0) v = w.map(x => round9(x / nrm))
    }
    // sign convention: largest |loading| positive, ties -> lowest index
    val pivot = v.indices.minBy(i => (-math.abs(v(i)), i))
    if (v(pivot) < 0) v = v.map(-_)
    val w = matVec(v)
    val lambda1 = round6(v.zip(w).map { case (a, b) => a * b }.sum)
    val trace = round6(Array.tabulate(d)(i => g(i)(i)).sum)
    val explained = if (trace > 0) round6(lambda1 / trace) else 0.0
    PcaCore(d, mu, v, lambda1, trace, explained)
  }

  /**
   * All-But-The-Top projection report (Mu & Viswanath 2018,
   * arXiv:1702.01417): per vector, the coordinate along the corpus's
   * top principal component and the centered norm before/after removing
   * that component. When [[embeddingPca]] flags anisotropy, this is the
   * repair — cosine structure concentrates in the residual — and the
   * per-vector table is the audit trail showing how much of each
   * vector the dominant direction was carrying.
   *
   * The PCA core (μ, u) is the same deterministic driver-held result;
   * the projection itself is a pure scan against the μ/u literals —
   * per-row index-order folds (the [[Similarity.dot]] convention), the
   * PC1 coordinate rounded to 1e-6 BEFORE the subtraction so both
   * engines subtract the identical projection.
   */
  def abttProject(embs: DataFrame, iters: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val core = pcaCore(embs, iters, vecCol)
    val muLit = array(core.mu.map(lit).toIndexedSeq: _*)
    val uLit = array(core.u.map(lit).toIndexedSeq: _*)
    embs
      .select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .select(col("vec_id"),
        zip_with(col("v"), muLit, (x, m) => x - m).as("cv"))
      .select(col("vec_id"), col("cv"),
        round(Similarity.dot(col("cv"), uLit), 6).as("pc1_coord"))
      .select(col("vec_id"), col("pc1_coord"),
        round(sqrt(Similarity.dot(col("cv"), col("cv"))), 6)
          .as("norm_before"),
        round(sqrt(Similarity.dot(
          zip_with(col("cv"), uLit, (x, u) => x - col("pc1_coord") * u),
          zip_with(col("cv"), uLit, (x, u) => x - col("pc1_coord") * u))), 6)
          .as("norm_after"))
  }

  /**
   * Centroid (simplified/medoid-free) silhouette per cluster — the
   * standard internal clustering diagnostic at corpus scale, where the
   * O(n²) pairwise silhouette is off the table: per vector,
   * `a` = distance to its own centroid, `b` = distance to the nearest
   * OTHER centroid, `s = (b − a) / max(a, b)` (0 when both distances
   * are 0). Per cluster: member count, mean silhouette, and how many
   * members sit closer to a foreign centroid (`s < 0` — the
   * mis-clustered). Low mean silhouette tells you k is wrong before
   * you spend a SemDeDup pass on bad clusters.
   *
   * Scale shape: centroids ride along as k×dim literals (driver-held,
   * same as [[assignTo]]), so the whole report is ONE corpus scan plus
   * a k-row rollup — no join, no extra shuffle. Float discipline:
   * both squared distances are quantized to the 1e-6 grid BEFORE the
   * sqrt/division (so `a`/`b` agree bit-for-bit with the oracle's
   * fold), and per-row silhouettes are quantized to integer micros
   * before the cross-row mean.
   */
  def silhouetteReport(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 2, s"silhouette needs a foreign centroid: k >= 2, got $k")
    val centroids = kmeansCentroids(emb, k, iters, idCol, vecCol)
    val e = emb.select(col(idCol).as("vec_id"),
      asDouble(col(vecCol)).as("v"))
    val best = nearest(col("v"), centroids)
    val aSq = round(best.getField("d"), 6)
    val assigned = best.getField("cid")
    // nearest foreign centroid on the SAME rounded grid as `a`
    val bSq = least(centroids.map { case (cid, c) =>
      when(assigned === cid, lit(null).cast("double"))
        .otherwise(round(sqDist(col("v"), c), 6))
    }: _*)
    val a = sqrt(aSq)
    val b = sqrt(bSq)
    val s = when(greatest(a, b) === 0.0, lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    e.select(assigned.as("cluster_id"),
        round(s * 1e6).cast("long").as("s_micro"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum(col("s_micro")).as("sm"),
        sum(when(col("s_micro") < 0, 1L).otherwise(0L)).as("n_negative"))
      .select(col("cluster_id"), col("n_members"),
        round(col("sm").cast("double") /
          (col("n_members").cast("double") * 1e6), 6).as("avg_silhouette"),
        col("n_negative"))
  }
}
