package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard.
 *
 * Scale design (the 100 TB rules):
 *  - Every candidate-generation step is an equi-join on a blocking key
 *    (fingerprint, LSH band, metadata block) — never an O(n²) cross join
 *    or an OR-of-conditions join (which Spark would plan as a cartesian).
 *  - Signatures are tiny per doc (k strings / one long), so the shuffle
 *    volume is signatures not documents.
 *  - MinHash here uses md5-string hashing so the DuckDB oracle can verify
 *    exact results; [[graft.functions]] carries the faster xxhash64 variant
 *    used by Bench (same algorithm, 8-byte hashes instead of 32-hex).
 */
object Dedup {

  /**
   * Internal-cache registry: each operator persists ONE intermediate
   * frame per invocation (band/signature/norm frames that the downstream
   * self-join would otherwise recompute 4-8×). A long-running service
   * calling an operator repeatedly must not accrue a cache entry per
   * call, so each operator re-registers its frame under a fixed key and
   * the previous entry is unpersisted — unless it is the SAME logical
   * plan (repeat call on the same input), in which case the live cache
   * is kept (unpersisting it would evict the shared CacheManager entry
   * out from under the new call). Bound: ≤1 entry per operator per
   * SparkSession. [[clearCaches]] releases everything for teardown.
   *
   * Concurrency note: two threads running the SAME operator on different
   * inputs concurrently can unpersist each other's live frame. That is
   * safe — Spark transparently recomputes evicted cache partitions — but
   * the victim loses the reuse speedup; serialize same-operator calls if
   * that matters.
   */
  private val internalCaches =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Session conf key bounding the iterative graph operators' explicit
    * broadcast regime: a loop whose measured (undirected, distinct)
    * edge count is at or below this broadcasts its node-sized frames
    * (labels, grouped mins, survivor sets) into the per-round joins —
    * one exchange per round instead of one per join. Above it, every
    * join stays a plain shuffle join. Default 4M edges (≈ tens of MB of
    * label rows — comfortably under the broadcast caps); raise/lower
    * per session via `spark.conf.set`. */
  val GraphBroadcastMaxEdgesKey = "graft.graph.broadcastMaxEdges"

  /** Shuffle width and broadcast wrapper of an iterative graph operator,
    * both from its measured edge count: one shuffle partition per 500k
    * edges, at least 2 and at most the session width, and node-sized
    * frames broadcast into the per-round joins while `nEdges` is at most
    * [[GraphBroadcastMaxEdgesKey]] (default 4M). AQE would reach the same
    * joins by runtime SMJ→BHJ conversion, but only after materializing
    * each exchange as its own stage; the explicit hint skips the exchange
    * and the replanning barrier. */
  private def graphSizing(spark: org.apache.spark.sql.SparkSession,
      nEdges: Long): (Int, DataFrame => DataFrame) = {
    val parts = math.max(2, math.min(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt,
      (nEdges / 500000L).toInt + 1))
    val bcast = nEdges <= spark.conf
      .getOption(GraphBroadcastMaxEdgesKey).map(_.toLong).getOrElse(4000000L)
    (parts, df => if (bcast) broadcast(df) else df)
  }

  /** Rebalance a CPU-dense pipeline's input to the session shuffle
    * width BEFORE its heavy per-row work — and only when the input's
    * own parallelism is below it. The corpora here are small in BYTES
    * (a single parquet row group → one scan task; AQE coalescing also
    * sizes by bytes), so without this every tokenize/shingle/hash chain
    * runs on ONE core no matter how many the session has. At scale the
    * guard makes this a no-op: a large input already scans at ≥ the
    * session width, and no extra corpus shuffle is ever added. */
  private[graft] def spread(df: DataFrame, key: Column): DataFrame = {
    val w = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    if (needsSpread(df, w)) df.repartition(w, key) else df
  }

  /** Decide the spread from PLAN STATISTICS, never by executing the
    * input: the previous `df.rdd.getNumPartitions` probe materialized
    * every upstream exchange at plan-build time and the returned
    * `repartition` then re-executed them — a measured 2× regression on
    * shuffle-rooted inputs (dedup_minhash_robust_skew, r15) and a scale
    * hazard on any non-scan input. The criterion: a frame whose
    * estimated bytes are below `width × advisoryPartitionSize` is one
    * AQE would coalesce under the session width (its coalescing is
    * byte-based, blind to per-row CPU), so the CPU-dense consumer pins
    * an explicit exchange; anything larger already runs at ≥ width and
    * spread is a no-op. Stats come from the optimized logical plan — a
    * driver-side estimate, no job submission. */
  private def needsSpread(df: DataFrame, w: Int): Boolean = {
    val advisory = df.sparkSession.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    df.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(w) * BigInt(math.max(advisory, 1L))
  }

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to `parts`,
    * restoring the session value afterwards — the shuffle-width twin of
    * the edge-frame repartition the iterative graph operators already
    * do: a fixed-point loop over a graph orders of magnitude smaller
    * than the corpus should run EVERY per-round shuffle (labels,
    * messages, grouped mins) at graph-derived width, not session width.
    * Only frames MATERIALIZED inside `body` (checkpoints, counts) are
    * affected; a lazily returned frame executes under the caller's
    * width. Scale-adaptive by construction: `parts` derives from the
    * measured edge count, so a genuinely large graph keeps a wide
    * shuffle.
    *
    * SINGLE-THREADED-SESSION assumption: the override below mutates the
    * shared session conf for the duration of `body` (scoped + restored).
    * A query PLANNED concurrently on the same SparkSession (e.g. a
    * streaming foreachBatch micro-batch) would inherit the narrowed
    * width. The bench/pipeline drivers here run one query at a time; a
    * deployment that plans concurrent queries must run the iterative
    * graph operators on `spark.newSession()` so the conf is isolated. */
  private[pipeline] def withShuffleParts[A](
      spark: org.apache.spark.sql.SparkSession, parts: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, parts)
    // (AQE stays ON: its per-exchange stage scheduling costs ~10 extra
    // driver jobs per CC round here, but its runtime SMJ→broadcast
    // conversion of the label joins is worth more — measured r15:
    // AQE off was 24 jobs / 5.4 s, AQE on 71 jobs / 4.2 s on
    // dedup_clusters. Checkpointed label frames defeat static size
    // estimation, so only the runtime rewrite gets the broadcast plan.)
    try body finally spark.conf.set(key, prev)
  }

  private[pipeline] def persistInternal(key0: String, df: DataFrame): DataFrame = {
    // key includes the session so two sessions in one JVM never evict
    // each other's caches
    val key = s"${System.identityHashCode(df.sparkSession)}-$key0"
    val cached = df.persist()
    val prev = internalCaches.put(key, cached)
    if (prev != null &&
        !prev.queryExecution.analyzed.sameResult(cached.queryExecution.analyzed)) {
      prev.unpersist(blocking = false)
    }
    cached
  }

  /** Release every internal cache registered by the operators above. */
  def clearCaches(): Unit = {
    val it = internalCaches.entrySet().iterator()
    while (it.hasNext) {
      it.next().getValue.unpersist(blocking = false)
      it.remove()
    }
  }

  /** Value-identical wrapper that makes a derived column NON-PUSHABLE:
    * a filter on an expensive derived column (shingle arrays, token
    * sets) is otherwise pushed below the spread exchange with the WHOLE
    * deriving expression inlined into the scan-side predicate — the
    * heavy work then runs twice, and the scan-side copy single-task
    * (guide §4.4's duplicated-expensive-expression trap, built-in
    * flavor; measured r16: the LshIndex admit's tokenize+shingle pass
    * ran 1.9-2.1 s in ONE task below the exchange). The optimizer may
    * not push predicates through a projection with a nondeterministic
    * field, and `monotonically_increasing_id() >= 0` is always true, so
    * this is a plan barrier with no value or row change. */
  private[graft] def unpushable(c: Column): Column =
    when(monotonically_increasing_id() >= 0, c).otherwise(c)

  /** Distinct word w-shingles from a *materialized* token-array column
    * (empty when fewer than w tokens — guarded because Spark's
    * `sequence(1, n)` with n<1 would generate a *descending* sequence).
    * Callers must project tokens into a column first: inlining the
    * tokenizer here would re-split the text inside every `element_at`
    * lambda call — O(len²) per document. */
  def shinglesFromTokens(toks: Column, w: Int = 3): Column = {
    val n = size(toks)
    array_distinct(
      when(n >= w,
        transform(sequence(lit(1), n - (w - 1)),
          i => concat_ws(" ", (0 until w).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>")))
  }

  /** (doc_id, shingles) with tokens evaluated once per row. Spread to
    * session width first ([[spread]] is a no-op on inputs already that
    * parallel): tokenize + w-shingle + distinct is the heavy per-row
    * work of every minhash/jaccard consumer, and a single-row-group
    * corpus would otherwise run it on one core. */
  def shingled(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 3,
      doSpread: Boolean = true): DataFrame = {
    // doSpread = false for callers whose input is a small increment (an
    // admission batch): there the exchange costs more than the one-core
    // shingle pass it parallelizes (measured r15 on the LSH-index admit)
    val src = if (doSpread) spread(docs, col(idCol)) else docs
    src.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), w).as("shingles"))
  }

  /** Exact dedup: group by content fingerprint, keep min doc_id.
    * Pure hash-groupBy — one shuffle on the fingerprint. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup — the exact-match twin of
    * [[minhashLshPairsIncremental]]: admit a new increment against an
    * existing corpus without re-aggregating the corpus. Fingerprints
    * already present are dropped (anti-join), then within-batch
    * duplicates collapse to the lowest id. Scale shape: one distinct
    * over corpus fingerprints + one fingerprint-keyed anti-join — both
    * map-side-combined shuffles; old×old is never touched. At real
    * scale the corpus side is a PRE-AGGREGATED fingerprint table kept
    * from earlier runs, making the increment cost independent of
    * corpus text size. Null fingerprints (null text) follow anti-join
    * semantics: a null key never matches the corpus side, so such rows
    * are admitted and group together — mirror this in SQL with
    * NOT EXISTS, not NOT IN (whose null handling drops them). */
  def exactIncremental(newDocs: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val nf = newDocs.select(col(idCol).as("doc_id"),
      TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
    val seen = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .distinct()
    nf.join(seen, Seq("fingerprint"), "left_anti")
      .groupBy("fingerprint")
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))
  }

  /** Corpus snapshot diff — the replication engine's J1 table diff
    * applied to a training corpus: compare two snapshot versions by
    * content fingerprint and report what a downstream consumer must
    * reprocess. `(doc_id, status)` with status ∈ added (id only in the
    * new snapshot), removed (only in the old), changed (present in
    * both, content differs); unchanged docs are omitted — at 100 TB
    * the diff output is proportional to the CHANGE volume, and the
    * only shuffle is the doc_id full-outer join of two narrow
    * (id, fingerprint) projections. */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def fp(df: DataFrame, fpName: String) = df.select(col(idCol).as("doc_id"),
      TextAnalysis.fingerprint(col(textCol)).as(fpName))
    fp(oldSnap, "fp_old").join(fp(newSnap, "fp_new"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
  }

  /** MinHash signature: k permutations simulated as min(md5(seed:shingle)).
    * One explode + one groupBy; signature is k small strings per doc. */
  def minhashSignatures(docs: DataFrame, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = shingled(docs, idCol, textCol)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
    val aggs = (1 to k).map(i =>
      min(md5(concat(lit(s"$i:"), col("s")))).as(s"mh$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }
  // Note: the LSH verify joins below keep array_intersect deliberately —
  // LSH candidates are orders of magnitude fewer than documents (that is
  // the point of LSH), so sorting every document's shingle set to enable
  // sorted_intersect_count would cost more than the few per-pair hash
  // sets it saves. The n-gram path converts because its block join emits
  // pairs comparable in count to documents.

  /** LSH bands over a k=8 signature: 2 bands of 4 rows each. */
  def lshBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      md5(concat(col("mh1"), col("mh2"), col("mh3"), col("mh4"))).as("band1"),
      md5(concat(col("mh5"), col("mh6"), col("mh7"), col("mh8"))).as("band2"))

  /**
   * MinHash+LSH candidate pairs with verified shingle-Jaccard.
   * Bands are unpivoted to (band_idx, band_hash) so candidate generation is
   * a plain equi-join — the scalable plan (an `a.band1=b.band1 OR ...` join
   * would degenerate to a broadcast-nested-loop).
   */
  def minhashLshPairs(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // persist: the unpivot + self-join reference the band frame four times
    // and Spark does NOT reuse the signature exchange across union branches
    // (verified in the plan: 4x recompute without the cache). The cached
    // frame is (doc_id, 2 md5 strings) — tiny; registered so repeat calls
    // hold at most one entry (see internalCaches).
    val bands = persistInternal("minhash_lsh_bands",
      lshBands(minhashSignatures(docs, 8, idCol, textCol)))
    // both bands from one pass over the persisted frame (posexplode), not
    // a 2-branch union — fewer scans and codegen stages on each join side
    val unpivoted = bands
      .select(col("doc_id"), posexplode(array(col("band1"), col("band2"))))
      .toDF("doc_id", "band_idx", "band_hash")
    val candidates = unpivoted.as("a")
      .join(unpivoted.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(candidates, shingled(docs, idCol, textCol))
  }

  /** Unpivot a 2-band frame to (doc_id, band_idx, band_hash) rows so
    * candidate generation is a plain equi-join. */
  private[graft] def unpivotBands(bands: DataFrame): DataFrame =
    bands.select(col("doc_id"), posexplode(array(col("band1"), col("band2"))))
      .toDF("doc_id", "band_idx", "band_hash")

  /** Increment-vs-corpus candidate pairs: probe side is only the new
    * bands, so old×old pairs are never enumerated. New×new pairs emerge
    * once from each side; least/greatest + distinct collapses them. */
  private[graft] def incrementalCandidates(newUnpivoted: DataFrame,
      allUnpivoted: DataFrame): DataFrame =
    newUnpivoted.as("n")
      .join(allUnpivoted.as("a"),
        col("n.band_idx") === col("a.band_idx") &&
        col("n.band_hash") === col("a.band_hash") &&
        col("n.doc_id") =!= col("a.doc_id"))
      .select(least(col("n.doc_id"), col("a.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("a.doc_id")).as("doc_b"))
      .distinct()

  /** Shingle-Jaccard verify over candidate (doc_a, doc_b) pairs — the
    * shared tail of every MinHash path. `sh` is (doc_id, shingles).
    * |A∪B| = |A|+|B|-|A∩B| (sets are distinct): one array op, not two;
    * `inter` aliased in its own projection so it evaluates once. */
  private[graft] def jaccardVerify(candidates: DataFrame, sh: DataFrame): DataFrame =
    candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), size(col("sh_a")).as("na"),
        size(col("sh_b")).as("nb"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))

  /**
   * Incremental MinHash+LSH: near-dup pairs that TOUCH a new increment —
   * dedup of a fresh crawl against an already-deduped corpus without
   * re-pairing the corpus against itself. The band join's left side is
   * only the increment's bands, so the join cost is O(|new| · bands)
   * probes instead of O(|corpus|²) — THE property that makes continuous
   * dedup feasible at 100 TB (old×old pairs are never enumerated, not
   * merely filtered out after the join).
   *
   * `isNew` marks increment membership as a predicate on the id column.
   * New×new pairs emerge once from each side; the least/greatest
   * orientation + distinct collapses them. Output matches
   * [[minhashLshPairs]] (doc_a < doc_b, verified Jaccard).
   */
  def minhashLshPairsIncremental(docs: DataFrame, isNew: Column => Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bands = persistInternal("minhash_lsh_inc_bands",
      lshBands(minhashSignatures(docs, 8, idCol, textCol)))
    val unpivoted = unpivotBands(bands)
    val candidates =
      incrementalCandidates(unpivoted.filter(isNew(col("doc_id"))), unpivoted)
    jaccardVerify(candidates, shingled(docs, idCol, textCol))
  }

  /**
   * Hot-bucket cap for LSH candidate generation (100-TB robustness).
   *
   * A band bucket of m docs yields m·(m−1)/2 candidate pairs, so one giant
   * near-duplicate cluster (boilerplate pages, empty documents) turns a
   * single bucket into an O(m²) shuffle. The cap keeps the `cap` smallest
   * doc_ids per (band_idx, band_hash) bucket — deterministic across
   * re-runs — bounding any bucket's pair cost at cap²/2.
   *
   * Recall tradeoff: a pair is lost only when BOTH members sit beyond the
   * cap in EVERY band bucket they share. In practice the loss is confined
   * to clusters larger than `cap`, whose members remain linked to the
   * retained cap members (enough for connected-component dedup), and whose
   * dominant cause — exact duplicates — the [[exact]] pre-pass in
   * [[minhashLshPairsRobust]] removes before banding.
   */
  def capBuckets(unpivoted: DataFrame, cap: Int): DataFrame =
    capByKey(unpivoted, Seq("band_idx", "band_hash"), cap)

  /** Keep the `cap` smallest doc_ids per key — the shared hot-key bound
    * behind both the LSH bucket cap and the n-gram block cap. */
  private def capByKey(df: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("doc_id"))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap).drop("rn")
  }

  /**
   * Containment near-dup pairs — the asymmetric complement of
   * [[ngramJaccardPairs]]: C(A,B) = |A∩B| / |A| flags a document CONTAINED
   * in another (quoted snippets, article-in-digest, boilerplate-wrapped
   * reposts) that Jaccard misses when the sizes differ (J ≤ min/max, so a
   * 100-token quote inside a 10k-token page can never clear a Jaccard
   * gate, while its containment is ~1). A pair is reported when EITHER
   * direction clears `threshold`; both directions are returned.
   *
   * Same blocked equi-join + native sorted-merge intersect as the Jaccard
   * path, but no size prune — containment is exactly the case where
   * mismatched sizes still match, so the block key (+ optional
   * `blockCap`) is the only candidate bound. Because an uncapped hot
   * block is O(block²), the uncapped path carries a loud runtime guard:
   * any block over `maxBlock` rows fails the job (assert_true in the
   * plan, evaluated under the join's own blk partitioning) instead of
   * silently launching a quadratic join — pass `blockCap` (or raise
   * `maxBlock` deliberately) to proceed. For recall at weak blocking see
   * [[containmentPairsLsh]].
   */
  def containmentPairs(docs: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      blockCap: Option[Int] = None, maxBlock: Int = 100000): DataFrame = {
    val all = docs.select(col(idCol).as("doc_id"), col(blockCol).as("blk"),
        sort_array(array_distinct(TextAnalysis.tokens(col(textCol)))).as("toks"))
    val t = blockCap.map(capByKey(all, Seq("blk"), _)).getOrElse {
      val wb = org.apache.spark.sql.expressions.Window.partitionBy("blk")
      all.withColumn("blk_n", count(lit(1)).over(wb))
        .filter(assert_true(col("blk_n") <= maxBlock,
          concat(lit("containmentPairs: block of "), col("blk_n"),
            lit(s" rows exceeds maxBlock=$maxBlock — the uncapped join is " +
              "O(block²); pass blockCap or raise maxBlock"))).isNull)
        .drop("blk_n")
    }
    // probe-side spread — the ngramJaccardPairs argument: block keys are
    // few, the per-pair intersect is the cost, and a broadcast-converted
    // self-join inherits the probe side's parallelism (no-op at scale)
    spread(t, col("doc_id")).as("a").join(t.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(col("a.toks")).as("na"), size(col("b.toks")).as("nb"),
        graft.functions.SortedIntersectCount(docs.sparkSession,
          col("a.toks"), col("b.toks")).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("na").cast("double"), 6)
          .as("cont_a"),
        round(col("inter").cast("double") / col("nb").cast("double"), 6)
          .as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
  }

  /**
   * Containment pairs WITHOUT a blocking column — the candidate-recall
   * upgrade for snippet-in-document search that [[containmentPairs]]'
   * coarse block key can't give. Follows the public LSH Ensemble design
   * (Zhu et al., VLDB 2016, "LSH Ensemble: Internet-Scale Domain
   * Search"): containment C(A,B)=|A∩B|/|A| between a small A and a large
   * B implies only a tiny Jaccard (J ≥ t·|A|/(|A|+|B|−t·|A|)), so any
   * single band granularity either misses asymmetric pairs (rows-per-band
   * too high) or floods symmetric ones with candidates (too low). Here
   * each doc's k-hash MinHash signature is indexed at EVERY power-of-two
   * rows-per-band granularity g (k/g bands each — 2k−1 band keys per doc,
   * a bounded constant ×~2 over single-granularity LSH), docs carry their
   * log2 size tier, and the band equi-join keeps only matches at the ONE
   * granularity selected per tier pair: the widest g whose LSH threshold
   * (g/k)^(1/g) still clears the pair's tier-resolution Jaccard lower
   * bound. Symmetric pairs thus match on high-precision wide bands while
   * asymmetric pairs fall back to narrow ones, and every candidate is
   * verified with the EXACT containment (native sorted-merge intersect) —
   * false positives die in the verify, the only loss is recall.
   *
   * Recall bound (cross-checked on a planted fixture in CrossCheckSpec):
   * a pair with true token Jaccard J survives banding with
   * P = 1−(1−J^g)^(k/g) at its selected granularity. At extreme
   * asymmetry (|B|/|A| → ∞ so J → t·|A|/|B| → 0) the g=1 floor gives
   * P ≈ k·J — raise `k` to chase deeper asymmetry, or prefer
   * [[containmentPairs]] when a genuine block key exists.
   *
   * `bucketCap` defaults ON (256), unlike the other LSH paths: the g=1
   * bands hash a SINGLE minhash value, and every doc whose minimum for
   * hash j is the same corpus-common token collides there — on real
   * corpora those buckets hold sizable fractions of the corpus and the
   * uncapped join is near-quadratic (measured: sf0.1 ran >8 min uncapped
   * vs seconds capped). The cap keeps the `cap` smallest doc_ids per
   * (g, band, hash) bucket — same deterministic bound and
   * loss-confined-to-giant-clusters trade as [[capBuckets]]. `None`
   * opts out, for corpora known to have no dominant tokens.
   */
  def containmentPairsLsh(docs: DataFrame, threshold: Double, k: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      bucketCap: Option[Int] = Some(256),
      parityHash: Boolean = false): DataFrame =
    containmentLshImpl(docs, threshold, k, idCol, textCol, bucketCap,
      parityHash, isNew = None)

  /**
   * New-vs-corpus containment admission — the containment member of the
   * incremental-dedup family ([[exactIncremental]],
   * [[minhashLshPairsIncremental]], [[graft.pipeline.Semantic.semanticDedupIncremental]]):
   * identical multi-granularity band index, caps, tier-selected
   * granularity, and exact verify as [[containmentPairsLsh]], but the
   * candidate probe side is restricted to rows where `isNew(doc_id)` —
   * corpus×corpus pairs are never enumerated (not merely filtered after
   * the join), so a steady-state increment costs O(new·bands) probes
   * against the standing band index. New×new pairs emerge once from
   * each side; least/greatest orientation + distinct collapses them,
   * and the output shape matches [[containmentPairsLsh]]
   * (doc_a < doc_b, both containments, max ≥ threshold).
   */
  def containmentPairsLshIncremental(docs: DataFrame,
      isNew: Column => Column, threshold: Double, k: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      bucketCap: Option[Int] = Some(256),
      parityHash: Boolean = false): DataFrame =
    containmentLshImpl(docs, threshold, k, idCol, textCol, bucketCap,
      parityHash, isNew = Some(isNew))

  private def containmentLshImpl(docs: DataFrame, threshold: Double, k: Int,
      idCol: String, textCol: String, bucketCap: Option[Int],
      parityHash: Boolean, isNew: Option[Column => Column]): DataFrame = {
    require(k > 0 && (k & (k - 1)) == 0, s"k must be a power of two, got $k")
    val spark = docs.sparkSession
    // `size(toks) > 0` only ever drops NULL-text rows (split of any
    // non-null normText yields ≥ 1 element), but filtering on the
    // DERIVED column pushed the whole tokenize+sort+distinct expression
    // into the scan-side predicate — every row paid it twice. The
    // equivalent raw-column predicate pushes to the parquet scan for
    // free (PushedFilters: IsNotNull(text)).
    val toksDf = docs.filter(col(textCol).isNotNull)
      .select(
        col(idCol).as("doc_id"),
        sort_array(array_distinct(TextAnalysis.tokens(col(textCol))))
          .as("toks"))
    // `parityHash = true` swaps the xxhash64 signature/band family for an
    // md5-string one (min over md5("j:" + token), band = md5 of the
    // joined slice) that DuckDB can replay verbatim — the banding,
    // granularity selection, caps, and exact verify are IDENTICAL, so an
    // oracle hash-match on the parity family certifies the algorithm
    // end-to-end; the default xxhash64 family remains the scale path
    // (row-local longs, no string allocation per hash).
    val sigCol: Column =
      if (parityHash)
        array((0 until k).map(j =>
          array_min(transform(col("toks"),
            t => md5(concat(lit(s"$j:"), t))))): _*)
      else graft.functions.MinHashSig(spark, col("toks"), k)
    // Cache only the narrow (doc_id, tier, sig) projection — k longs + an
    // int per doc. The full token arrays are corpus-sized; pinning them in
    // the session-lifetime cache registry would hold ~the whole corpus in
    // block storage between calls. Tokens are recomputed (one extra scan
    // per verify side) for the exact-verify join instead — profiled at
    // sf0.1: tokenize+sort is 0.3 s of the ~8 s query, and a
    // MEMORY_AND_DISK_SER token cache measured ZERO
    // speedup; the banded candidate join dominates (7.9 s of 8.6,
    // 840k candidates from 5k docs), so the memory-safe recompute stays.
    // spread BEFORE the k-hash signature pass: it is the query's densest
    // per-row work (k minhash folds over the token array per doc) and on
    // a single-row-group corpus it otherwise runs in the scan's ONE task
    // (measured r16: a 5.9 s single-task stage on 32 cores)
    val base = persistInternal("containment_lsh_sig", spread(toksDf, col("doc_id"))
      .withColumn("tier", floor(log2(size(col("toks")))).cast("int"))
      .withColumn("sig", sigCol)
      .select(col("doc_id"), col("tier"), col("sig")))
    val gs = Iterator.iterate(1)(_ * 2).takeWhile(_ <= k).toSeq
    def bandHash(g: Int, b: Int): Column =
      if (parityHash) md5(concat_ws(",", slice(col("sig"), b * g + 1, g)))
      else xxhash64(slice(col("sig"), b * g + 1, g))
    // all granularities from one pass over the persisted signatures
    val bandEntries = array(gs.flatMap { g =>
      (0 until k / g).map { b =>
        struct(lit(g).as("g"), lit(b).as("band_idx"),
          bandHash(g, b).as("band_hash"))
      }
    }: _*)
    val unpivotedAll = base
      .select(col("doc_id"), col("tier"), explode(bandEntries).as("e"))
      .select(col("doc_id"), col("tier"), col("e.g").as("g"),
        col("e.band_idx").as("band_idx"), col("e.band_hash").as("band_hash"))
    // WIDTH-PINNED band exchange: the band rows are tiny in bytes, so
    // AQE's byte-based coalescing collapsed the banded self-join to ONE
    // task doing the whole quadratic in-bucket pair enumeration
    // (measured r15: a 7.4 s single-task stage on 32 cores). A user
    // repartition is never coalesced; the band-key exchange happens for
    // the join anyway, so pinning its width costs nothing at scale.
    // The pin must sit BELOW the bucket-cap window: the window requires
    // the same clustering, so a pin placed above it is elided as
    // already-satisfied and the surviving window exchange — an
    // OPTIMIZER exchange — gets AQE-coalesced back to one task
    // (measured r16: the r15 pin never materialized here). Pinned below,
    // the window and the banded self-join both run on the user exchange.
    // The price: the window loses its map-side partial WindowGroupLimit,
    // so a hot g=1 bucket (a corpus-dominant token, the case bucketCap
    // exists for) shuffles ALL its band rows to one reducer and is sorted
    // there before the 256-row cap applies. Harmless while band rows are
    // tiny; a skew hazard for one very hot bucket at corpus scale.
    val wParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val unpivotedPinned = unpivotedAll
      .repartition(wParts, col("g"), col("band_idx"), col("band_hash"))
    val unpivoted = bucketCap
      .map(capByKey(unpivotedPinned, Seq("g", "band_idx", "band_hash"), _))
      .getOrElse(unpivotedPinned)
    // tier-resolution Jaccard lower bound for a containment-t pair whose
    // member sizes are ~2^tier, and the widest granularity that clears it
    val lo = pow(lit(2.0), least(col("a.tier"), col("b.tier")).cast("double"))
    val hi = pow(lit(2.0), greatest(col("a.tier"), col("b.tier")).cast("double"))
    val jlb = lit(threshold) * lo / (lo + hi)
    def thr(g: Int): Double = math.pow(g.toDouble / k, 1.0 / g)
    val gDesc = gs.reverse
    val gSel =
      if (gDesc.size == 1) lit(1)
      else {
        val cases = gDesc.init.map(g => (jlb >= lit(thr(g))) -> lit(g))
        cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
          case (acc, (p, v)) => acc.when(p, v)
        }.otherwise(lit(gDesc.last))
      }
    val bandKeys =
      col("a.g") === col("b.g") &&
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.g") === gSel
    val cand = isNew match {
      case None =>
        unpivoted.as("a").join(unpivoted.as("b"),
            bandKeys && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
      case Some(p) =>
        // probe = new rows only; corpus×corpus never joins. The jlb/gSel
        // condition is least/greatest-symmetric, so orientation after the
        // join is free and distinct collapses the twice-found new×new.
        unpivoted.filter(p(col("doc_id"))).as("a")
          .join(unpivoted.as("b"),
            bandKeys && col("a.doc_id") =!= col("b.doc_id"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
          .distinct()
    }
    val t = toksDf
    // same width pin for the exact-verify join: candidate pairs are a
    // few MB of ids, but each row costs a full sorted-merge intersect
    cand.repartition(wParts, col("doc_a"))
      .join(t.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(t.as("tb"), col("doc_b") === col("tb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(col("ta.toks")).as("na"), size(col("tb.toks")).as("nb"),
        graft.functions.SortedIntersectCount(spark,
          col("ta.toks"), col("tb.toks")).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("na").cast("double"), 6)
          .as("cont_a"),
        round(col("inter").cast("double") / col("nb").cast("double"), 6)
          .as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
  }

  /**
   * Scale-path MinHash+LSH using the native one-pass
   * [[graft.functions.MinHashSig]] expression (xxhash64): no explode, no
   * signature shuffle — signatures are computed at scan speed, and only
   * the tiny (doc_id, band_hash) pairs shuffle for candidate generation.
   * Same banding + verify shape as [[minhashLshPairs]]. `bucketCap` bounds
   * hot-bucket blowup (see [[capBuckets]]).
   */
  def minhashLshPairsFast(docs: DataFrame, k: Int = 8, bands: Int = 2,
      idCol: String = "doc_id", textCol: String = "text",
      bucketCap: Option[Int] = None): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rowsPerBand = k / bands
    // persisted: no shuffle in this pipeline, so nothing is reused without it
    val sig = persistInternal("minhash_fast_sig", shingled(docs, idCol, textCol)
      .select(col("doc_id"), col("shingles").as("sh"),
        graft.functions.MinHashSig(docs.sparkSession, col("shingles"), k).as("sig")))
    // all bands from one pass over the persisted signatures (posexplode),
    // not a `bands`-branch union
    val unpivotedAll = sig.select(col("doc_id"), posexplode(array(
        (0 until bands).map(b =>
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)))
      .toDF("doc_id", "band_idx", "band_hash")
    val unpivoted = bucketCap.map(capBuckets(unpivotedAll, _)).getOrElse(unpivotedAll)
    val candidates = unpivoted.as("a")
      .join(unpivoted.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(candidates, sig.select(col("doc_id"), col("sh").as("shingles")))
  }

  /**
   * Centrality ranking of the near-dup pair graph by damped power
   * iteration (PageRank, Page et al. 1999; 3 fixed iterations, d=0.85):
   * within a duplicate cluster the highest-ranked document is the one
   * the most near-dups point at — the "most canonical" copy, a
   * centrality-based alternative to [[clusterKeepers]]' quality rule
   * when no quality model is trusted.
   *
   * Determinism across engines (the integer-fold discipline): ranks
   * live in integer micro-units end to end. BASE = 1e6 div N;
   * contribution of u to each neighbor = r(u) div deg(u) (BIGINT floor
   * div); r'(v) = (15·BASE) div 100 + (85·Σcontrib) div 100. Every sum
   * is an exact long sum (any partial-agg order), every division is
   * floor div — the DuckDB oracle unrolls the same three iterations and
   * hash-matches (`dedup_graph_rank`).
   *
   * Scale shape: the graph is PAIR-sized (near-dup candidates), not
   * corpus-sized. Each iteration is one equi-join of ranks against the
   * persisted (src, dst, deg) edge frame plus one grouped sum — two
   * shuffles per iteration on the edge key, executor-sized partitions,
   * driver holds only the node-count scalar. Fixed iteration count
   * keeps the lineage bounded (no convergence loop, no checkpointing
   * needed at 3 rounds).
   */
  def graphRank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8], got $iters")
    val spark = pairs.sparkSession
    val edges0 = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // one pass gives BOTH the edge count (shuffle sizing, the CC
    // discipline) and the node count the teleport base needs
    val st = edges0.agg(count(lit(1)), count_distinct(col("src"))).head()
    // rank frames are node-sized: broadcast into each iteration's edge
    // join below the broadcast bound, so an iteration's only exchange is
    // the dst-grouped message sum (the cached edge frame is never
    // re-shuffled)
    val (parts, maybeB) = graphSizing(spark, st.getLong(0))
    // src-partitioned ONCE: the degree aggregate, the degree join, and
    // every iteration's rank join all key on src, so they reuse this
    // exchange instead of re-shuffling the edge frame per step (the
    // only per-iteration exchange left is the dst-grouped message sum)
    val edges = persistInternal("graph_rank_edges",
      edges0.repartition(parts, col("src")))
    val e2 = persistInternal("graph_rank_out",
      edges.join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src"))
    val n = st.getLong(1)
    val base = 1000000L / math.max(n, 1L)
    val base15 = (15L * base) / 100L
    var ranks = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), lit(base).as("r"))
    for (_ <- 1 to iters) {
      ranks = e2.join(maybeB(ranks.withColumnRenamed("doc_id", "src")), "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
        .select(col("dst").as("doc_id"),
          (lit(base15) + expr("(85 * s) div 100")).as("r"))
    }
    ranks.select(col("doc_id"), col("r").as("rank_micro"))
  }

  /**
   * Semi-supervised label propagation over the near-dup pair graph
   * (Zhu & Ghahramani 2002, the clamped-seed variant): spread a small
   * set of trusted labels (human quality ratings, license flags,
   * provenance tags) to every document connected to them — near-
   * duplicates of a labeled document almost certainly deserve its
   * label, and labeling one representative per cluster is the 100-TB
   * labeling budget. Synchronous updates, `iters` rounds: each
   * unlabeled node takes the MODE of its neighbors' current labels
   * (count desc, label asc tie-break — deterministic); seed nodes are
   * CLAMPED (they broadcast but never change). Nodes the labels never
   * reach stay NULL — coverage is a result, not an error.
   *
   * Scale shape: every frame is PAIR-graph-sized (the corpus is never
   * touched); per round one message join + one (node, label) count +
   * one per-node window — the Pregel message-combine shape with
   * map-side partial counts. Edges persist once across rounds
   * ([[graphRank]]'s discipline). The round count bounds the spread
   * radius: labels travel `iters` hops, which over near-dup clusters
   * (quasi-cliques, diameter 1-2) saturates immediately.
   *
   * Output: (doc_id, label) for every node of the pair graph plus
   * every seed, label NULL where unreached.
   */
  def labelPropagation(pairs: DataFrame, seeds: DataFrame,
      iters: Int = 3, aCol: String = "doc_a", bCol: String = "doc_b",
      idCol: String = "doc_id", labelCol: String = "label"): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8], got $iters")
    val edges0 = persistInternal("label_prop_edges",
      pairs.select(col(aCol).as("__x"), col(bCol).as("__y"))
        .unionAll(pairs.select(col(bCol).as("__x"), col(aCol).as("__y"))))
    // near-dup graphs are tiny next to the corpus: full session width
    // spends every round on task overhead, and with node-sized per-round
    // frames (state slices, mode votes) broadcast a round's only
    // edge-frame exchange is the vote count
    val (parts, maybeB) = graphSizing(pairs.sparkSession, edges0.count())
    val edges = persistInternal("label_prop_edges_sized",
      edges0.repartition(parts, col("__y")))
    val seed = seeds.select(col(idCol).as("doc_id"),
      col(labelCol).cast("string").as("__seed"))
    val nodes = edges.select(col("__x").as("doc_id"))
      .union(seed.select("doc_id")).distinct()
    // each round reads the previous state TWICE (message source +
    // update join) — unpersisted, the lineage would double per round
    // (2^iters recompute); a round-keyed persist caps it at one
    // computation per round (≤ 8 registry entries by the iters bound)
    var state = persistInternal("label_prop_state_0",
      nodes.join(maybeB(seed), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("__seed"), col("__seed").as("label")))
    for (i <- 1 to iters) {
      val mode = edges
        .join(maybeB(state.filter(col("label").isNotNull)
          .select(col("doc_id").as("__y"), col("label"))), "__y")
        .groupBy(col("__x"), col("label"))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("__x")
            .orderBy(col("__cnt").desc, col("label"))))
        .filter(col("__rk") === 1)
        .select(col("__x").as("doc_id"), col("label").as("__new"))
      state = persistInternal(s"label_prop_state_$i",
        state.join(maybeB(mode), Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("__seed"),
            coalesce(col("__seed"), col("__new"), col("label"))
              .as("label")))
    }
    state.select("doc_id", "label")
  }

  /**
   * Centrality-based keeper per near-dup cluster: [[graphRank]] scores
   * joined onto [[connectedComponents]] labels, one window per cluster —
   * the highest-ranked member wins (doc_id breaks ties). The
   * decision-layer sibling of [[clusterKeepers]]: quality-based keepers
   * need a trusted quality model; centrality keepers only need the pair
   * graph itself (the copy everyone near-duplicates is the canonical
   * one). Output: (cluster_id, keeper_id, rank_micro, n_members), one
   * row per cluster in the pair graph.
   *
   * Scale shape: every frame here is PAIR-graph-sized; the window
   * partitions by cluster (executor-sized — near-dup clusters are
   * quasi-cliques), and the corpus is never touched.
   */
  def rankKeepers(pairs0: DataFrame, iters: Int = 3): DataFrame = {
    // both consumers iterate over the pair frame — persist it once or the
    // banded candidate join underneath runs twice
    val pairs = persistInternal("rank_keeper_pairs", pairs0)
    rankKeepersFromLabels(pairs, connectedComponents(pairs), iters)
  }

  /** [[rankKeepers]] from an existing `(doc_id, cluster_id)` labeling —
    * the production shape: the keeper decision reads the persisted
    * cluster state and spends its cycles on the rank iterations alone.
    * Identical output by construction (the pairs overload delegates
    * here). */
  def rankKeepersFromLabels(pairs: DataFrame, clusters: DataFrame,
      iters: Int = 3): DataFrame = {
    val ranks = graphRank(pairs, iters)
    val wCount = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("rank_micro").desc, col("doc_id"))
    clusters.join(ranks, "doc_id")
      .withColumn("n_members", count(lit(1)).over(wCount))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_id"),
        col("rank_micro"), col("n_members"))
  }

  /**
   * Blocked fuzzy string matching (record linkage): candidate pairs
   * from an equi-join on `blockCols` (the classic blocking-key step —
   * type + first character, a phonetic code, a length band, whatever
   * the domain gives), verified by edit distance ≤ `maxDist`. The
   * integer Levenshtein metric is defined identically in every engine,
   * so unlike embedding or token-set similarity the verification is
   * oracle-hashable with ZERO float discipline; `sim` is the
   * normalized similarity 1 − d/max(len) for thresholding (rounded;
   * d and len are small integers — the quotient can never land on a
   * 1e-6 round midpoint: 2·10^6/q keeps a factor 2 for any q ≤ 64).
   *
   * Scale shape: the lever is BLOCKING, exactly like every banded
   * family here — the join is an equi-join on the block key (no
   * cartesian), per-block cost is quadratic in block size, and
   * `blockCap` (the [[capBuckets]] discipline) bounds a degenerate
   * block deterministically (drop by id order) instead of letting one
   * hot key quadratically dominate. Recall misses pairs the blocking
   * key separates — the documented trade of every blocked matcher.
   *
   * Output: (id_a, id_b, dist, sim), id_a < id_b.
   */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
      blockCols: Seq[Column], maxDist: Int,
      blockCap: Option[Int] = None): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(blockCols.nonEmpty, "fuzzyPairs needs at least one block key")
    val bNames = blockCols.indices.map(i => s"__b$i")
    val base0 = df.select(col(idCol).as("id") +: col(strCol).as("s") +:
      blockCols.zip(bNames).map { case (c, n) => c.as(n) }: _*)
    // capByKey orders by the dedup family's doc_id — this operator's id
    // column is caller-named, so the cap window is inlined here
    val base = blockCap.fold(base0) { cap =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(bNames.map(col): _*).orderBy(col("id"))
      base0.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= cap).drop("__rn")
    }
    // probe side spread to session width (no-op at scale): the per-pair
    // Levenshtein dominates, and a broadcast-converted block self-join
    // inherits the probe side's parallelism — a single-row-group input
    // ran the whole verify on one core (r15: 4.4 s single-task stage)
    val a = spread(base, col("id"))
      .select(col("id").as("id_a") +: col("s").as("__sa") +:
        bNames.map(col): _*)
    val b = base.select(col("id").as("id_b") +: col("s").as("__sb") +:
      bNames.map(col): _*)
    a.join(b, bNames)
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"),
        round(lit(1.0) - col("dist").cast("double") /
          greatest(length(col("__sa")), length(col("__sb")))
            .cast("double"), 6).as("sim"))
  }

  /**
   * Sorted-neighborhood record linkage (Hernández & Stolfo 1995) — the
   * OTHER classic blocking strategy: globally sort by a similarity-
   * preserving key (here the string itself, id tie-break — callers
   * with a domain key pass `sortCols`), then compare each row only to
   * its `window` successors in rank order. Where [[fuzzyPairs]]' key
   * blocking misses pairs the key separates, SNM misses pairs the SORT
   * separates — running both and unioning is the standard recall
   * recipe; both verify with the same engine-identical Levenshtein.
   *
   * Scale shape: the global rank comes from [[graft.operators
   * .GlobalRank.withGlobalRank]] (range partition + per-partition
   * index + offset fold — never a single-partition window), and the
   * neighbor join is TWO equi-joins on `rank div window` (a pair
   * within `window` ranks lives in the same or the adjacent bucket —
   * exactly one of the two joins emits it, no distinct). Candidate
   * volume is n·window by construction — linear, the property SNM
   * exists for.
   *
   * Output: (id_a, id_b, dist, sim), canonical id_a < id_b.
   */
  def fuzzyPairsSorted(df: DataFrame, idCol: String, strCol: String,
      window: Int, maxDist: Int,
      sortCols: Option[Seq[Column]] = None): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
    // (s, id) is unique, so the rank is reproducible — no hash
    // tie-break ever decides (the oracle replays row_number directly)
    val order = sortCols.getOrElse(Seq(col("s"), col("id")))
    val ranked = graft.operators.GlobalRank
      .withGlobalRank(base, order, "rk")
      .withColumn("__bk", expr(s"(rk - 1) div ${window}L"))
    def side(pfx: String, bkShift: Int) = ranked.select(
      col("id").as(s"${pfx}_id"), col("s").as(s"__s$pfx"),
      col("rk").as(s"__rk$pfx"),
      (col("__bk") + lit(bkShift.toLong)).as("__jbk"))
    def half(shift: Int): DataFrame =
      side("a", shift).join(side("b", 0), "__jbk")
        .filter(col("__rkb") > col("__rka") &&
          col("__rkb") - col("__rka") <= window)
    half(0).unionAll(half(1))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")))
      .filter(col("dist") <= maxDist)
      .select(least(col("a_id"), col("b_id")).as("id_a"),
        greatest(col("a_id"), col("b_id")).as("id_b"), col("dist"),
        round(lit(1.0) - col("dist").cast("double") /
          greatest(length(col("__sa")), length(col("__sb")))
            .cast("double"), 6).as("sim"))
  }

  /**
   * b-bit MinHash verification (Li & König 2010): same xxhash64 banding
   * as [[minhashLshPairsFast]] for candidate generation (lanes 0..7 of
   * the signature — bit-identical band hashes), but pairs are verified
   * against a 64-LANE signature compressed to ONE BIT per lane (the
   * hash's low bit), packed into a single long. Similarity is estimated
   * from bit agreement: for b=1, E[match] = s + (1-s)/2, so
   * `s_hat = 2·(matches/k) − 1`; pairs keep when `s_hat >= tau`.
   *
   * The scale trade this buys: the verify stage joins candidates against
   * 8 BYTES per document instead of the full shingle sets (KBs per doc)
   * — on a 10^11-doc corpus the verification shuffle drops three orders
   * of magnitude, at the cost of estimator noise (σ ≈ 2/√k ≈ 0.25 at
   * k=64; tune k upward — 128 lanes is two longs — when τ must cut
   * finely). Exact-Jaccard verification ([[minhashLshPairsFast]])
   * remains the precision path; this is the triage path that runs first
   * at corpus scale. Everything is deterministic in the xxhash64 family,
   * so the DuckDB oracle replays the estimate bit-for-bit
   * (`dedup_minhash_bbit`).
   *
   * Output: (doc_a, doc_b, n_agree, est_sim) for banded candidates with
   * est_sim >= tau.
   */
  def minhashBbitPairs(docs: DataFrame, k: Int = 64, tau: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      bucketCap: Option[Int] = None): DataFrame = {
    require(k > 8 && k <= 64, s"k must be in (8,64] (one packed long), got $k")
    val bands = 2
    val rowsPerBand = 4
    val sig = persistInternal("minhash_bbit_sig", shingled(docs, idCol, textCol)
      .select(col("doc_id"),
        graft.functions.MinHashSig(docs.sparkSession, col("shingles"), k).as("sig")))
    // one long per doc: bit i = low bit of signature lane i
    val packed = sig.select(col("doc_id"),
      aggregate(sequence(lit(0), lit(k - 1)), lit(0L),
        (acc, i) => acc.bitwiseOR(call_function("shiftleft",
          element_at(col("sig"), i + 1).bitwiseAND(lit(1L)), i))).as("pk"))
    val unpivotedAll = sig.select(col("doc_id"), posexplode(array(
        (0 until bands).map(b =>
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)))
      .toDF("doc_id", "band_idx", "band_hash")
    val unpivoted = bucketCap.map(capBuckets(unpivotedAll, _)).getOrElse(unpivotedAll)
    val candidates = unpivoted.as("a")
      .join(unpivoted.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val est = round(
      lit(2.0) * (lit(k) - call_function("bit_count",
        col("pa").bitwiseXOR(col("pb")))).cast("double") / lit(k.toDouble)
        - lit(1.0), 6)
    candidates
      .join(packed.select(col("doc_id").as("doc_a"), col("pk").as("pa")), "doc_a")
      .join(packed.select(col("doc_id").as("doc_b"), col("pk").as("pb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (lit(k) - call_function("bit_count", col("pa").bitwiseXOR(col("pb"))))
          .cast("long").as("n_agree"),
        est.as("est_sim"))
      .filter(col("est_sim") >= tau)
  }

  /**
   * Robust scale path for skewed corpora: exact-dedup pre-pass + capped
   * buckets. Identical documents collapse to one representative (min
   * doc_id) BEFORE signatures — giant exact-duplicate clusters are the #1
   * cause of hot LSH buckets, and their members need no LSH to be found —
   * then the capped fast path runs on representatives only. Pair ids refer
   * to representatives; exact-dup membership comes from [[exact]].
   */
  def minhashLshPairsRobust(docs: DataFrame, k: Int = 8, bands: Int = 2,
      bucketCap: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val reps = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    minhashLshPairsFast(reps, k, bands, "doc_id", "text", Some(bucketCap))
  }

  /**
   * N-gram (token-set) Jaccard dedup over a metadata blocking key:
   * pairs within a block with Jaccard ≥ threshold. `blockCap` bounds a hot
   * block's quadratic cost the same way [[capBuckets]] does for LSH (the
   * `source` blocking key is coarse — one viral source would otherwise go
   * O(n²) at corpus scale); same recall tradeoff, documented there.
   */
  def ngramJaccardPairs(docs: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      blockCap: Option[Int] = None): DataFrame = {
    // token sets are sorted ONCE per document (amortized over all its
    // pairs) so the per-pair intersection is the native zero-allocation
    // two-pointer merge instead of array_intersect's per-call hash set
    val all = docs.select(col(idCol).as("doc_id"), col(blockCol).as("blk"),
        sort_array(array_distinct(TextAnalysis.tokens(col(textCol)))).as("toks"))
      .withColumn("n", size(col("toks")))
    // note: persisting the tokenized frame was measured SLOWER than double
    // tokenization here (columnar-caching large string arrays costs more
    // than the regexp split) — the self-join deliberately recomputes
    val t = blockCap.map(capByKey(all, Seq("blk"), _)).getOrElse(all)
    // Size prune before the expensive intersect: J = |∩|/|∪| ≤ min(n)/max(n),
    // so a pair can only reach the threshold when least(na,nb) ≥ t·greatest.
    // Evaluated as a cheap long compare in the join filter — the intersect
    // below then runs on the ~surviving pairs only (sound: no qualifying
    // pair is dropped).
    // probe side spread to session width: block keys are few, so the
    // block exchange alone cannot parallelize the per-pair intersects;
    // when the runtime converts this self-join to broadcast-hash (small
    // corpora), the probe side's own partitioning IS the join's
    // parallelism — and a single-row-group corpus gave it one task.
    // spread() is a no-op at scale (input already wide).
    spread(t, col("doc_id")).as("a").join(t.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n"), col("b.n")).cast("double") >=
          lit(threshold) * greatest(col("a.n"), col("b.n")).cast("double"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(col("a.toks")).as("na"), size(col("b.toks")).as("nb"),
        graft.functions.SortedIntersectCount(docs.sparkSession,
          col("a.toks"), col("b.toks")).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * EXACT global all-pairs Jaccard join by prefix filtering (the
   * Vernica/Carey/Li VLDB'10 distributed set-similarity join): every
   * pair of documents with token-set Jaccard ≥ τ, with NO blocking
   * column and NO false negatives — the exact counterpart to the
   * probabilistic MinHash/LSH families (which trade recall for speed)
   * and to [[ngramJaccardPairs]] (exact only within its blocking key).
   *
   * The filter: order all tokens by GLOBAL frequency (rare first, token
   * asc tie-break — deterministic), and for each document keep only its
   * first `len − ⌈τ·len⌉ + 1` tokens as its PREFIX. Two sets with
   * J ≥ τ must share a prefix token (if all shared tokens sat past
   * both prefixes, the overlap could not reach the τ bound), so an
   * equi-join on prefix tokens generates a candidate superset; a
   * length filter (`τ·max(len) ≤ min(len)`, integer milli arithmetic)
   * prunes further, and the exact sorted-merge intersection verifies.
   * Rare-first ordering is what makes the join key selective: the
   * prefix holds each document's rarest tokens, so the candidate join
   * never pivots on stopwords.
   *
   * Scale shape: one token explode + one grouped frequency count + one
   * per-document rank window + one equi-join on (rare) prefix tokens +
   * a candidate-bounded verify — no quadratic block, no cartesian.
   * τ is `tauMilli`/1000 with all pruning in exact integer milli math;
   * only the REPORTED jaccard is a rounded double (the family's
   * convention). Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
   */
  def setSimilarityJoin(docs: DataFrame, tauMilli: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(tauMilli >= 1 && tauMilli <= 1000,
      s"tauMilli must be in [1,1000], got $tauMilli")
    val prefix = ssjPrefix(docs, tauMilli, idCol, textCol)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id") &&
        least(col("a.len"), col("b.len")) * 1000 >=
          lit(tauMilli) * greatest(col("a.len"), col("b.len")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    ssjVerify(cand, docs, tauMilli, idCol, textCol)
  }

  /**
   * Incremental [[setSimilarityJoin]]: exact Jaccard ≥ τ pairs that
   * TOUCH the increment — the continuous-dedup shape
   * ([[minhashLshPairsIncremental]]'s contract) with the exact join's
   * no-false-negative guarantee: old×old pairs are never probed (the
   * candidate join's left side is increment prefixes only), so the
   * per-batch cost is O(|new| · prefix fan-out), not corpus².
   *
   * Token frequencies — the prefix ORDER — come from the full frame
   * (one linear grouped count, the cheap part; at steady state
   * maintain it incrementally as a running (token, tf) table). The
   * order only affects WHICH tokens form prefixes, never correctness:
   * any consistent order preserves the prefix guarantee.
   */
  def setSimilarityJoinIncremental(docs: DataFrame,
      isNew: Column => Column, tauMilli: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(tauMilli >= 1 && tauMilli <= 1000,
      s"tauMilli must be in [1,1000], got $tauMilli")
    val prefix = ssjPrefix(docs, tauMilli, idCol, textCol)
    val pNew = prefix.filter(isNew(col("doc_id")))
    val cand = pNew.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") &&
        col("a.doc_id") =!= col("b.doc_id") &&
        least(col("a.len"), col("b.len")) * 1000 >=
          lit(tauMilli) * greatest(col("a.len"), col("b.len")))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    ssjVerify(cand, docs, tauMilli, idCol, textCol)
  }

  /** Rare-first prefix frame (doc_id, tok, len) — the shared candidate
    * generator of the exact set-join family. */
  private def ssjPrefix(docs: DataFrame, tauMilli: Int,
      idCol: String, textCol: String): DataFrame = {
    val toks = persistInternal("ssj_toks",
      docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol))))
          .as("tok")))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
    val wPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tf"), col("tok"))
    val wLen = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
    persistInternal("ssj_prefix", toks.join(freq, "tok")
      .withColumn("pos", row_number().over(wPos))
      .withColumn("len", count(lit(1)).over(wLen))
      .filter(col("pos") <=
        col("len") - expr(s"($tauMilli * len + 999) div 1000") + 1)
      .select(col("doc_id"), col("tok"), col("len")))
  }

  /** Exact sorted-merge verification of candidate pairs against the
    * integer-milli threshold — the shared tail of the exact set-join
    * family. */
  private def ssjVerify(cand: DataFrame, docs: DataFrame, tauMilli: Int,
      idCol: String, textCol: String): DataFrame =
    ssjVerifySets(cand,
      docs.select(col(idCol).as("doc_id"),
          sort_array(array_distinct(TextAnalysis.tokens(col(textCol))))
            .as("toks"))
        .withColumn("n", size(col("toks"))),
      tauMilli)

  /** [[ssjVerify]] over a pre-tokenized `(doc_id, toks sorted-distinct,
    * n)` sets frame — shared with [[SsjIndex]], whose docs store holds
    * exactly this shape so admission never re-tokenizes the corpus. */
  private[pipeline] def ssjVerifySets(cand: DataFrame, sets: DataFrame,
      tauMilli: Int): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
        col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        graft.functions.SortedIntersectCount(sets.sparkSession,
          col("ta"), col("tb")).as("inter"))
      .filter(col("inter") * 1000 >=
        lit(tauMilli) * (col("na") + col("nb") - col("inter")))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))

  /**
   * SimHash over distinct tokens: bit b of md5(token)'s leading hex digits
   * votes ±1; sign of the per-bit sum forms the hash. The per-bit votes
   * are nBits parallel `sum` columns in ONE groupBy — not an
   * explode(0..nBits-1) into a second shuffle, which multiplies the token
   * rows by nBits (measured 4.5 s → the dominant cost of
   * [[simhashPairs]] at 32 bits). `nBits` must be a multiple of 4 (one
   * md5 hex digit per 4 bits); 16 is the compact default, 32 the pairing
   * resolution ([[simhashPairs]]).
   */
  def simhash(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      nBits: Int = 16): DataFrame =
    simhashFromFeatures(
      // spread before the tokenize+explode (single-row-group corpora
      // otherwise run the whole feature pass on one core; no-op at scale)
      spread(docs, col(idCol)).select(col(idCol).as("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok")),
      nBits)

  /** The feature-generic SimHash core behind [[simhash]] (token
    * features) and [[Multimodal.phash]] (byte-shingle features): `feats`
    * is an exploded `(doc_id, tok)` frame, distinct per doc. */
  private[pipeline] def simhashFromFeatures(feats: DataFrame,
      nBits: Int): DataFrame = {
    require(nBits % 4 == 0 && nBits <= 48, "nBits must be a multiple of 4, <= 48")
    val digits = nBits / 4
    val toks = feats
    // v = int value of the first nBits/4 hex digits of md5(tok), digit-by-
    // digit so the DuckDB mirror (strpos-based) is byte-identical.
    val vExpr = (0 until digits).map { i =>
      val mult = 1L << (4 * (digits - 1 - i))
      // BIGINT terms: at 32 bits the top-digit products overflow INT
      s"(instr('0123456789abcdef', substring(h, ${i + 1}, 1)) - 1) * CAST($mult AS BIGINT)"
    }.mkString(" + ")
    val voteCols = (0 until nBits).map(b =>
      sum(when(shiftright(col("v"), b).bitwiseAND(lit(1L)) === lit(1L), lit(1))
        .otherwise(lit(-1))).as(s"vb$b"))
    toks.withColumn("h", md5(col("tok")))
      .withColumn("v", expr(vExpr))
      .groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until nBits).map(b =>
          when(col(s"vb$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /**
   * SimHash near-dup pairs: banded candidate generation over a 32-bit
   * hash — 4 bands of 8 bits, so by pigeonhole ANY pair with hamming
   * distance ≤ 3 shares at least one identical band. The equi-join on
   * (band_idx, band_val) is therefore a lossless candidate filter for the
   * hamming ≤ 3 verify; shuffle volume is O(n·bands) tiny rows. (A 16-bit
   * hash was measured far too coarse for pairing — ~30% of random pairs
   * landed within hamming 3.)
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // persist: the signature agg otherwise recomputes in every band branch
    // on both join sides (8x); the cache is (doc_id, long) — tiny, and
    // registered so repeat calls hold at most one entry.
    simhashPairsFromSigs(
      persistInternal("simhash_sig", simhash(docs, idCol, textCol, nBits = 32)),
      maxHamming)
  }

  /** The banded-candidate half of [[simhashPairs]], generic over where
    * the 32-bit signature came from (token SimHash or [[Multimodal
    * .phash]]'s byte shingles). `sh` is `(doc_id, simhash)`, persisted
    * by the caller. */
  private[pipeline] def simhashPairsFromSigs(sh: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "4 bands guarantee recall only for hamming <= 3")
    // all 4 bands from ONE pass over the persisted signatures (posexplode)
    // — a 4-branch union costs 4 scans and 4x the codegen stages
    val bands = sh.select(col("doc_id"), col("simhash"), posexplode(array(
        (0 until 4).map(b =>
          shiftright(col("simhash"), b * 8).bitwiseAND(255)): _*)))
      .toDF("doc_id", "simhash", "band_idx", "band_val")
    // first-matching-band dedup: a pair sharing several bands would come
    // out of the join once per shared band; instead of a distinct() —
    // a full shuffle of millions of candidate rows — keep the row only at
    // its SMALLEST matching band, checked as cheap bitwise compares on the
    // two signatures already in the row (no qualifying pair is lost, none
    // duplicates)
    val firstMatchingBand = (0 until 3).map { s =>
      (col("a.band_idx") <= s) ||
        (shiftright(col("a.simhash"), s * 8).bitwiseAND(255) =!=
          shiftright(col("b.simhash"), s * 8).bitwiseAND(255))
    }.reduce(_ && _)
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .filter(firstMatchingBand)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Pairwise source-overlap matrix — the pre-training mixture report
   * "how much of source A near-duplicates source B?". Rolls the verified
   * near-dup pair graph ([[simhashPairs]]) up to the source level: one
   * row per ORDERED source pair (a, b) with at least one cross-source
   * near-dup pair, carrying
   *   - `n_pairs`:      near-dup pairs with one endpoint in each source,
   *   - `n_docs_a`:     distinct a-side docs involved,
   *   - `overlap_frac`: n_docs_a / |a| — the fraction of a that b
   *                     already covers.
   *
   * This is the report that sets mixture weights BEFORE paying for a
   * cross-source dedup of the full corpora: a source 80%-covered by a
   * larger one is a down-weight candidate, not a dedup candidate.
   *
   * Scale shape: the only corpus-scale work is the banded pair generator
   * itself (already capped); attaching sources is two narrow id-keyed
   * joins against a `(doc_id, source)` projection (AQE broadcasts it
   * when the doc-id dimension fits, and the pair side is
   * candidate-bounded either way), and the rollup output is ≤
   * |sources|² rows — independent of corpus size.
   */
  def sourceOverlap(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val src = docs.select(col(idCol).as("doc_id"), col(srcCol).as("src"))
    val totals = src.groupBy("src").agg(count(lit(1)).as("n_docs"))
    val pairs = simhashPairs(docs, maxHamming, idCol, textCol)
    // both orientations: the matrix is directional (frac is over side a)
    val directed = pairs.select(col("doc_a").as("x"), col("doc_b").as("y"))
      .unionAll(pairs.select(col("doc_b").as("x"), col("doc_a").as("y")))
    val rolled = directed
      .join(src.select(col("doc_id").as("x"), col("src").as("src_a")), "x")
      .join(src.select(col("doc_id").as("y"), col("src").as("src_b")), "y")
      .filter(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("x")).as("n_docs_a"))
    rolled.join(totals.select(col("src").as("src_a"), col("n_docs")), "src_a")
      .select(col("src_a"), col("src_b"), col("n_pairs"), col("n_docs_a"),
        round(col("n_docs_a").cast("double") / col("n_docs").cast("double"), 6)
          .as("overlap_frac"))
  }

  /**
   * Exact source Venn: for every ordered source pair, the distinct-
   * content counts |A|, |B|, |A∩B|, |A\B|, |B\A| over normalized
   * fingerprints — the overlap matrix a mixture designer reads before
   * weighting sources (how much of B is already in A). Distinct
   * fingerprint+source projection, one fpr equi-join for the
   * intersections, totals cross-paired (sources × sources is tiny).
   * Pairs with zero overlap still appear (left join), so the matrix is
   * complete. Cost class: the fingerprint distinct shuffle + one
   * fpr-keyed join — same as corpus diff; the certified-exact path.
   * [[sourceVennSketch]] is the scan-speed twin for 100 TB.
   */
  def sourceVenn(docs: DataFrame, srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val fs = docs.select(
      graft.pipeline.TextAnalysis.fingerprint(col(textCol)).as("fpr"),
      col(srcCol).as("src")).distinct()
    val totals = fs.groupBy("src").agg(count(lit(1)).as("n"))
    val common = fs.select(col("fpr"), col("src").as("src_a"))
      .join(fs.select(col("fpr"), col("src").as("src_b")), "fpr")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    totals.select(col("src").as("src_a"), col("n").as("n_a"))
      .join(totals.select(col("src").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
      .join(common, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (col("n_a") - coalesce(col("n_common"), lit(0L))).as("n_only_a"),
        (col("n_b") - coalesce(col("n_common"), lit(0L))).as("n_only_b"))
  }

  /**
   * Theta-sketch source Venn — the 100-TB twin of [[sourceVenn]]: ONE
   * scan reduces each source to a theta sketch of its fingerprints
   * (map-side mergeable, sources-sized result); intersections and
   * differences are then SKETCH set-operations on the tiny per-source
   * frame — no distinct shuffle, no fingerprint join, cost independent
   * of overlap structure. Theta (not HLL) because HLL unions only;
   * intersection/difference need theta's retained-sample form
   * (DataSketches). Estimates land within the sketch rsd of the exact
   * matrix (CorpusReportSpec pins the envelope on the corpus); the
   * exact op remains the certification path.
   */
  def sourceVennSketch(docs: DataFrame, lgK: Int = 12,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    val sk = docs.select(
        graft.pipeline.TextAnalysis.fingerprint(col(textCol)).as("fpr"),
        col(srcCol).as("src"))
      .groupBy("src")
      .agg(theta_sketch_agg(col("fpr"), lgK).as("sk"))
    sk.select(col("src").as("src_a"), col("sk").as("sk_a"))
      .join(sk.select(col("src").as("src_b"), col("sk").as("sk_b")),
        col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        theta_sketch_estimate(col("sk_a")).as("n_a_est"),
        theta_sketch_estimate(col("sk_b")).as("n_b_est"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
          .as("n_common_est"),
        theta_sketch_estimate(theta_difference(col("sk_a"), col("sk_b")))
          .as("n_only_a_est"),
        theta_sketch_estimate(theta_difference(col("sk_b"), col("sk_a")))
          .as("n_only_b_est"))
  }

  /** Rounds the last [[connectedComponents]] call took (diagnostics);
    * 0 when it labelled on the driver, which has no rounds. */
  @volatile private[graft] var lastCcRounds: Int = 0

  /** Per-round lineage cut for the iterative graph family — see
    * [[Lineage.cut]]: executor-local by default, reliable when
    * `spark.graft.checkpointDir` is set. */
  private def cutLineage(df: DataFrame): DataFrame = Lineage.cut(df)

  /** Edge rows (as given: before symmetrising and dedup) up to which
    * [[connectedComponents]] labels on the driver. At the bound the driver
    * holds 100k `(src, dst)` rows plus a union-find over at most 200k ids.
    * Measured on a 4-core host, warm, on a random 100k-edge graph over
    * 126k ids: the `take` 0.10–0.19 s, union-find and local frame another
    * 0.18–0.25 s, collecting the labels 0.22–0.34 s. On a 171-edge graph
    * of 2–8-member quasi-cliques the distributed labeler takes 2 rounds,
    * 35 Spark jobs and 3.2–3.8 s; the driver path 0.14–0.17 s. */
  val LocalCcMaxEdges: Int = 100000

  /**
   * Connected components over near-dup pairs → `(doc_id, cluster_id)`
   * with `cluster_id` = the minimum doc id reachable. This is the step
   * that turns pairwise dedup output into actionable *clusters* (keep one
   * representative per cluster, drop the rest) — without it, transitive
   * duplicates (A~B, B~C but A≁C by threshold) split across keepers.
   *
   * Two paths, chosen by one `take` of at most [[LocalCcMaxEdges]] + 1
   * edge rows:
   *  - At or below the bound, a union-find on the driver whose root is
   *    always its component's min id; the result is a local frame. There
   *    are no rounds, so `maxIter` and the non-convergence error do not
   *    apply and [[lastCcRounds]] reads 0.
   *  - Above it, [[connectedComponentsAlternating]] (large-star /
   *    small-star), whose round count does not depend on the graph's
   *    diameter: the rows the `take` pulled are dropped and the pairs are
   *    read again by the rounds.
   *
   * Both paths give the same rows (CcLocalSpec pins it): a row with a
   * null endpoint joins nothing, so its other endpoint stands alone unless
   * another row connects it, and the output gains one `(null, null)` row.
   */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 50): DataFrame =
    connectedComponentsBounded(pairs, aCol, bCol, maxIter, LocalCcMaxEdges)

  /** [[connectedComponents]] with its driver bound as a parameter, so tests
    * can push a small graph onto the distributed path. */
  private[graft] def connectedComponentsBounded(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int, maxLocalEdges: Int): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .take(maxLocalEdges + 1)
    if (edges.length > maxLocalEdges)
      connectedComponentsAlternating(pairs, aCol, bCol, maxIter)
    else {
      lastCcRounds = 0
      localComponents(pairs.sparkSession, edges)
    }
  }

  /** Union-find over `(src, dst)` rows with the smaller root kept, so each
    * root is its component's min id; path halving keeps finds short. */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      if (!parent.contains(x)) parent(x) = x
      var n = x
      while (parent(n) != n) { parent(n) = parent(parent(n)); n = parent(n) }
      n
    }
    var sawNull = false
    edges.foreach { e =>
      if (e.isNullAt(0) || e.isNullAt(1)) {
        sawNull = true
        Seq(0, 1).filterNot(e.isNullAt).foreach(i => find(e.getLong(i)))
      } else {
        val (a, b) = (find(e.getLong(0)), find(e.getLong(1)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
    }
    val rows = new java.util.ArrayList[Row](parent.size + 1)
    parent.keys.toArray.foreach(id => rows.add(Row(id, find(id))))
    if (sawNull) rows.add(Row(null, null))
    spark.createDataFrame(rows, StructType(Seq(
      StructField("doc_id", LongType), StructField("cluster_id", LongType))))
  }

  /**
   * INCREMENTAL [[connectedComponents]] — fold a batch of NEW pairs
   * into an existing min-id cluster labeling without re-touching the
   * old graph's edges. The old structure is fully summarized by its
   * labels (every component is connected and its label IS its min
   * member id), so the union graph's components equal the components
   * of the CONDENSED graph: map each new edge's endpoints to their
   * labels (unlabeled endpoints stand for themselves), drop the
   * edges that collapse inside one old cluster, and run the ordinary
   * CC on what remains — a graph sized by the BATCH and the clusters
   * it touches, never the corpus. The meta labeling's min over
   * {touched cluster labels} ∪ {new node ids} is exactly the merged
   * component's true min id, so the final state is BIT-IDENTICAL to a
   * full recompute over old ∪ new pairs (the oracle contract), at
   * per-batch cost: one label lookup join for the edge endpoints, the
   * meta CC, and one state remap join against the (small, broadcast)
   * meta labels.
   *
   * `labels` is a `(doc_id, cluster_id)` state frame — exactly
   * [[connectedComponents]]' output (paired docs only; docs that have
   * never paired are absent from the state by the family's
   * convention, and enter it the first time a pair touches them).
   */
  def connectedComponentsIncremental(labels: DataFrame,
      newPairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 50): DataFrame = {
    val lbl = persistInternal("cc_inc_labels",
      labels.select(col("doc_id").cast("long").as("doc_id"),
        col("cluster_id").cast("long").as("cluster_id")))
    val e = persistInternal("cc_inc_edges",
      newPairs.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b")))
    val mapped = e
      .join(lbl.select(col("doc_id").as("a"), col("cluster_id").as("la")),
        Seq("a"), "left")
      .join(lbl.select(col("doc_id").as("b"), col("cluster_id").as("lb")),
        Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("doc_a"),
        coalesce(col("lb"), col("b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val meta = persistInternal("cc_inc_meta",
      connectedComponents(mapped, maxIter = maxIter))
    // remap the old state through the meta labels (clusters the batch
    // never touched keep their labels — the left join misses them)
    val updatedOld = lbl
      .join(broadcast(meta.select(col("doc_id").as("cluster_id"),
        col("cluster_id").as("__nl"))), Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__nl"), col("cluster_id")).as("cluster_id"))
    // nodes the batch introduced: they stood for themselves in the
    // condensed graph, so their meta label is their final label
    val newNodes = e.select(col("a").as("doc_id"))
      .unionAll(e.select(col("b").as("doc_id"))).distinct()
      .join(lbl, Seq("doc_id"), "left_anti")
      .join(broadcast(meta.withColumnRenamed("cluster_id", "__nl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__nl"), col("doc_id")).as("cluster_id"))
    updatedOld.unionAll(newNodes)
  }

  /**
   * RETRACTION for [[connectedComponentsIncremental]]'s cluster state —
   * the missing inverse: removing documents can SPLIT a cluster, which
   * the label state alone cannot express (a min-id label says who is
   * together, not through whom). With the standing PAIR FRAME persisted
   * (production keeps it — it is what the labels were computed from),
   * the split is recomputable at touched-cluster cost: victims' labels
   * name the touched clusters; every pair of an untouched cluster is
   * untouched (both endpoints of a pair share a label), so only the
   * touched clusters' surviving pairs re-run CC, and the untouched
   * state passes through verbatim. The result is BIT-IDENTICAL to a
   * full recompute over all surviving pairs: untouched components keep
   * their min-id labels (edges unchanged), and the recompute's min-id
   * labels over the touched subgraph ARE the full recompute's labels
   * for those nodes.
   *
   * Contract: `labels` must be the CC state OF `pairs` (every pair
   * endpoint labeled — [[connectedComponents]]' output over exactly
   * this frame, possibly folded forward by the incremental admit).
   * Victims absent from the state are no-ops. Docs that lose their
   * last pair leave the state (the family's paired-docs-only
   * convention — they are singletons again).
   *
   * Scale shape: touched-cluster ids broadcast against the state (one
   * scan) to list members; the pair frame filters by a member
   * broadcast-semi-join (scan, no shuffle of the corpus-sized frame);
   * the CC iterations run over the touched subgraph only.
   */
  def connectedComponentsRetract(labels: DataFrame, pairs: DataFrame,
      victims: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      idCol: String = "doc_id", maxIter: Int = 50): DataFrame = {
    val lbl = persistInternal("cc_ret_labels",
      labels.select(col("doc_id").cast("long").as("doc_id"),
        col("cluster_id").cast("long").as("cluster_id")))
    val vic = persistInternal("cc_ret_victims",
      victims.select(col(idCol).cast("long").as("doc_id")).distinct())
    val touchedClusters = persistInternal("cc_ret_touched",
      lbl.join(vic, Seq("doc_id"), "left_semi")
        .select("cluster_id").distinct())
    // untouched clusters pass through (victims live in touched ones)
    val untouched = lbl
      .join(broadcast(touchedClusters), Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
    // members of touched clusters — the only nodes whose labels can
    // change; both endpoints of a pair share a cluster, so filtering
    // the pair frame on ONE endpoint's membership finds every touched
    // pair without a label-lookup shuffle
    val members = persistInternal("cc_ret_members",
      lbl.join(broadcast(touchedClusters), Seq("cluster_id"), "left_semi")
        .select("doc_id"))
    val e = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val surviving = e
      .join(members.select(col("doc_id").as("a")), Seq("a"), "left_semi")
      .join(vic.select(col("doc_id").as("a")), Seq("a"), "left_anti")
      .join(vic.select(col("doc_id").as("b")), Seq("b"), "left_anti")
    val recomputed = connectedComponents(
      surviving.select(col("a").as("doc_a"), col("b").as("doc_b")),
      maxIter = maxIter)
    untouched.unionAll(recomputed)
  }

  /**
   * Quality-aware cluster resolution — the keeper policy a production
   * corpus actually wants: within each near-dup cluster keep the
   * HIGHEST-quality member (ties to the smallest id), not the smallest
   * id. The reference's dedup keeps an arbitrary representative
   * (min-key, like [[exact]]); when members differ — truncated mirrors,
   * boilerplate-wrapped reposts — that throws away the best copy.
   *
   * Output: one row per document of `docs` —
   * `(doc_id, cluster_id, quality_score, is_keeper)` with singletons
   * (no near-dup pair) forming their own cluster and keeping
   * themselves. Downstream: `filter(is_keeper = 1)` is the deduped
   * corpus; the non-keeper rows carry the drop provenance.
   *
   * Scale shape: quality is scan-stage column math
   * ([[TextAnalysis.withQuality]]); cluster ids join in from the
   * pair-graph-sized CC output (left join — the corpus never enters the
   * CC iteration); keeper selection is ONE hash-partition-by-cluster
   * window (row_number over quality desc, id asc). Cluster sizes — and
   * so per-partition sort runs — are bounded because every upstream
   * candidate generator caps its blocks/buckets.
   */
  def clusterKeepers(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    clusterKeepersFromLabels(docs, connectedComponents(pairs),
      idCol, textCol)

  /** [[clusterKeepers]] from an existing `(doc_id, cluster_id)`
    * labeling — the production shape: keeper policy reads the persisted
    * cluster state instead of re-running CC per decision pass.
    * Identical output by construction (the pairs overload delegates
    * here). */
  def clusterKeepersFromLabels(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val member = TextAnalysis.withQuality(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(col("doc_id"), col("quality_score"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    member.withColumn("is_keeper",
      (row_number().over(w) === 1).cast("int"))
  }

  /**
   * The distributed [[connectedComponents]], which runs above
   * [[LocalCcMaxEdges]] edge rows: the alternating large-star /
   * small-star algorithm (Kiveris et al., "Connected Components in
   * MapReduce and Beyond", SoCC 2014).
   *
   *  - large-star: per node u, connect every LARGER neighbor to
   *    m = min(N(u) ∪ u) — flattens long tails upward.
   *  - small-star: per node u (over larger→smaller directed edges),
   *    connect u and all its smaller neighbors to their minimum —
   *    contracts each neighborhood toward its root.
   *
   * Each round is two grouped-min joins over the CURRENT edge set
   * (which shrinks toward a star forest), and the round count is
   * O(log² n) worst-case, independent of diameter: a 600-node path
   * converges within 15 rounds, a sparse random graph of 100k edges over
   * 200k ids (long paths) in 8 (SCALE.md, "connected components at
   * scale"). Edge and label frames are cut per round via [[cutLineage]]
   * (executor-local by default, reliable under
   * `spark.graft.checkpointDir`), so the plan does not grow with the
   * round count. More than `maxIter` rounds fails loudly: unconverged
   * labels would split one component into several clusters.
   *
   * Output contract is [[connectedComponents]]'s, and CcLocalSpec pins
   * parity with its driver path: `(doc_id, cluster_id = min reachable
   * id)` for every non-null endpoint of `pairs` (a self-loop-only node
   * labels itself), and one `(null, null)` row when any endpoint is null;
   * a null endpoint joins nothing.
   */
  def connectedComponentsAlternating(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxIter: Int = 30): DataFrame = {
    val ends = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    // every endpoint is a node, including self-loop and null ones (the
    // null id matches no label join, so it keeps the label null)
    val nodes = ends.select(col("a").as("id"))
      .unionAll(ends.select(col("b").as("id"))).distinct()
      .transform(cutLineage)
    // normalize ONCE to larger→smaller directed distinct edges (`=!=`
    // drops self-loops and null endpoints); both star operations preserve
    // that invariant (large-star emits (v, m) with v > u ≥ m, small-star
    // emits pairs pointing at the group minimum), so the per-round
    // re-normalization shuffles are saved
    val e0 = cutLineage(ends.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("src"),
        least(col("a"), col("b")).as("dst"))
      .distinct())
    val spark = pairs.sparkSession
    // per-round shuffles at graph-derived width; node-sized frames
    // (grouped mins, label frames) broadcast below the bound
    val (parts, maybeB) = graphSizing(spark, e0.count())
    // emit (v, m(u)) for every neighbor v > u; m = min(N(u) ∪ u)
    def largeStar(e: DataFrame): DataFrame = {
      // e is directed distinct, so the two directions cannot collide
      val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = und.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      und.join(maybeB(mins), "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")).distinct()
    }
    // over the larger→smaller edges: connect u and all smaller neighbors
    // to the neighborhood minimum
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min(col("dst")).as("m"))
      e.join(maybeB(mins), "src").filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(mins.select(col("src"), col("m").as("dst")))
        .distinct()
    }
    // each node's label under the edges `e` (its smallest out-neighbor,
    // else itself), carried beside its previous label `old` in ONE frame:
    // the convergence check is then a filter-count on the checkpointed
    // frame instead of a second join against the previous labels
    def relabel(labels: DataFrame, e: DataFrame): DataFrame = labels
      .join(
        maybeB(e.groupBy(col("src").as("id")).agg(min(col("dst")).as("mn"))),
        Seq("id"), "left")
      .select(col("id"), col("lbl").as("old"),
        coalesce(col("mn"), col("id")).as("lbl"))
    withShuffleParts(spark, parts) {
    var e = e0
    var labels = cutLineage(relabel(nodes.withColumn("lbl", col("id")), e))
    // (smallStar output keeps src > dst: it links nodes to a strictly
    // smaller group minimum, so the directed-distinct invariant holds)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      e = cutLineage(smallStar(largeStar(e)))
      labels = cutLineage(relabel(labels.select("id", "lbl"), e))
      changed = labels.filter(col("lbl") =!= col("old")).count()
      iter += 1
    }
    lastCcRounds = iter
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponentsAlternating did not converge in $maxIter " +
        s"rounds ($changed labels still changing) — raise maxIter")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
    } // withShuffleParts
  }

  /**
   * Embedding-cosine near-dup pairs, blocked by a coarse cluster column
   * (IVF-style): only intra-cell pairs are compared, so the join is an
   * equi-join on the cell id — the 100 TB-safe plan.
   */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame = {
    // persisted: norms computed once per vector, not per pair
    val e = persistInternal("embedding_norms",
      emb.select(col(idCol).as("vec_id"), col(cellCol).as("cell"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
        .withColumn("nrm", Similarity.norm(col("v"))))
    e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /**
   * Winnowed-fingerprint overlap pairs — MOSS-style copied-passage
   * detection at corpus scale (Schleimer et al. 2003). An inverted index
   * over [[TextAnalysis.winnowFingerprints]] selections: documents
   * sharing at least `minShared` selected fingerprints are reported with
   * their containment fraction (shared / smaller fingerprint set). Where
   * the shingle-Jaccard family scores whole-document similarity, winnow
   * overlap localizes to substring matches >= w + k - 1 chars — the
   * right primitive for licensing/provenance sweeps and quote mining.
   *
   * `maxDf` drops fingerprints present in more than that many documents
   * before pairing (boilerplate headers/footers are shared BY EVERYONE
   * and carry no provenance signal — the same guard as
   * [[Decontamination]]'s maxDf); containment denominators use the
   * UNCAPPED per-doc fingerprint counts so the reported fraction stays
   * an honest property of the documents, not of the cap.
   *
   * Scale shape: the pair join is fp-keyed with fan-out bounded by
   * maxDf² per fingerprint; everything upstream is scan-shaped or
   * per-document. No quadratic blow-up at any corpus size.
   */
  def winnowOverlapPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
      minShared: Int = 3, maxDf: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minShared > 0, s"minShared must be positive, got $minShared")
    require(maxDf > 0, s"maxDf must be positive, got $maxDf")
    // persisted: the selection feeds sizes, the df cap, and both join
    // sides; recomputing it four times would re-run the k-gram explode
    val fps = persistInternal("winnow_fps",
      TextAnalysis.winnowFingerprints(docs, k, w, idCol, textCol))
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val dfWin = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val kept = fps.withColumn("df", count(lit(1)).over(dfWin))
      .filter(col("df") <= maxDf).drop("df")
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6).as("containment"))
  }

  /**
   * LSH tuning report — the measurement every banding config decision
   * needs: precision and recall of the MinHash-LSH candidate generator
   * against EXACT shingle Jaccard, on a hash-stable document sample.
   * Banding theory predicts P[candidate] = 1-(1-j^r)^b (r=4 rows, b=2
   * bands here); this op measures the reality on YOUR corpus so r/b/
   * threshold are chosen from data, not folklore.
   *
   * Ground truth within the sample is exhaustive: a pair with
   * Jaccard > 0 must share a shingle, so the inverted-index self-join
   * enumerates every candidate the exact measure could accept — no
   * second LSH approximation sneaks into the denominator. `tp` counts
   * LSH candidates whose (rounded) verified Jaccard clears `threshold`.
   *
   * One row out: (n_docs, n_true, n_cand, tp, prec, recall).
   *
   * Scale shape: the quadratic ground-truth join is confined to the
   * `rate` sample BY CONSTRUCTION (that is the tuning protocol — the
   * sample is the instrument, the full corpus never enters); the LSH
   * side reuses the production band join on the same sample. All
   * aggregates are single-row; nothing collects.
   */
  def lshTuningReport(docs: DataFrame, rate: Double = 0.5,
      threshold: Double = 0.7, salt: String = "lshtune",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sample = Sampling.deterministicSample(docs, idCol, rate, salt)
    val sh = persistInternal("lsh_tuning_shingled",
      shingled(sample, idCol, textCol))
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    val cands = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val truth = jaccardVerify(cands, sh).filter(col("jaccard") >= threshold)
    val lsh = minhashLshPairs(sample, idCol, textCol)
    val nDocs = sample.agg(count(lit(1)).as("n_docs"))
    val nTruth = truth.agg(count(lit(1)).as("n_true"))
    val lshAgg = lsh.agg(count(lit(1)).as("n_cand"),
      sum(when(col("jaccard") >= threshold, 1L).otherwise(0L)).as("tp"))
    nDocs.crossJoin(nTruth).crossJoin(lshAgg)
      .select(col("n_docs"), col("n_true"), col("n_cand"), col("tp"),
        when(col("n_cand") > 0,
          round(col("tp").cast("double") / col("n_cand").cast("double"), 6))
          .otherwise(lit(0.0)).as("prec"),
        when(col("n_true") > 0,
          round(col("tp").cast("double") / col("n_true").cast("double"), 6))
          .otherwise(lit(0.0)).as("recall"))
  }

  /**
   * URL canonicalization — the key function behind URL-level dedup, the
   * standard FIRST stage of a web-corpus pipeline (run before any
   * content hashing: it needs no text scan and collapses the bulk of
   * recrawl duplicates). Rules, chosen to be exactly replayable in
   * ANSI-ish SQL so the oracle can certify them:
   *
   *  - scheme and host lowercase; path case is preserved
   *  - leading `www.` prefixes stripped from the host (repeated, so
   *    the canonical form is a FIXED POINT — idempotence is property-
   *    tested in UrlDedupSpec)
   *  - default ports stripped (`:80` for http, `:443` for https)
   *  - fragment (`#…`) dropped
   *  - query: `utm_*` tracking params dropped, the rest sorted by
   *    byte order and re-joined; an emptied query drops its `?`
   *  - trailing slashes stripped from the path
   *
   * All column math (regexp splits + one array sort over query params —
   * bounded by the param count), codegen-friendly, scan-speed at any
   * corpus size.
   *
   * Inputs WITHOUT an explicit scheme (`example.com/x`, protocol-
   * relative `//host/x`) pass through UNCHANGED: every rule above is
   * anchored on the scheme, so rewriting such rows would silently
   * collapse them onto garbage keys (`'://…'` forms with the host
   * parsed out of the path) and [[urlDedup]] would merge unrelated
   * documents on them. Passthrough keeps malformed rows distinct-by-
   * input — the safe dedup default. The oracle replays the same guard.
   */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = lower(regexp_extract(rest, "^([^/?#]+)", 1))
    val host0 = regexp_replace(hostport, "^(www\\.)+", "")
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val tail0 = regexp_replace(rest, "^[^/?#]+", "")
    val tail = regexp_replace(tail0, "#.*$", "") // fragment off
    val path = regexp_replace(regexp_extract(tail, "^([^?]*)", 1), "/+$", "")
    val query = regexp_extract(tail, "\\?(.*)$", 1)
    val kept = array_join(
      array_sort(filter(split(query, "&"),
        p => p =!= "" && !p.startsWith("utm_"))), "&")
    when(scheme === "", url) // scheme-less: no anchor, pass through
      .otherwise(concat(scheme, lit("://"), host, path,
        when(kept === "", lit("")).otherwise(concat(lit("?"), kept))))
  }

  /**
   * URL-level dedup: one row per document — its canonical URL and the
   * keeper (smallest id sharing the canonical form). One map-side-
   * combined groupBy on the canonical key + a join back for per-doc
   * provenance; at 100 TB this runs before any text is read (URL
   * columns only) and typically removes the recrawl bulk for free.
   */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id"): DataFrame = {
    val canon = docs.select(col(idCol),
      canonicalizeUrl(col(urlCol)).as("canonical_url"))
    val keepers = canon.groupBy("canonical_url")
      .agg(min(col(idCol)).as("keeper_id"))
    canon.join(keepers, "canonical_url")
      .select(col(idCol), col("canonical_url"), col("keeper_id"))
  }

  /**
   * New-vs-corpus URL admission — the URL member of the incremental
   * family ([[exactIncremental]], [[minhashLshPairsIncremental]],
   * [[containmentPairsLshIncremental]]): a crawl batch is admitted
   * against the standing corpus by canonical-URL anti-join (URLs
   * already crawled are dropped without touching any text), then
   * within-batch duplicates collapse to the smallest id. One distinct
   * over corpus canonicals + one key-partitioned anti-join, both
   * map-side combined; old×old is never enumerated. At steady state
   * the corpus side is a pre-materialized canonical-URL table, making
   * the per-batch cost independent of corpus text size — this is why
   * URL dedup runs FIRST in a recrawl pipeline.
   */
  def urlDedupIncremental(newDocs: DataFrame, corpus: DataFrame,
      urlCol: String = "url", idCol: String = "doc_id"): DataFrame = {
    val nf = newDocs.select(col(idCol).as("doc_id"),
      canonicalizeUrl(col(urlCol)).as("canonical_url"))
    val seen = corpus
      .select(canonicalizeUrl(col(urlCol)).as("canonical_url")).distinct()
    nf.join(seen, Seq("canonical_url"), "left_anti")
      .groupBy("canonical_url")
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_dups"))
  }

  /** (degree frame `(v, deg)`, oriented edges `(src, dst, ddst)`,
    * triangles `(x, y, z)` each exactly once) for the undirected pair
    * graph — the shared core of [[triangleCounts]] / [[triangleStats]].
    *
    * Orientation is the scale move (Suri & Vassilvitskii 2011; Cohen
    * 2009): store each edge once, pointed from the endpoint that is
    * SMALLER under the total order π = (degree, id), enumerate wedges
    * only at each edge's π-smaller endpoint, and close them against the
    * oriented edge list. Out-degree under π-orientation is O(√m) for
    * any graph, so the wedge count is Σ C(outdeg, 2) — bounded even
    * when raw degrees are wildly skewed (a boilerplate hub that
    * near-dups half the corpus contributes wedges only through its
    * low-degree neighbors, never C(hub_deg, 2)). Every step is an
    * equi-join or a grouped count: no windows, no cartesian, no
    * driver-side state; the oriented frame persists once and feeds both
    * sides of the closing join.
    *
    * `degCap` is the lever that keeps the enumeration bounded on
    * BLOB-SHAPED inputs: a near-dup graph's quasi-cliques make the
    * total triangle count itself cubic-ish in blob size (the sf0.1
    * simhash graph holds 4.6k nodes, 1.57M edges and 462M triangles —
    * orientation bounds the PER-WEDGE cost, but nothing makes half a
    * billion triangles cheap to enumerate, here or at 100 TB). Capping
    * drops every node whose FULL degree exceeds the cap before any
    * wedge forms — exactly the boilerplate hubs and saturated mirror
    * blobs whose clustering coefficient carries no information (they
    * are known-dense by degree alone) — then recomputes degrees inside
    * the surviving subgraph so cc stays a true local coefficient
    * there. Deterministic (a pure degree threshold, no sampling),
    * hence oracle-replayable; nodes left edgeless by hub removal drop
    * out of the result with the hubs.
    */
  private def triangleFrames(pairs0: DataFrame, aCol: String,
      bCol: String, degCap: Option[Int]): (DataFrame, DataFrame, DataFrame) = {
    val raw = persistInternal("tri_edges_raw",
      pairs0.filter(col(aCol) =!= col(bCol))
        .select(least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .distinct())
    val pairs = degCap match {
      case None => raw
      case Some(cap) =>
        require(cap >= 1, s"degCap must be >= 1, got $cap")
        val keep = raw.select(col("a").as("v"))
          .unionAll(raw.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("d0"))
          .filter(col("d0") <= cap).select(col("v"))
        // the kept-node list is ≤ node-count-sized — both semi-joins
        // broadcast; edges never shuffle for the cap
        persistInternal("tri_edges_capped",
          raw.join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
            .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi"))
    }
    val deg = persistInternal("tri_deg",
      pairs.select(col("a").as("v")).unionAll(pairs.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg")))
    val withDeg = pairs
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // keep the destination's degree on the edge: the wedge filter below
    // must compare the two far endpoints under the SAME π order the
    // orientation used, and shipping the degree beats re-joining it
    val oriented = persistInternal("tri_oriented", withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("src"),
      when(fwd, col("b")).otherwise(col("a")).as("dst"),
      when(fwd, col("db")).otherwise(col("da")).as("ddst")))
    val o1 = oriented.select(col("src"), col("dst").as("y"),
      col("ddst").as("dy"))
    val o2 = oriented.select(col("src"), col("dst").as("z"),
      col("ddst").as("dz"))
    // wedge (y, z) at src with y <π z: the closing edge, if it exists,
    // is stored exactly as y → z, so one equi-join finds each triangle
    // exactly once (at its π-smallest corner)
    val wedges = o1.join(o2, Seq("src"))
      .filter(col("dy") < col("dz") ||
        (col("dy") === col("dz") && col("y") < col("z")))
      .select(col("src").as("x"), col("y"), col("z"))
    val tris = wedges.join(
      oriented.select(col("src").as("y"), col("dst").as("z")),
      Seq("y", "z"))
      .select(col("x"), col("y"), col("z"))
    (deg, oriented, tris)
  }

  /**
   * The k-core of the pair graph: the maximal subgraph in which every
   * node keeps degree ≥ k, found by classic peeling — repeatedly drop
   * nodes whose CURRENT degree is below k until nothing changes. The
   * k-core is the "hard kernel" of a duplication graph: nodes that
   * stay densely duplicated even after their weakly-attached
   * neighborhood peels away (k=2 strips pendant chains, k=3+ isolates
   * genuine mirror cores), and the standard precursor to blob triage
   * when [[triangleCounts]]' degCap has excluded the saturated hubs.
   *
   * Scale shape: each round is one grouped degree count plus two
   * broadcast semi-joins against the survivor list — every frame is
   * edge-list-sized, no wedge enumeration, so NO degree cap is needed
   * even on blob graphs. Rounds checkpoint through [[cutLineage]]
   * (the [[connectedComponents]] discipline) and the loop FAILS LOUDLY
   * if `maxIter` passes without a fixpoint — returning a half-peeled
   * subgraph as "the core" would silently overstate density. Peeling
   * is monotone (nodes only leave), so convergence is ≤ node-count
   * rounds and in practice a handful; [[kCoreWithRounds]] returns the
   * count alongside the result for contracts that unroll a fixed
   * number of rounds (the DuckDB oracle replay: extra rounds past the
   * fixpoint are no-ops, so any unroll ≥ the returned round count
   * matches bit for bit).
   *
   * Output: `(doc_id, core_deg)` for every node of the k-core, with
   * its degree inside the core (≥ k by construction); empty when no
   * k-core exists.
   */
  def kCore(pairs0: DataFrame, k: Int, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 50): DataFrame =
    kCoreWithRounds(pairs0, k, aCol, bCol, maxIter)._1

  /** [[kCore]] plus the peel-round count it took (including the final
    * no-change confirmation round) — returned per call rather than
    * parked in shared mutable state, so concurrent kCore invocations
    * can't feed each other's unrolled-oracle guards a stale count. */
  def kCoreWithRounds(pairs0: DataFrame, k: Int, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 50): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    // Loop state is the SURVIVOR NODE SET, never a per-round edge
    // frame: the edge list caches once (columnar), each round re-derives
    // surviving degrees from it with two semi-joins against the
    // node-sized survivor frame and peels on the degree. Materializing
    // per-round edge frames instead (checkpoint or cache) was measured
    // to thrash memory on a 10×-densified graph — edge frames are the
    // big thing here, and this loop never writes one.
    val edges0 = persistInternal("kcore_edges",
      pairs0.filter(col(aCol) =!= col(bCol))
        .select(least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .distinct())
    val spark = pairs0.sparkSession
    // survivor sets are node-sized: broadcast into the semi-joins below
    // the broadcast bound, so a peel round's only exchange is the degree
    // groupBy — the cached edge frame is never shuffled either way
    val (parts, maybeB) = graphSizing(spark, edges0.count())
    def survivorDegrees(keep: DataFrame): DataFrame = edges0
      .join(maybeB(keep.select(col("v").as("a"))), Seq("a"), "left_semi")
      .join(maybeB(keep.select(col("v").as("b"))), Seq("b"), "left_semi")
      .select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    withShuffleParts(spark, parts) {
    var keep = cutLineage(edges0.select(col("a").as("v"))
      .unionAll(edges0.select(col("b").as("v"))).distinct())
    var nKeep = keep.count()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = cutLineage(survivorDegrees(keep)
        .filter(col("deg") >= k).select(col("v")))
      val n = next.count()
      converged = n == nKeep
      nKeep = n
      keep = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore did not converge in $maxIter rounds — raise maxIter " +
        "(peeling removes at least one node per non-converged round, " +
        "so this graph's peel depth exceeds the budget)")
    (survivorDegrees(keep)
      .select(col("v").as("doc_id"), col("deg").as("core_deg")), iter)
    } // withShuffleParts
  }

  /**
   * Exact per-node triangle counts and local clustering coefficients
   * over the near-dup pair graph. A document whose neighborhood is
   * CLIQUE-LIKE (cc → 1) sits inside a mutually-near-duplicate blob —
   * template spam, mirror farms; one whose near-dups are mutually
   * unrelated (cc → 0) is a hub stitching unrelated content together —
   * usually shared boilerplate rather than true duplication. The
   * coefficient separates the two where raw degree cannot.
   *
   * Determinism: counts are exact integers; the coefficient is reported
   * in floor micro-units `(2·10⁶·tri) div (deg·(deg−1))` — BIGINT
   * arithmetic end to end, any partial-aggregation order, so the DuckDB
   * replay hash-matches (`dedup_graph_triangles`).
   *
   * Output: `(doc_id, deg, tri, cc_micro)`, one row per node of the
   * pair graph; `cc_micro` 0 for degree-1 nodes. `degCap` excludes
   * over-degree hubs BEFORE any wedge forms (see [[triangleFrames]]) —
   * pass it whenever the pair graph may contain saturated blobs.
   */
  def triangleCounts(pairs0: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", degCap: Option[Int] = None): DataFrame = {
    val (deg, _, tris) = triangleFrames(pairs0, aCol, bCol, degCap)
    // one read of the (possibly huge) triangle stream: explode the three
    // corners in place instead of a 3-way union that would re-run the
    // closing join per branch
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("v"), "left_outer")
      .select(col("v").as("doc_id"), col("deg"),
        coalesce(col("t"), lit(0L)).as("tri"))
      .withColumn("cc_micro",
        when(col("deg") >= 2,
          expr("(2000000 * tri) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
  }

  /**
   * One-row global summary of the pair graph: node/edge/wedge/triangle
   * counts and the standard global transitivity `3·T / wedges` (wedges
   * = Σ C(deg, 2), undirected paths of length 2 — so the ratio lands in
   * [0, 1]) in floor micro-units — the corpus-level "how blob-like is
   * my duplication" number, and the cheap drift signal to watch per
   * crawl batch (a transitivity jump means mirror farms; a collapse
   * means boilerplate hubs). The wedge count folds off the degree frame
   * (one grouped sum — the oriented Σ C(outdeg, 2) enumeration stays an
   * internal bound of the triangle join, never materialized here).
   */
  def triangleStats(pairs0: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", degCap: Option[Int] = None): DataFrame = {
    val (deg, _, tris) = triangleFrames(pairs0, aCol, bCol, degCap)
    val nNodes = deg.select(count(lit(1)).as("n_nodes"),
      sum(col("deg")).as("deg2"),
      sum(expr("(deg * (deg - 1)) div 2")).as("w"))
    val nTris = tris.select(count(lit(1)).as("n_triangles"))
    nNodes.crossJoin(nTris)
      .select(col("n_nodes"),
        coalesce(expr("deg2 div 2"), lit(0L)).as("n_edges"),
        coalesce(col("w"), lit(0L)).as("n_wedges"),
        col("n_triangles"),
        when(coalesce(col("w"), lit(0L)) > 0,
          expr("(3000000 * n_triangles) div w"))
          .otherwise(lit(0L)).as("transitivity_micro"))
  }
}
