package graft.queries

import graft.pipeline.{CardSketch, Dedup}
import graft.sim.{WarehouseSim => W}

/**
 * Round-13 (cont.) queries: triangle structure of the near-dup pair
 * graph ([[Dedup.triangleCounts]] / [[Dedup.triangleStats]]).
 *
 * Both oracles ride the one certified simhash pairs CTE the whole CC
 * family uses and replay the SAME degree-ordered orientation the
 * distributed operator runs (π = (degree, id), wedges at the π-smaller
 * corner, one closing equi-join) — integer counts and floor-div
 * micro-unit ratios end to end, so the hash match certifies the
 * orientation algebra, not just row counts.
 */
object PipelineQueries15 {

  /** Boilerplate-hub exclusion threshold: nodes whose FULL degree
    * exceeds this never enter the wedge enumeration (a near-dup blob's
    * triangle count is cubic-ish in blob size — the sf0.1 simhash
    * graph uncapped holds 462M triangles; capped it holds the
    * informative periphery). Replayed identically by the oracle. */
  private val triDegCap = 64

  /** Shared CTE chain: normalized edges → degree cap (full-degree
    * threshold, then subgraph) → degrees → π-oriented edges →
    * wedge-closing triangles. The `fwd` predicate is the total order
    * π = (deg, id) spelled as the operator spells it. */
  private val triCtes: String = {
    val fwd = "d1.deg < d2.deg OR (d1.deg = d2.deg AND e.a < e.b)"
    PipelineQueries.simhashPairsCte + ",\n" +
      s"""te0 AS (
         |  SELECT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
         |  FROM pairs WHERE doc_a <> doc_b GROUP BY 1, 2),
         |keep AS (
         |  SELECT v FROM (
         |    SELECT v, count(*) AS d0
         |    FROM (SELECT a AS v FROM te0 UNION ALL SELECT b FROM te0)
         |    GROUP BY v)
         |  WHERE d0 <= $triDegCap),
         |te AS (
         |  SELECT a, b FROM te0
         |  WHERE a IN (SELECT v FROM keep)
         |    AND b IN (SELECT v FROM keep)),
         |tdeg AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS v FROM te UNION ALL SELECT b FROM te)
         |  GROUP BY v),
         |o AS (
         |  SELECT CASE WHEN $fwd THEN e.a ELSE e.b END AS src,
         |    CASE WHEN $fwd THEN e.b ELSE e.a END AS dst,
         |    CASE WHEN $fwd THEN d2.deg ELSE d1.deg END AS ddst
         |  FROM te e JOIN tdeg d1 ON d1.v = e.a
         |  JOIN tdeg d2 ON d2.v = e.b),
         |wdg AS (
         |  SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
         |  FROM o o1 JOIN o o2 ON o1.src = o2.src
         |  WHERE o1.ddst < o2.ddst
         |     OR (o1.ddst = o2.ddst AND o1.dst < o2.dst)),
         |tri AS (
         |  SELECT w.x, w.y, w.z
         |  FROM wdg w JOIN o ON o.src = w.y AND o.dst = w.z)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Exact per-node triangle counts + local clustering coefficient in
    // floor micro-units over the certified simhash pair graph. cc → 1
    // flags clique-like duplicate blobs (mirror farms), cc → 0 flags
    // boilerplate hubs whose neighbors are mutually unrelated — the
    // separation raw degree cannot make.
    QueryDef("dedup_graph_triangles",
      PipelineQueries.withC(triCtes + ",\n" +
        """pt AS (
          |  SELECT v, CAST(count(*) AS BIGINT) AS tri
          |  FROM (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
          |        UNION ALL SELECT z FROM tri)
          |  GROUP BY v)""".stripMargin)(
        """SELECT d.v AS doc_id, d.deg,
          |  CAST(coalesce(p.tri, 0) AS BIGINT) AS tri,
          |  CASE WHEN d.deg >= 2
          |    THEN (2000000 * CAST(coalesce(p.tri, 0) AS BIGINT))
          |      // (d.deg * (d.deg - 1))
          |    ELSE CAST(0 AS BIGINT) END AS cc_micro
          |FROM tdeg d LEFT JOIN pt p ON p.v = d.v""".stripMargin)) {
      (s, dir) =>
        Dedup.triangleCounts(Standing.simhashPairs(s, dir),
          degCap = Some(triDegCap))
    },

    // One-row global graph summary: nodes/edges/wedges/triangles and
    // the standard global transitivity 3T / Σ C(deg, 2) in floor
    // micro-units — the corpus-level "how blob-like is my duplication"
    // drift signal.
    QueryDef("dedup_graph_transitivity",
      PipelineQueries.withC(triCtes)(
        """SELECT n_nodes, n_edges, n_wedges, n_triangles,
          |  CASE WHEN n_wedges > 0
          |    THEN (3000000 * n_triangles) // n_wedges
          |    ELSE CAST(0 AS BIGINT) END AS transitivity_micro
          |FROM (SELECT
          |  (SELECT CAST(count(*) AS BIGINT) FROM tdeg) AS n_nodes,
          |  (SELECT CAST(count(*) AS BIGINT) FROM te) AS n_edges,
          |  (SELECT CAST(coalesce(sum((deg * (deg - 1)) // 2), 0)
          |     AS BIGINT) FROM tdeg) AS n_wedges,
          |  (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles)"""
          .stripMargin)) { (s, dir) =>
      Dedup.triangleStats(Standing.simhashPairs(s, dir),
        degCap = Some(triDegCap))
    },

    // Exact global all-pairs Jaccard >= 0.7 by prefix filtering
    // (rare-first global token order, per-doc prefix, length filter,
    // sorted-merge verify) — no blocking column, no false negatives;
    // the exact counterpart the LSH families are measured against.
    // Composed the way production runs it: identical TOKEN SETS
    // collapse to one representative first (a cheap fingerprint
    // group-by — on this blob-saturated corpus that is 5.1M of the
    // would-be output pairs, all J=1 and all discoverable by hashing),
    // so the quadratic-in-blob-size output shrinks to the genuinely
    // near-but-not-identical pairs the join exists to find. The
    // oracle replays canonicalization, ordering, prefix, candidates,
    // and verify.
    QueryDef("dedup_setjoin_exact",
      PipelineQueries.withC(
        """tok_all AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)),
          |    '\s+') AS toks
          |  FROM documents),
          |tok_docs AS (
          |  SELECT doc_id, toks FROM (
          |    SELECT doc_id, toks, row_number() OVER (
          |      PARTITION BY md5(array_to_string(
          |        list_sort(list_distinct(toks)), ' '))
          |      ORDER BY doc_id) AS crk
          |    FROM tok_all)
          |  WHERE crk = 1),
          |t AS (
          |  SELECT doc_id, unnest(list_distinct(toks)) AS tok
          |  FROM tok_docs),
          |f AS (SELECT tok, count(*) AS tf FROM t GROUP BY tok),
          |r AS (
          |  SELECT doc_id, tok,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY tf, tok) AS pos,
          |    count(*) OVER (PARTITION BY doc_id) AS len
          |  FROM t JOIN f USING (tok)),
          |p AS MATERIALIZED (
          |  SELECT doc_id, tok, len FROM r
          |  WHERE pos <= len - (700 * len + 999) // 1000 + 1),
          |cand AS MATERIALIZED (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM p a JOIN p b ON a.tok = b.tok
          |    AND a.doc_id < b.doc_id
          |    AND least(a.len, b.len) * 1000
          |        >= 700 * greatest(a.len, b.len)),
          |v AS (
          |  SELECT c.doc_a, c.doc_b,
          |    len(list_intersect(list_distinct(ta.toks),
          |      list_distinct(tb.toks))) AS inter,
          |    len(list_distinct(ta.toks)) AS na,
          |    len(list_distinct(tb.toks)) AS nb
          |  FROM cand c
          |  JOIN tok_docs ta ON ta.doc_id = c.doc_a
          |  JOIN tok_docs tb ON tb.doc_id = c.doc_b)""".stripMargin)(
        """SELECT doc_a, doc_b,
          |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 6)
          |    AS jaccard
          |FROM v WHERE inter * 1000 >= 700 * (na + nb - inter)"""
          .stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val canon = W.read(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          md5(concat_ws(" ", sort_array(array_distinct(
            graft.pipeline.TextAnalysis.tokens(col("text"))))))
            .as("__fp"))
        .withColumn("__crk", row_number().over(
          Window.partitionBy("__fp").orderBy("doc_id")))
        .filter(col("__crk") === 1)
        .select("doc_id", "text")
      Dedup.setSimilarityJoin(canon, tauMilli = 700)
    },

    // Incremental exact set join: pairs touching the increment
    // (doc_id % 10 < 2 of the canonicalized corpus — exact-equal sets
    // collapse first, the run-exact-dedup-before-near-dedup pipeline
    // order), old×old never probed, no false negatives. Same replay
    // as dedup_setjoin_exact with the candidate join pinned to the
    // new side.
    QueryDef("dedup_setjoin_incremental",
      PipelineQueries15.setjoinIncrementalSql) { (s, dir) =>
      Dedup.setSimilarityJoinIncremental(
        PipelineQueries15.ssjCanon(W.read(s, dir, "documents")),
        id => id % 10 < 2, tauMilli = 700)
    },


    // The SAME exact contract served from the PERSISTED set-join index
    // ([[graft.pipeline.SsjIndex]]): the index over the old split
    // stands for the session (build paid once, the Standing
    // discipline); the measured cost is the ADMISSION of the
    // % 10 < 2 batch — exact freq-state fold, increment-local prefix
    // ranking under the frozen order, bucket-pruned candidate join,
    // docs-store verify, and the batch's OWN state writes — replayed
    // idempotently per iteration (batchId 1, allowReplay). Identical
    // output to dedup_setjoin_incremental by the verify's exactness
    // (candidate supersets differ, survivors cannot), so it shares
    // that full-replay oracle. At THIS corpus/batch ratio (batch =
    // 20% of a 5k-doc corpus) the frame-based join is cheaper — the
    // index's writes dominate; the index wins where it matters: a
    // fixed batch against a growing corpus (measured: the same batch
    // costs 1.27× at a 10× corpus, where the frame-based path grows
    // with the corpus).
    QueryDef("dedup_setjoin_admit",
      PipelineQueries15.setjoinIncrementalSql) { (s, dir) =>
      val idx = Standing.ssjOldIndex(s, dir, PipelineQueries15.ssjCanon, "admit")
      graft.pipeline.SsjIndex.admit(
        PipelineQueries15.ssjCanon(W.read(s, dir, "documents"))
          .filter(org.apache.spark.sql.functions.col("doc_id") % 10 < 2),
        idx, batchId = Some(1L), allowReplay = true)
    },

    // The k-core kernel of the pair graph (k=4): peeling unrolled to
    // a fixed 12 rounds in the oracle — peeling is monotone, so once
    // the fixpoint lands every further round is a no-op and any
    // unroll >= the actual peel depth matches the distributed
    // fixpoint loop bit for bit (KCoreSpec pins the loud refusal when
    // the Spark side's own budget is exceeded).
    QueryDef("dedup_graph_kcore", {
      val k = 4
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
      // each round references its predecessor four times — an inlined
      // unroll re-expands 4^12 ways and exhausts file handles
      def round(i: Int): String =
        s"""kk$i AS MATERIALIZED (
           |  SELECT v FROM (
           |    SELECT v, count(*) AS c
           |    FROM (SELECT a AS v FROM ke${i - 1}
           |          UNION ALL SELECT b FROM ke${i - 1})
           |    GROUP BY v)
           |  WHERE c >= $k),
           |ke$i AS MATERIALIZED (
           |  SELECT a, b FROM ke${i - 1}
           |  WHERE a IN (SELECT v FROM kk$i)
           |    AND b IN (SELECT v FROM kk$i))""".stripMargin
      PipelineQueries.withC(PipelineQueries.simhashPairsCte + ",\n" +
        """ke0 AS MATERIALIZED (
          |  SELECT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
          |  FROM pairs WHERE doc_a <> doc_b GROUP BY 1, 2),
          |""".stripMargin +
        (1 to 12).map(round).mkString(",\n"))(
        """SELECT v AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
          |FROM (SELECT a AS v FROM ke12 UNION ALL SELECT b FROM ke12)
          |GROUP BY v""".stripMargin)
    }) { (s, dir) =>
      val (out, rounds) =
        Dedup.kCoreWithRounds(Standing.simhashPairs(s, dir), k = 4)
      // the oracle unrolls 12 rounds; refuse loudly if the live graph
      // ever needs more (then raise both sides together)
      require(rounds <= 12,
        s"kCore took $rounds rounds — oracle unrolls 12")
      out
    },

    // Composed entity resolution end to end: blocked Levenshtein
    // pairs (the dedup_fuzzy_names definition, unchanged) → connected
    // components → one canonical record per entity (shortest name,
    // id tie-break; records with no fuzzy match are their own
    // entity). The oracle replays the identical chain — integer
    // Levenshtein pairs, recursive transitive closure, the same
    // window — so the hash match certifies the COMPOSITION of the
    // three certified parts, the linkage analogue of
    // dedup_rank_keepers.
    QueryDef("linkage_e2e",
      """WITH RECURSIVE p AS (
        |  SELECT p_partkey, p_name, p_type, substr(p_name, 1, 1) AS c1
        |  FROM part),
        |fp AS (
        |  SELECT a.p_partkey AS doc_a, b.p_partkey AS doc_b
        |  FROM p a JOIN p b
        |    ON a.p_type = b.p_type AND a.c1 = b.c1
        |    AND a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 3),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM fp
        |  UNION ALL SELECT doc_b, doc_a FROM fp),
        |reach(id, other) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.id, e.dst FROM reach r JOIN edges e ON r.other = e.src),
        |clus AS (
        |  SELECT id AS doc_id, least(id, min(other)) AS cluster_id
        |  FROM reach GROUP BY id),
        |mem AS (
        |  SELECT pt.p_partkey AS doc_id,
        |    CAST(coalesce(c.cluster_id, pt.p_partkey) AS BIGINT)
        |      AS entity_id, pt.p_name
        |  FROM p pt LEFT JOIN clus c ON c.doc_id = pt.p_partkey),
        |k AS (
        |  SELECT entity_id, doc_id, p_name,
        |    count(*) OVER (PARTITION BY entity_id) AS n_members,
        |    row_number() OVER (PARTITION BY entity_id
        |      ORDER BY length(p_name), doc_id) AS rk
        |  FROM mem)
        |SELECT entity_id, doc_id AS canonical_id,
        |  p_name AS canonical_name, CAST(n_members AS BIGINT) AS n_members
        |FROM k WHERE rk = 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val parts = W.read(s, dir, "part")
      val pairs = Dedup.fuzzyPairs(parts, "p_partkey", "p_name",
        Seq(col("p_type"), substring(col("p_name"), 1, 1)), maxDist = 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val clusters = Dedup.connectedComponents(pairs)
      val mem = parts
        .select(col("p_partkey").as("doc_id"), col("p_name"))
        .join(clusters, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("entity_id"),
          col("p_name"))
      val wc = Window.partitionBy("entity_id")
      val wr = Window.partitionBy("entity_id")
        .orderBy(length(col("p_name")), col("doc_id"))
      mem.withColumn("n_members", count(lit(1)).over(wc))
        .withColumn("rk", row_number().over(wr))
        .filter(col("rk") === 1)
        .select(col("entity_id"), col("doc_id").as("canonical_id"),
          col("p_name").as("canonical_name"), col("n_members"))
    },

    // Exponentially decayed per-type activity over the event stream
    // (half-life one week on the period grid): the freshness signal a
    // recency-weighted source mix reads. The staircase weight
    // 10^6 // 2^(P-p) is exact BIGINT arithmetic in both engines, so
    // the decayed mass itself hash-matches — not a float
    // approximation of it.
    QueryDef("report_decay_activity",
      """WITH r AS (
        |  SELECT event_type, epoch_us(ts) // 604800000000 AS p
        |  FROM events),
        |h AS (SELECT max(p) AS horizon_p FROM r)
        |SELECT event_type, horizon_p,
        |  CAST(sum(1000000 // (CAST(1 AS BIGINT)
        |    << least(horizon_p - p, 62))) AS BIGINT) AS decayed_micro,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM r, h GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.pipeline.Recency.decayedState(W.read(s, dir, "events"),
        "ts", Seq("event_type"), halfLifeUs = 604800000000L)
    },

    // Rolling 7-day distinct-user register states: per-day HLL states
    // (p=6) materialized once, every day's trailing week answered by a
    // banded state merge — never a re-scan of raw events per window.
    // The oracle replays the xxhash64 chain, the comparison-cascade
    // rank, the per-day max fold, AND the window merge, so the hash
    // match certifies the sliding algebra end to end (estimates stay
    // accuracy-tested per the HLL family contract).
    QueryDef("card_hll_sliding", {
      val win = 58 // 64 - p, p = 6
      val twoW = BigInt(1) << win
      val rankCase = (1 to win).map(r =>
        s"WHEN w >= ${BigInt(1) << (win - r)} THEN $r")
        .mkString("\n      ") + s"\n      ELSE ${win + 1}"
      s"""WITH hin AS (
         |  SELECT epoch_us(ts) // 86400000000 AS d, user_id,
         |    CAST(user_id AS HUGEINT) AS v1
         |  FROM events),
         |${XxhSql.longFoldChain("hh", "hin", Seq("d", "user_id"), 1)},
         |hu AS (SELECT d, ${XxhSql.toUnsigned("band_hash")} AS h
         |  FROM hhf),
         |regs AS (SELECT d, CAST(h // $twoW AS INT) AS bucket,
         |    h % $twoW AS w FROM hu),
         |rk AS (SELECT d, bucket, CASE $rankCase END AS r FROM regs),
         |st AS (SELECT d, bucket, CAST(max(r) AS INT) AS m_rank
         |  FROM rk GROUP BY 1, 2),
         |days AS (SELECT DISTINCT d FROM st),
         |contrib AS (
         |  SELECT s.d + x AS td, s.bucket, s.m_rank
         |  FROM st s, (SELECT unnest(generate_series(0, 6)) AS x))
         |SELECT c.td AS d, c.bucket, CAST(max(c.m_rank) AS INT) AS m_rank
         |FROM contrib c JOIN days dd ON dd.d = c.td
         |GROUP BY 1, 2""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.functions._
      val ev = W.read(s, dir, "events")
        .select(expr(graft.pipeline.Recency.floorDivSql("unix_micros(ts)", 86400000000L)).as("d"),
          col("user_id"))
      CardSketch.hllSlidingMerge(
        CardSketch.hllStateByGroup(ev, "user_id", Seq("d"), p = 6),
        "d", windowLen = 7)
    },

    // Rolling 7-day value percentiles (p50/p90/p99) from per-day
    // bottom-256 hash samples: the sliding percentile monitor — raw
    // events scanned once, every trailing window answered from
    // state-row folds, the positional extraction itself integer
    // arithmetic. The oracle replays sketch, window fold, AND
    // extraction.
    QueryDef("card_sample_sliding",
      s"""WITH hin AS (
         |  SELECT epoch_us(ts) // 86400000000 AS d, event_id, value,
         |    CAST(event_id AS HUGEINT) AS v1
         |  FROM events),
         |${XxhSql.longFoldChain("sq", "hin",
            Seq("d", "event_id", "value"), 1)},
         |st AS MATERIALIZED (
         |  SELECT d, band_hash AS h, event_id AS id, value FROM (
         |    SELECT d, band_hash, event_id, value,
         |      row_number() OVER (PARTITION BY d
         |        ORDER BY band_hash, event_id) AS rk
         |    FROM sqf) WHERE rk <= 256),
         |days AS (SELECT DISTINCT d FROM st),
         |con AS MATERIALIZED (
         |  SELECT s.d + x AS td, s.h, s.id, s.value
         |  FROM st s, (SELECT unnest(generate_series(0, 6)) AS x)),
         |sel AS MATERIALIZED (
         |  SELECT td, h, id, value FROM (
         |    SELECT c.td, c.h, c.id, c.value,
         |      row_number() OVER (PARTITION BY c.td
         |        ORDER BY c.h, c.id) AS rk
         |    FROM con c JOIN days dd ON dd.d = c.td)
         |  WHERE rk <= 256),
         |q AS (
         |  SELECT td, value,
         |    row_number() OVER (PARTITION BY td
         |      ORDER BY value, id) AS rk,
         |    count(*) OVER (PARTITION BY td) AS n
         |  FROM sel)
         |SELECT td AS d, CAST(p_milli AS BIGINT) AS p_milli, value
         |FROM q, (SELECT unnest([500, 900, 990]) AS p_milli)
         |WHERE rk = (p_milli * (n - 1)) // 1000 + 1""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.functions._
        val ev = W.read(s, dir, "events")
          .select(expr(graft.pipeline.Recency.floorDivSql("unix_micros(ts)", 86400000000L)).as("d"),
            col("event_id"), col("value"))
        CardSketch.sampleWindowQuantiles(
          CardSketch.sampleSlidingMerge(
            CardSketch.sampleSketchByGroup(ev, "event_id", Seq("value"),
              Seq("d"), k = 256),
            "d", windowLen = 7, k = 256),
          "d", "value", Seq(500, 900, 990))
    },

    // Keyed sliding distinct: per-(event_type, day) HLL states, every
    // type's trailing week answered by the same banded state fold —
    // the per-segment DAU/WAU sketch table. The spine of present days
    // is GLOBAL so every type reports over the same window set.
    QueryDef("card_hll_sliding_by_type", {
      val win = 58
      val twoW = BigInt(1) << win
      val rankCase = (1 to win).map(r =>
        s"WHEN w >= ${BigInt(1) << (win - r)} THEN $r")
        .mkString("\n      ") + s"\n      ELSE ${win + 1}"
      s"""WITH hin AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS d, user_id,
         |    CAST(user_id AS HUGEINT) AS v1
         |  FROM events),
         |${XxhSql.longFoldChain("ht", "hin",
            Seq("event_type", "d", "user_id"), 1)},
         |hu AS (SELECT event_type, d,
         |    ${XxhSql.toUnsigned("band_hash")} AS h FROM htf),
         |regs AS (SELECT event_type, d,
         |    CAST(h // $twoW AS INT) AS bucket, h % $twoW AS w FROM hu),
         |rk AS (SELECT event_type, d, bucket, CASE $rankCase END AS r
         |  FROM regs),
         |st AS (SELECT event_type, d, bucket,
         |    CAST(max(r) AS INT) AS m_rank
         |  FROM rk GROUP BY 1, 2, 3),
         |days AS (SELECT DISTINCT d FROM st),
         |contrib AS (
         |  SELECT s.event_type, s.d + x AS td, s.bucket, s.m_rank
         |  FROM st s, (SELECT unnest(generate_series(0, 6)) AS x))
         |SELECT c.event_type, c.td AS d, c.bucket,
         |  CAST(max(c.m_rank) AS INT) AS m_rank
         |FROM contrib c JOIN days dd ON dd.d = c.td
         |GROUP BY 1, 2, 3""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.functions._
      val ev = W.read(s, dir, "events")
        .select(col("event_type"),
          expr(graft.pipeline.Recency.floorDivSql("unix_micros(ts)", 86400000000L)).as("d"),
          col("user_id"))
      CardSketch.hllSlidingMerge(
        CardSketch.hllStateByGroup(ev, "user_id",
          Seq("event_type", "d"), p = 6),
        "d", windowLen = 7, keyCols = Seq("event_type"))
    },

    // Fixed-window audio chunking over the opaque media payload
    // interpreted as 16-bit LE PCM: per-chunk exact integer energy
    // (sum of squares), peak, and the floor-div silence gate — the
    // VAD-lite first stage of a speech pipeline, all-BIGINT and
    // replayed byte for byte by the oracle.
    QueryDef("mm_audio_chunks",
      """WITH au AS (
        |  SELECT doc_id, text, length(text) // 2 AS n
        |  FROM documents WHERE length(text) >= 2),
        |smp AS (
        |  SELECT doc_id, j // 256 AS chunk_idx,
        |    ascii(substr(text, CAST(2*j+1 AS INT), 1))
        |      + 256 * ascii(substr(text, CAST(2*j+2 AS INT), 1)) AS s
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(0, n - 1)) AS j
        |        FROM au))
        |SELECT doc_id, chunk_idx,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
        |  CAST(max(s) AS INT) AS peak,
        |  CAST(CASE WHEN sum(CAST(s AS BIGINT) * s) // count(*)
        |      < 250000000 THEN 1 ELSE 0 END AS INT) AS is_silence
        |FROM smp GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.pipeline.Multimodal.audioChunks(
        graft.pipeline.Multimodal.withMediaColumn(
          W.read(s, dir, "documents")))
    })

  /** Full replay of the incremental exact set join — canonicalize,
    * global rare-first order, increment-pinned prefix candidates,
    * exact verify. Shared by `dedup_setjoin_incremental` (frame-
    * based) and `dedup_setjoin_admit` (persisted SsjIndex): the
    * verified output is identical by construction, only the
    * candidate generation differs. */
  // lazy: referenced by `defs` above it in initialization order
  private[queries] lazy val setjoinIncrementalSql: String =
      PipelineQueries.withC(
        """tok_all AS (
          |  SELECT doc_id, regexp_split_to_array(lower(trim(text)),
          |    '\s+') AS toks
          |  FROM documents),
          |tok_docs AS (
          |  SELECT doc_id, toks FROM (
          |    SELECT doc_id, toks, row_number() OVER (
          |      PARTITION BY md5(array_to_string(
          |        list_sort(list_distinct(toks)), ' '))
          |      ORDER BY doc_id) AS crk
          |    FROM tok_all)
          |  WHERE crk = 1),
          |t AS (
          |  SELECT doc_id, unnest(list_distinct(toks)) AS tok
          |  FROM tok_docs),
          |f AS (SELECT tok, count(*) AS tf FROM t GROUP BY tok),
          |r AS (
          |  SELECT doc_id, tok,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY tf, tok) AS pos,
          |    count(*) OVER (PARTITION BY doc_id) AS len
          |  FROM t JOIN f USING (tok)),
          |p AS MATERIALIZED (
          |  SELECT doc_id, tok, len FROM r
          |  WHERE pos <= len - (700 * len + 999) // 1000 + 1),
          |cand AS MATERIALIZED (
          |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
          |    greatest(a.doc_id, b.doc_id) AS doc_b
          |  FROM (SELECT * FROM p WHERE doc_id % 10 < 2) a
          |  JOIN p b ON a.tok = b.tok
          |    AND a.doc_id <> b.doc_id
          |    AND least(a.len, b.len) * 1000
          |        >= 700 * greatest(a.len, b.len)),
          |v AS (
          |  SELECT c.doc_a, c.doc_b,
          |    len(list_intersect(list_distinct(ta.toks),
          |      list_distinct(tb.toks))) AS inter,
          |    len(list_distinct(ta.toks)) AS na,
          |    len(list_distinct(tb.toks)) AS nb
          |  FROM cand c
          |  JOIN tok_docs ta ON ta.doc_id = c.doc_a
          |  JOIN tok_docs tb ON tb.doc_id = c.doc_b)""".stripMargin)(
        """SELECT doc_a, doc_b,
          |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 6)
          |    AS jaccard
          |FROM v WHERE inter * 1000 >= 700 * (na + nb - inter)"""
          .stripMargin)

  /** Collapse identical token SETS to one representative (the
    * run-exact-dedup-before-near-dedup pipeline order) — the
    * shared head of the incremental set-join lines. */
  private[queries] def ssjCanon(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    docs
      .select(col("doc_id"), col("text"),
        md5(concat_ws(" ", sort_array(array_distinct(
          graft.pipeline.TextAnalysis.tokens(col("text"))))))
          .as("__fp"))
      .withColumn("__crk", row_number().over(
        Window.partitionBy("__fp").orderBy("doc_id")))
      .filter(col("__crk") === 1)
      .select("doc_id", "text")
  }

}
