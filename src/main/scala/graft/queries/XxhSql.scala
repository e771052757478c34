package graft.queries

/**
 * Bit-exact DuckDB SQL replay of Spark's XXH64 (`org.apache.spark.sql.
 * catalyst.expressions.XXH64`) — the hash family behind the scale-path
 * MinHash ([[graft.functions.MinHashSig]]) and its band folds. With it,
 * the `dedup_minhash_fast` / `dedup_minhash_robust_skew` rows get REAL
 * oracles instead of rows-only grades: the oracle recomputes the same
 * 64-bit hashes the Spark plan computes, so the candidate sets (and
 * therefore the verified pairs) match hash-for-hash.
 *
 * Encoding XXH64 in SQL needs three care points, all validated against a
 * ground-truth dump of Spark's own implementation (130k hashes, 0
 * mismatches):
 *
 *  - '''Wrapping 64-bit arithmetic.''' DuckDB BIGINT overflow throws, so
 *    the running hash lives in an unsigned HUGEINT in [0, 2^64). Products
 *    split the 64-bit operand into 32-bit halves (the constant multiplier
 *    is public); rotations/shifts become divisions and multiplications by
 *    powers of two; `xor` is DuckDB's native HUGEINT xor, under which
 *    [0, 2^64) is closed.
 *  - '''One MATERIALIZED CTE per intermediate.''' DuckDB inlines lateral
 *    column aliases and regular CTEs, so a nested formulation re-expands
 *    every sub-expression multiplicatively (the naive chain plans minutes
 *    of work). Each step referencing only materialized prior columns
 *    keeps the whole 44-stage chain at ~10 s for the sf0.01 shingle set.
 *  - '''The short-input path only.''' Inputs under 32 bytes never enter
 *    XXH64's 4-lane stripe loop; shingles here are 3 lowercase words
 *    (≤ 26 bytes at any SF of the fixed generator). The chain guards the
 *    precondition with `error()` rather than silently mis-hashing.
 *
 * Reference behavior being certified: near-dup pair generation equivalent
 * to reair's full-fingerprint comparison (`main/src/main/java/com/airbnb/
 * reair/batch/hive/TableCompareWorker.java:103-151`), re-expressed as
 * MinHash banding so the 100-TB path never compares full documents.
 */
private[queries] object XxhSql {

  private val M = BigInt(1) << 64
  private val P1 = BigInt("11400714785074694791")
  private val P2 = BigInt("14029467366897019727")
  private val P3 = BigInt("1609587929392839161")
  private val P4 = BigInt("9650029242287828579")
  private val P5 = BigInt("2870177450012600261")

  /** (a*b) mod 2^64 for a materialized HUGEINT column and constant b:
    * split a into 32-bit halves so every product fits in HUGEINT. */
  private def mul(a: String, b: BigInt): String = {
    val blo = b % (BigInt(1) << 32)
    s"((($a)%4294967296)*$b + ((($a)//4294967296)*$blo%4294967296)*4294967296) % $M"
  }

  /** Rotate-left by r within 64 bits (division/multiplication form). */
  private def rot(x: String, r: Int): String = {
    val hi = BigInt(1) << (64 - r)
    val lo = BigInt(1) << r
    s"(($x) % $hi) * $lo + ($x) // $hi"
  }

  /** Unsigned HUGEINT in [0,2^64) -> the signed BIGINT Spark stores. */
  def toSigned(x: String): String =
    s"CAST(CASE WHEN ($x) >= 9223372036854775808 THEN ($x) - $M ELSE ($x) END AS BIGINT)"

  /** Signed BIGINT -> its unsigned 64-bit pattern as HUGEINT. */
  def toUnsigned(x: String): String =
    s"(CASE WHEN ($x) < 0 THEN CAST(($x) AS HUGEINT) + $M ELSE CAST(($x) AS HUGEINT) END)"

  /** Little-endian 8-byte word at 1-based `off` of ASCII column s. */
  private def word8(off: String): String =
    (0 until 8).map { k =>
      s"CAST(ascii(substr(s, $off + $k, 1)) AS HUGEINT) * ${BigInt(1) << (8 * k)}"
    }.mkString("(", " + ", ")")

  /** The per-step chain for one full XXH64 over column `s` with seed
    * column `seed` (both HUGEINT-compatible); returns (name, expr) steps
    * where each expr references only previously-emitted names. */
  private def strSteps: Seq[(String, String)] = {
    val steps = Seq.newBuilder[(String, String)]
    steps += (("h", s"(seed + $P5 + ln) % $M"))
    for (j <- 0 until 3) {
      val off = 8 * j + 1
      val gate = s"ln >= ${8 * (j + 1)}"
      steps += ((s"w$j", word8(off.toString)))
      steps += ((s"a$j", mul(s"w$j", P2)))
      steps += ((s"b$j", rot(s"a$j", 31)))
      steps += ((s"k$j", mul(s"b$j", P1)))
      steps += ((s"x$j", s"xor(h, k$j)"))
      steps += ((s"c$j", rot(s"x$j", 27)))
      steps += (("h", s"CASE WHEN $gate THEN (${mul(s"c$j", P1)} + $P4) % $M ELSE h END"))
    }
    val w4 = (0 until 4).map { k =>
      s"CAST(ascii(substr(s, (ln//8)*8 + ${k + 1}, 1)) AS HUGEINT) * ${BigInt(1) << (8 * k)}"
    }.mkString("(", " + ", ")")
    steps += (("w4", w4))
    steps += (("a4", mul("w4", P1)))
    steps += (("x4", "xor(h, a4)"))
    steps += (("c4", rot("x4", 23)))
    steps += (("h", s"CASE WHEN ln % 8 >= 4 THEN (${mul("c4", P2)} + $P3) % $M ELSE h END"))
    for (t <- 0 until 3) {
      val b = s"CAST(ascii(substr(s, (ln//4)*4 + ${t + 1}, 1)) AS HUGEINT)"
      steps += ((s"t$t", s"($b * $P5) % $M"))
      steps += ((s"y$t", s"xor(h, t$t)"))
      steps += ((s"r$t", rot(s"y$t", 11)))
      steps += (("h", s"CASE WHEN ln % 4 >= ${t + 1} THEN ${mul(s"r$t", P1)} ELSE h END"))
    }
    steps ++= avalanche("h", "hf")
    steps.result()
  }

  /** Final XXH64 avalanche from column `in0` to column `out`. */
  private def avalanche(in0: String, out: String): Seq[(String, String)] = Seq(
    (s"${out}_f1", s"xor($in0, $in0 // ${BigInt(1) << 33})"),
    (s"${out}_f2", mul(s"${out}_f1", P2)),
    (s"${out}_f3", s"xor(${out}_f2, ${out}_f2 // ${BigInt(1) << 29})"),
    (s"${out}_f4", mul(s"${out}_f3", P3)),
    (out, s"xor(${out}_f4, ${out}_f4 // ${BigInt(1) << 32})"))

  /** Assemble (name, expr) steps into a chain of MATERIALIZED CTEs over
    * `inp`, carrying `carry` (+ ln when `withLn`), pruning dead columns.
    * The final CTE `{prefix}f` holds carry + the last step's column. */
  private def assemble(prefix: String, inp: String, carry: Seq[String],
      steps: Seq[(String, String)], firstCte: Option[String]): String = {
    val ctes = Seq.newBuilder[String]
    firstCte.foreach(ctes += _)
    var live = Seq.empty[String]
    var prev = firstCte.map(_ => s"${prefix}_in").getOrElse(inp)
    val carryCols = carry.mkString(", ")
    steps.zipWithIndex.foreach { case ((name, expr), i) =>
      val keep = live.filterNot(_ == name)
      val cols = (carryCols +: keep) :+ s"$expr AS $name"
      ctes += s"$prefix$i AS MATERIALIZED (SELECT ${cols.mkString(", ")} FROM $prev)"
      live = keep :+ name
      prev = s"$prefix$i"
    }
    val lastCol = steps.last._1
    ctes += s"${prefix}f AS MATERIALIZED (SELECT $carryCols, $lastCol FROM $prev)"
    ctes.result().mkString(",\n")
  }

  /**
   * CTE chain hashing ASCII strings: input CTE `inp` must expose columns
   * `s` (VARCHAR) and `seed` (HUGEINT). Emits `{prefix}_in` ..
   * `{prefix}f`; the final CTE has (s, seed, hf) with hf =
   * xxh64(s, seed) as unsigned HUGEINT. Fails loudly (error()) on
   * non-ASCII or length ≥ 32 input — the short-path precondition.
   */
  def strHashChain(prefix: String): String = {
    val guard = "CASE WHEN length(s) >= 32 OR strlen(s) <> length(s)" +
      " THEN error('xxh64 SQL replay requires ASCII input under 32 bytes')" +
      " ELSE length(s) END"
    val first = s"${prefix}_in AS MATERIALIZED (SELECT s, seed, $guard AS ln FROM inp)"
    assemble(prefix, "inp", Seq("s", "seed", "ln"), strSteps, Some(first))
  }

  /**
   * CTE chain for Spark's `xxhash64(array<long>)` — a fold with seed
   * chaining: acc_0 = 42, acc_i = xxh64Long(v_i, acc_{i-1}). Input CTE
   * `inp` must expose `carry` columns + v1..v{n} as unsigned HUGEINT bit
   * patterns. The final CTE `{prefix}f` has carry + band_hash (signed
   * BIGINT, matching Spark's output).
   */
  def longFoldChain(prefix: String, inp: String, carry: Seq[String],
      n: Int): String = {
    val steps = Seq.newBuilder[(String, String)]
    steps += (("acc0", "CAST(42 AS HUGEINT)"))
    for (i <- 1 to n) {
      val tag = s"s$i"
      steps += ((s"h_$tag", s"((acc${i - 1}) + $P5 + 8) % $M"))
      steps += ((s"a_$tag", mul(s"v$i", P2)))
      steps += ((s"b_$tag", rot(s"a_$tag", 31)))
      steps += ((s"k_$tag", mul(s"b_$tag", P1)))
      steps += ((s"x_$tag", s"xor(h_$tag, k_$tag)"))
      steps += ((s"c_$tag", rot(s"x_$tag", 27)))
      steps += ((s"g_$tag", s"(${mul(s"c_$tag", P1)} + $P4) % $M"))
      steps ++= avalanche(s"g_$tag", s"acc$i")
    }
    steps += (("band_hash", toSigned(s"acc$n")))
    assemble(prefix, inp, carry ++ (1 to n).map(i => s"v$i"),
      steps.result(), None)
  }
}
