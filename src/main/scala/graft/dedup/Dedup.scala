package graft.dedup

import graft.functions.Hashing
import graft.text.TextAnalysis
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Near-duplicate detection primitives for corpus-scale dedup: MinHash
  * signatures, SimHash fingerprints, and the banding/blocking keys that turn
  * an O(n²) pair problem into an equi-join.
  *
  * Everything is a pure `Column` expression over Spark built-ins with a
  * DuckDB twin (`...Sql`), both deriving hashes from [[Hashing.h32]] so the
  * two engines agree bit-for-bit. The scale story is the standard one:
  *
  *   - per-document signatures are a map-only stage (scan-bandwidth bound);
  *   - candidate generation is an equi-join on (band index, band key) — a
  *     hash-partitioned shuffle on a small projected table (ids + keys only,
  *     never the text);
  *   - exact verification joins signatures/shingle-sets back by id for just
  *     the candidate pairs.
  *
  * At 100 TB none of these stages materializes the corpus more than once,
  * and no stage carries document text through a shuffle.
  */
object Dedup {

  import Hashing._

  // ------------------------------------------------------------- minhash

  /** Distinct 32-bit shingle hashes of a document (the set MinHash acts on). */
  def shingleHashSet(text: Column, k: Int): Column =
    array_distinct(TextAnalysis.shingleHashes(text, k))

  def shingleHashSetSql(e: String, k: Int): String =
    s"list_distinct(${TextAnalysis.shingleHashesSql(e, k)})"

  /** Hot-path staged form of [[shingleHashSet]] over the documents table:
    * `(doc_id, hs)` with every intermediate array (tokens → shingles →
    * hashes) bound in its own projection so no lambda re-evaluates its
    * upstream chain per element (see [[TextAnalysis.shinglesOf]]). Empty
    * docs (< k tokens) are dropped.
    */
  def shingleHashSets(docs: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      // the emptiness filter sits on the token stage, not the hash stage:
      // pushdown rewrites the predicate through the projections, so filtering
      // on `hs` would re-evaluate the whole shingle+hash chain inside the
      // scan filter — size(toks) >= k is equivalent and only re-tokenizes
      .where(size(col("toks")) >= k)
      .select(col("doc_id"), TextAnalysis.shinglesOf(col("toks"), k).as("shn"))
      .select(col("doc_id"),
              array_distinct(graft.expressions.SignatureExpressions.h32Array(col("shn"))).as("hs"))

  /** MinHash signature: for each of the first `numPerms` affine
    * permutations, the minimum permuted shingle hash. NULL entries iff the
    * document has no shingles (fewer than k tokens) — callers filter those.
    * Backed by the one-pass custom expression
    * ([[graft.expressions.SignatureExpressions.MinHashSignature]]); the
    * equivalent built-in form is `array(array_min(transform(hs, perm_i)) …)`
    * — same values, numPerms interpreted passes instead of one primitive
    * loop. Width defaults to the narrow [[Hashing.NumPerms]] prefix; the
    * 16×8-banded near-dup path passes [[Hashing.NumPermsWide]].
    */
  def minhashSignature(hashSet: Column, numPerms: Int = NumPerms): Column =
    graft.expressions.SignatureExpressions.minhashSignature(hashSet, numPerms)

  def minhashSignatureSql(hs: String, numPerms: Int = NumPerms): String =
    (0 until numPerms)
      .map(i => s"list_min(list_transform($hs, h -> ${permSql(i, "h")}))")
      .mkString("[", ", ", "]")

  /** LSH band keys over a signature: bands of `r` consecutive signature
    * entries rendered as a string key. Two documents collide in band b iff
    * their signatures agree on all r entries of that band — P = jaccard^r
    * per band, so recall = 1-(1-j^r)^(numPerms/r).
    */
  def bandKeys(sig: Column, r: Int, numPerms: Int = NumPerms): Column =
    array((0 until numPerms / r).map { b =>
      concat_ws(":", (0 until r).map(i => element_at(sig, b * r + i + 1)): _*)
    }: _*)

  def bandKeysSql(sig: String, r: Int, numPerms: Int = NumPerms): String =
    (0 until numPerms / r)
      .map { b =>
        (0 until r).map(i => s"CAST($sig[${b * r + i + 1}] AS VARCHAR)").mkString(" || ':' || ")
      }
      .mkString("[", ", ", "]")

  /** Fraction of agreeing signature positions — the MinHash estimate of
    * Jaccard similarity. Exact dyadic rational (n/numPerms), so the double
    * is bit-identical across engines. One-pass custom expression
    * ([[graft.expressions.SignatureExpressions.SigAgreement]], r18): the
    * former combinator form (`size(filter(sequence(1, n), i ->
    * element_at(a, i) === element_at(b, i)))`) allocated the sequence and
    * the filtered array and interpreted a lambda 2n times per CANDIDATE
    * PAIR — the quantity that scales with banding collision volume.
    */
  def estJaccard(sigA: Column, sigB: Column, numPerms: Int = NumPerms): Column =
    graft.expressions.SignatureExpressions.sigAgreement(sigA, sigB, numPerms)
      .cast("double") / lit(numPerms.toDouble)

  def estJaccardSql(sigA: String, sigB: String, numPerms: Int = NumPerms): String =
    s"(CAST(len(list_filter(generate_series(1, $numPerms), i -> $sigA[i] = $sigB[i])) AS DOUBLE)" +
      s" / CAST($numPerms AS DOUBLE))"

  /** Exact Jaccard similarity of two pre-distinct arrays (any element
    * type). The shingle-HASH-set hot path uses [[jaccardLong]] instead.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** [[jaccard]] specialized to pre-distinct `array<long>` hash sets — the
    * shape every candidate-verification arm actually compares. One-pass
    * custom expression (r18): the `size(array_intersect)/size(array_union)`
    * form materialized BOTH the intersection and union arrays per candidate
    * pair; [[graft.expressions.SignatureExpressions.JaccardSim]] computes
    * the same value in one primitive sort+merge pass (parity spec covers
    * null elements, empties, and the combinator formula it replaced).
    */
  def jaccardLong(a: Column, b: Column): Column =
    graft.expressions.SignatureExpressions.jaccardSim(a, b)

  def jaccardSql(a: String, b: String): String =
    s"(CAST(len(list_intersect($a, $b)) AS DOUBLE)" +
      s" / CAST(len(list_distinct(list_concat($a, $b))) AS DOUBLE))"

  // ------------------------------------------------------------- simhash

  /** Number of bits in the SimHash fingerprint (32: derived from h32). */
  val SimhashBits: Int = 32

  /** SimHash over a document's distinct feature-hash set (pass the shingle
    * hash set — unigram tokens don't discriminate in a small-vocabulary
    * corpus): bit j of the fingerprint is set iff at least half the feature
    * hashes have bit j set (the ±1-vote majority of the classic
    * construction). Hamming-close fingerprints ⇒ similar feature sets.
    * Callers filter empty docs (they'd hash to all-ones).
    */
  def simhash(hashSet: Column): Column =
    graft.expressions.SignatureExpressions.simhash32(hashSet)

  /** DuckDB twin of [[simhash]]. Pass a *bound column name* (bind the hash
    * set in a CTE first) — the expression repeats `hs` 2×SimhashBits times.
    */
  def simhashSql(hs: String): String =
    (0 until SimhashBits)
      .map { j =>
        val votes = s"len(list_filter($hs, h -> ((h >> $j) & 1) = 1))"
        s"(CASE WHEN $votes * 2 >= len($hs) THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
      }
      .mkString("(", " + ", ")")

  // --- 64-bit SimHash (the corpus-scale configuration: Manku et al.'s
  // 64-bit fingerprint with 4×16-bit bands). The fingerprint flows as two
  // 32-bit halves (`lo`, `hi`) — a single signed BIGINT would overflow
  // DuckDB's strict arithmetic when bit 63 is set, and banding/hamming only
  // ever need the halves. The high half hashes the same feature set through
  // an independent affine remix of each feature hash, so its bit votes are
  // decorrelated from the low half's.

  /** Odd affine constants for the high-half feature remix (multiplier
    * < 2^30 keeps `a*h + b` below 2^63 for 32-bit `h`; oddness makes the
    * map a bijection mod 2^32).
    */
  val Hi64A: Long = 1013904223L
  val Hi64B: Long = 1779033703L
  private val M32: Long = 1L << 32

  /** Low 32 bits of the 64-bit SimHash — identical to [[simhash]]. */
  def simhashLo(hashSet: Column): Column = simhash(hashSet)

  /** High 32 bits: SimHash of the affinely-remixed feature hashes. */
  def simhashHi(hashSet: Column): Column =
    graft.expressions.SignatureExpressions.simhash32(
      transform(hashSet, h => pmod(h * lit(Hi64A) + lit(Hi64B), lit(M32))))

  /** DuckDB twin of the remixed feature list (bind it in a CTE, then apply
    * [[simhashSql]] to the bound name — the simhash expression repeats its
    * input 2×32 times).
    */
  def hiFeaturesSql(hs: String): String =
    s"list_transform($hs, h -> ((h * $Hi64A + $Hi64B) % $M32))"

  /** 4×16-bit blocking keys over the (lo, hi) fingerprint pair. Two 64-bit
    * fingerprints within Hamming distance d < 4 must agree on at least one
    * whole 16-bit band (pigeonhole) — perfect recall for d ≤ 3 — and each
    * band has 2^16 buckets, so expected bucket size stays ~n/65536 per band
    * (vs 256 buckets for byte-banding a 32-bit fingerprint, which goes
    * quadratic by construction).
    */
  def simhash64Bands(lo: Column, hi: Column): Column =
    array(
      lo.bitwiseAND(lit(65535L)),
      shiftright(lo, 16).bitwiseAND(lit(65535L)),
      hi.bitwiseAND(lit(65535L)),
      shiftright(hi, 16).bitwiseAND(lit(65535L)))

  def simhash64BandsSql(lo: String, hi: String): String =
    s"[($lo & 65535), (($lo >> 16) & 65535), ($hi & 65535), (($hi >> 16) & 65535)]"

  /** Hamming distance over the 64-bit fingerprint = sum over the halves. */
  def hamming64(loA: Column, hiA: Column, loB: Column, hiB: Column): Column =
    (bit_count(loA.bitwiseXOR(loB)) + bit_count(hiA.bitwiseXOR(hiB))).cast("long")

  def hamming64Sql(loA: String, hiA: String, loB: String, hiB: String): String =
    s"CAST(bit_count(xor($loA, $loB)) + bit_count(xor($hiA, $hiB)) AS BIGINT)"

  /** Hamming distance between two fingerprints. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")
}
