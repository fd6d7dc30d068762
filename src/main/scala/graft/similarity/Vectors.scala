package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives: dot product, norm, cosine similarity, and
  * random-hyperplane (sign) LSH for approximate nearest-neighbor search.
  *
  * Cross-engine determinism is load-bearing: the DuckDB oracle must produce
  * bit-identical doubles. Both renderings therefore fold strictly
  * left-to-right from an explicit 0.0 accumulator (`aggregate` in Spark,
  * `list_reduce(list_prepend(...))` in DuckDB) — float inputs widen exactly
  * to double, products are IEEE-identical, and an identical summation order
  * makes the sums identical. Never swap either side for a built-in
  * (`list_cosine_similarity`, BLAS) without changing both.
  *
  * The hyperplanes are ±1-valued, generated by a fixed SplitMix64 sequence —
  * deterministic, engine-neutral, and exactly representable, so `v·p` is a
  * signed sum of the vector's own elements with no rounding beyond the sum
  * itself.
  */
object Vectors {

  /** Embedding dimensionality of the test corpus (embeddings.parquet). */
  val Dim: Int = 64

  /** Number of hyperplanes = sign-bits in the LSH signature. */
  val NumPlanes: Int = 16

  /** Bits per LSH band (4 bands of 4 bits). */
  val BandBits: Int = 4

  /** Fixed ±1 hyperplanes from SplitMix64 (seed 42) — pure function of the
    * constants below, no runtime randomness.
    */
  val Planes: IndexedSeq[IndexedSeq[Int]] = {
    var state = 42L
    def next(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    IndexedSeq.fill(NumPlanes, Dim) { if (next() >= 0L) 1 else -1 }
  }

  /** Strict left-to-right sum (DuckDB side) from a 0.0 seed — the fold
    * order [[graft.expressions.VectorExpressions.DotProduct]] reproduces.
    */
  private def fsumSql(arr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $arr), (acc, x) -> acc + x)"

  /** Dot product of two array<double> columns (same length). Backed by the
    * one-pass custom expression
    * ([[graft.expressions.VectorExpressions.DotProduct]]); the built-in
    * equivalent is `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — same fold
    * order and bit-identical result, ~10x slower interpreted.
    */
  def dot(a: Column, b: Column): Column = graft.expressions.VectorExpressions.dot(a, b)

  def dotSql(a: String, b: String): String = dotSqlDim(a, b, Dim)

  /** [[dotSql]] over the first `dim` components — for subvector spaces
    * (product quantization) whose lists are shorter than [[Dim]].
    */
  def dotSqlDim(a: String, b: String, dim: Int): String =
    fsumSql(s"list_transform(generate_series(1, $dim), i -> $a[i] * $b[i])")

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Norm guard: true iff `x` is a FINITE, strictly positive double. A bare
    * `x > 0` is not enough on either engine — Spark's NaN-aware ordering and
    * DuckDB both evaluate `NaN > 0` as true — so a NaN/Inf norm (from a
    * non-finite embedding component) would slip through and poison every
    * downstream cosine with exactly the NaN-ordering divergence
    * [[graft.functions.Udafs.TopKByScore]]'s total order guards against.
    * [[finitePositiveSql]] is the DuckDB twin; keep the two in lock-step.
    */
  def finitePositive(x: Column): Column =
    !isnan(x) && x > 0.0d && x =!= Double.PositiveInfinity

  def finitePositiveSql(x: String): String =
    s"(isfinite($x) AND $x > CAST(0 AS DOUBLE))"

  /** Signed dot with hyperplane p (plane entries are ±1, so this is an exact
    * signed sum of vector elements).
    */
  private def planeDot(v: Column, p: Int): Column =
    dot(v, typedLit(Planes(p).map(_.toDouble)))

  private def planeDotSql(v: String, p: Int): String = {
    val lits = Planes(p).mkString("[", ", ", "]::DOUBLE[]")
    fsumSql(s"list_transform(generate_series(1, $Dim), i -> $v[i] * ($lits)[i])")
  }

  /** 16-bit sign-LSH signature of a vector: bit p set iff v·plane_p ≥ 0. */
  def lshSignature(v: Column): Column =
    (0 until NumPlanes).map { p =>
      when(planeDot(v, p) >= 0.0d, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def lshSignatureSql(v: String): String =
    (0 until NumPlanes)
      .map(p => s"(CASE WHEN ${planeDotSql(v, p)} >= CAST(0 AS DOUBLE) THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** LSH band values: 4 bands of 4 sign-bits. Vectors at angle θ agree on a
    * given bit with P = 1 - θ/π; a whole band with P^4; any of the 4 bands
    * with 1-(1-P^4)^4 — the standard recall/candidate-volume dial.
    */
  def lshBands(sig: Column): Column =
    array((0 until NumPlanes / BandBits).map { b =>
      shiftright(sig, BandBits * b).bitwiseAND(lit((1L << BandBits) - 1))
    }: _*)

  def lshBandsSql(sig: String): String =
    (0 until NumPlanes / BandBits)
      .map(b => s"(($sig >> ${BandBits * b}) & ${(1L << BandBits) - 1})")
      .mkString("[", ", ", "]")
}
