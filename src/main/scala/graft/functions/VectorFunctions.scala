package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector/embedding primitives for the similarity-search surface
  * (north-star extension; the reference has no embedding ops — its
  * nearest analogue is the pairwise-IoU similarity matrix at
  * heritage-guard/heritage_guard/entities/bbox_grouping.py:14-23).
  *
  * All ops are pure `Column` expressions (`zip_with` + `aggregate`
  * left-folds) — codegen-friendly, no UDF boxing, and the fold order is
  * identical to the DuckDB oracle's `list_reduce`, so double-precision
  * results are bitwise comparable.
  *
  * Scale notes: dot/cosine are map-side per-row kernels. The brute-force
  * KNN shape (cross join vs a broadcast query set) is linear in corpus
  * size and embarrassingly parallel; the IVF shape prunes the corpus to
  * one cell per query before scoring. Neither shuffles the embedding
  * column itself except the final per-query top-k.
  */
object VectorFunctions {

  /** Dot product of two float-array columns, accumulated in double in
    * array order (matches DuckDB list_reduce fold). Backed by the native
    * codegen [[VectorDot]] expression; the equivalent
    * `aggregate(zip_with(...))` fold is interpreted per element and ~30×
    * slower on pair-join hot paths.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.vectorDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; norms computed explicitly (the testdata vectors
    * are unit-norm but not bitwise-exactly so).
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  // ── Sign-random-projection LSH (the ANN scale path for cosine) ──────

  /** Deterministic "random" hyperplanes shared with the DuckDB oracle:
    * plane(p, d) = ((a_p + d·19349663 + (d² mod 127)·b_p) mod 127 − 63) / 64
    * with a_p = (p·73856093) mod 127 and b_p = (p·48611) mod 127 — exact
    * dyadic rationals (denominator 64), so Spark literals and the SQL
    * closed form produce bitwise-identical doubles. The modulus 127 is
    * prime and coprime to every multiplier, so all 64 planes are
    * distinct for p < 127. The p-dependent QUADRATIC term is
    * load-bearing: the earlier affine form made every plane the same
    * 127-periodic ramp phase-shifted by p, so sign bits across planes
    * were strongly correlated — the r11 sf10 rehearsal measured only
    * 62k distinct 64-bit signatures over 200k vectors, with 16-bit
    * band-pair buckets 10k deep (2.2×10⁹ enumerated candidate rows,
    * executor OOM). Distinct quadratic coefficients decorrelate the
    * planes: same corpus, worst bucket 101, candidate rows 3.1×10⁷.
    */
  def srpPlane(p: Int, dim: Int): Seq[Double] = {
    val ap = (p.toLong * 73856093L) % 127L
    val bp = (p.toLong * 48611L) % 127L
    (0 until dim).map(d =>
      ((ap + d.toLong * 19349663L + (d.toLong * d % 127L) * bp) % 127L - 63L) / 64.0)
  }

  /** SRP signature: bit p = (v · plane_p ≥ 0), packed little-endian into
    * a long — ONE native kernel call per row
    * ([[org.apache.spark.sql.graft.SrpSignature]]); per-plane `when(dot)`
    * terms would re-enter the expression-tree-blowup class at 64 planes.
    * Throws if a vector's dimension differs from the plane dimension —
    * zipping to the shorter side would silently sign a truncated vector.
    */
  def srpSignature(v: Column, numPlanes: Int, dim: Int): Column =
    org.apache.spark.sql.graft.SrpSignature.column(
      v, (0 until numPlanes).map(p => srpPlane(p, dim)))

  /** Hi-word hyperplanes of the 128-bit wide family. The lo closed form
    * has PERIOD 127 (a_p, b_p are p·const mod 127), so only 127 distinct
    * planes exist in that family — a 128-bit signature cannot reuse it
    * without repeating plane 0 as plane 127 (a correlated bit). The hi
    * family therefore runs the same construction over the NEXT prime
    * modulus, 131: plane'(q, d) = ((a'_q + d·19349663 + (d² mod 131)·b'_q)
    * mod 131 − 65) / 64 with a'_q = (q·92821) mod 131 and
    * b'_q = (q·28411) mod 131 — still exact dyadic rationals
    * (denominator 64), bitwise-mirrorable in DuckDB, pairwise-distinct
    * for q < 131, and decorrelated from the lo planes by the modulus.
    */
  def srpPlaneHi(q: Int, dim: Int): Seq[Double] = {
    val aq = (q.toLong * 92821L) % 131L
    val bq = (q.toLong * 28411L) % 131L
    (0 until dim).map(d =>
      ((aq + d.toLong * 19349663L + (d.toLong * d % 131L) * bq) % 131L - 65L) / 64.0)
  }

  /** Second signature word of the 128-bit wide family: bit i =
    * sign(v · planeHi_i), packed little-endian.
    */
  def srpSignatureHi(v: Column, numPlanes: Int, dim: Int): Column =
    org.apache.spark.sql.graft.SrpSignature.column(
      v, (0 until numPlanes).map(q => srpPlaneHi(q, dim)))

  /** LSH band keys over the packed signature: `bands` chunks of
    * `bitsPerBand` bits, emitted as (band, key) structs — equal key in
    * the same band ⇒ candidate pair (the q42 MinHash layout on vectors).
    */
  def srpBandKeys(sig: Column, bands: Int, bitsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        sig.bitwiseAND(lit(((1L << bitsPerBand) - 1) << (b * bitsPerBand))).as("key"))
    }: _*)
}

/** DuckDB spellings of the same folds (same order ⇒ same doubles). */
object VectorSql {
  def dotExpr(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x,y) -> x+y)"

  def normExpr(a: String): String = s"sqrt(${dotExpr(a, a)})"

  /** v · plane_p with the plane generated by the same closed form as
    * [[VectorFunctions.srpPlane]] (exact dyadic values both sides). The
    * p-dependent term is pre-reduced mod 127 in Scala so the SQL stays in
    * 32-bit-safe integer range.
    */
  def srpDotExpr(v: String, p: Int): String = {
    val ap = (p.toLong * 73856093L) % 127L
    val bp = (p.toLong * 48611L) % 127L
    s"""list_reduce(list_transform(generate_series(1, len($v)),
        i -> $v[i]::DOUBLE * ((($ap + (i-1)*19349663 + ((i-1)*(i-1) % 127) * $bp) % 127 - 63) / 64.0)), (x,y) -> x+y)"""
  }

  def srpSignatureExpr(v: String, numPlanes: Int): String =
    (0 until numPlanes).map { p =>
      s"(CASE WHEN ${srpDotExpr(v, p)} >= 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")::BIGINT")

  /** v · planeHi_q — the 131-modulus hi family of
    * [[VectorFunctions.srpPlaneHi]], same exact-dyadic discipline.
    */
  def srpDotHiExpr(v: String, q: Int): String = {
    val aq = (q.toLong * 92821L) % 131L
    val bq = (q.toLong * 28411L) % 131L
    s"""list_reduce(list_transform(generate_series(1, len($v)),
        i -> $v[i]::DOUBLE * ((($aq + (i-1)*19349663 + ((i-1)*(i-1) % 131) * $bq) % 131 - 65) / 64.0)), (x,y) -> x+y)"""
  }

  def srpSignatureHiExpr(v: String, numPlanes: Int): String =
    (0 until numPlanes).map { q =>
      s"(CASE WHEN ${srpDotHiExpr(v, q)} >= 0.0 THEN ${1L << q} ELSE 0 END)"
    }.mkString("(", " + ", ")::BIGINT")

  /** Ladder-rung-k combo keys, the SQL spelling of a narrow
    * [[graft.queries.Similarity.srpRungKeys]] rung: the C(bands,k) size-k
    * band subsets as combined-mask (bp, key) structs. The oracle only
    * needs these for the rung-occupancy scalar subqueries — the
    * candidate predicate itself stays the declarative per-band join +
    * HAVING count ≥ k.
    */
  def srpComboKeysExpr(sig: String, bands: Int, bitsPerBand: Int, k: Int): String = {
    def mask(b: Int): Long = ((1L << bitsPerBand) - 1) << (b * bitsPerBand)
    (0 until bands).combinations(k).toSeq.zipWithIndex.map { case (bs, p) =>
      s"{bp: $p, key: ($sig & ${bs.map(mask).reduce(_ | _)})}"
    }.mkString("[", ", ", "]")
  }

  /** WIDE-family rung-k combo keys over the 128-bit signature (lo + hi
    * words, 16 8-bit bands): the C(16,k) size-k band subsets as
    * (bp, k0, k1) structs — bands 0-7 mask the lo word, 8-15 the hi
    * word, the pair of masked words IS the combined key (no hashing, no
    * collision question). SQL spelling of a wide
    * [[graft.queries.Similarity.srpRungKeys]] rung.
    */
  def srpWideComboKeysExpr(sigLo: String, sigHi: String, k: Int): String = {
    def mask(b: Int): Long = 255L << ((b % 8) * 8)
    (0 until 16).combinations(k).toSeq.zipWithIndex.map { case (bs, p) =>
      val lo = bs.filter(_ < 8).map(mask).foldLeft(0L)(_ | _)
      val hi = bs.filter(_ >= 8).map(mask).foldLeft(0L)(_ | _)
      s"{bp: $p, k0: ($sigLo & $lo), k1: ($sigHi & $hi)}"
    }.mkString("[", ", ", "]")
  }

  /** The 16 wide band keys (rung W1's relation and the oracle's
    * candidate-join relation): band b < 8 keys the lo word, b ≥ 8 the
    * hi word; the unused word is zero so (band, k0, k1) equality is
    * exactly per-band key equality.
    */
  def srpWideBandKeysExpr(sigLo: String, sigHi: String): String =
    (0 until 16).map { b =>
      val m = 255L << ((b % 8) * 8)
      if (b < 8) s"{band: $b, k0: ($sigLo & $m), k1: 0::BIGINT}"
      else s"{band: $b, k0: 0::BIGINT, k1: ($sigHi & $m)}"
    }.mkString("[", ", ", "]")
}
