package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dedup primitives: MinHash signatures, LSH band keys, SimHash.
  *
  * The hash family is deterministic and shared with the DuckDB oracle SQL
  * (generated from these same constants in [[DedupSql]]), so the full
  * MinHash→LSH→verify pipeline is differentially tested end-to-end.
  *
  * Scale notes: signatures are fixed-size (K longs) per document, so the
  * LSH band explosion is K/R rows per doc — the candidate join shuffles
  * only (band, key, doc_id), never the shingle sets; sets are joined back
  * only for the (rare) candidate pairs. This is the standard layout that
  * holds at 100 TB.
  */
object DedupFunctions {

  /** MinHash universe prime (2^31 - 1). */
  val P = 2147483647L
  /** Number of MinHash functions. */
  val K = 12
  /** LSH rows per band (K/R bands of R rows). */
  val R = 2
  val Bands: Int = K / R

  /** Deterministic affine hash family h_i(x) = (a_i x + b_i) mod P.
    * a_i derived from Knuth's multiplicative constant; all arithmetic
    * stays below 2^63 because x is a shingle hash, x < PolyHashKernel.Mod
    * (a_i < P → a_i*x < 2^62) — the `require` below fails loudly if
    * either range grows.
    */
  val A: IndexedSeq[Long] = (1 to K).map(i => (2654435761L * i) % P)
  val B: IndexedSeq[Long] = (1 to K).map(i => (40503L * i * i + 17L) % P)
  require(org.apache.spark.sql.graft.PolyHashKernel.Mod - 1 <= (Long.MaxValue - B.max) / A.max,
    "MinHash a_i*x + b_i would overflow a long over the shingle hash range")

  /** SimHash bit width and spreading multiplier: the 30-bit polynomial
    * shingle hash is spread to 48 bits via h*KNUTH mod 2^48 so bits are
    * uncorrelated (bit_count stays positive in signed int64).
    */
  val SimBits = 48
  val SimMod: Long = 1L << SimBits
  val Spread = 2654435761L

  /** MinHash signature (array of K longs) from an array of shingle
    * hashes (longs in [0, PolyHashKernel.Mod)).
    */
  def minhashSignature(shingleHashes: Column): Column =
    // r20: one-pass native kernel (org.apache.spark.sql.graft.
    // MinhashSignature) — the declarative form below walks the array K
    // times and allocates K transformed copies per row. Value equality
    // is pinned by TextDedupSpec (live corpus + adversarial literals);
    // the DuckDB oracle keeps the declarative spelling (DedupSql), so
    // the whole pipeline still races cross-engine.
    org.apache.spark.sql.graft.MinhashSignature.column(shingleHashes)

  /** The declarative spelling of [[minhashSignature]] — the spec surface
    * TextDedupSpec pins the native kernel against; not on any hot path.
    */
  private[graft] def minhashSignatureDeclarative(shingleHashes: Column): Column =
    array((0 until K).map { i =>
      array_min(transform(shingleHashes,
        s => pmod(s * A(i) + B(i), lit(P))))
    }: _*)

  /** LSH band keys: array of Bands structs (band index, combined key of
    * the band's R signature entries). Equal key within the same band ⇒
    * candidate pair. Key packing s1*P + s2 < P^2 < 2^63.
    */
  def bandKeys(sig: Column): Column =
    array((0 until Bands).map { b =>
      struct(
        lit(b).as("band"),
        (element_at(sig, b * R + 1) * P + element_at(sig, b * R + 2)).as("key"))
    }: _*)

  /** (doc_id, shingles) → the exploded LSH band relation (doc_id, band,
    * key): signature kernel + band explode in one place, shared by the
    * q42/q69 session cache and the streaming [[graft.streaming.NearDupIngestDeduper]]
    * so the banding scheme has exactly one spelling. A document whose
    * shingle set is EMPTY (fewer than n tokens) produces null band keys
    * (array_min over nothing), and null keys never equi-join — such
    * docs are structurally candidate-free, which is the right semantics
    * for a doc with no n-gram identity.
    */
  def bandRows(shingleRel: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    shingleRel
      .select(col("doc_id"),
        minhashSignature(TextFunctions.shingleHashes(col("shingles"))).as("sig"))
      .select(col("doc_id"), explode(bandKeys(col("sig"))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Set Jaccard of two string arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Set Jaccard over PRE-SORTED distinct string arrays — same value as
    * [[jaccard]] (integer intersection count feeding the identical
    * division), but the O(n²) pair join pays a zero-allocation merge
    * walk instead of a hash-set build per pair. Sort each side once
    * map-side with `array_sort` before the join.
    */
  def jaccardSorted(aSorted: Column, bSorted: Column): Column = {
    val inter = org.apache.spark.sql.graft.SortedIntersectCount
      .column(aSorted, bSorted).cast("double")
    inter / (size(aSorted) + size(bSorted) - inter)
  }

  /** 48-bit SimHash over shingle hashes — r20: the codegen Expression
    * (org.apache.spark.sql.graft.Simhash48), replacing the boxed
    * Seq[Long] UDF below. Same integer math, same null edges (null
    * input → 0L, null element votes as 0); TextDedupSpec pins native ≡
    * UDF on the live corpus plus adversarial literals. The DuckDB
    * oracle keeps its own declarative spelling (DedupSql), so q43
    * still races cross-engine.
    */
  def simhash48(hs: Column): Column =
    org.apache.spark.sql.graft.Simhash48.column(hs)

  /** The UDF spelling of [[simhash48]] — the spec surface TextDedupSpec
    * pins the native kernel against; not on any hot path.
    */
  private[graft] val simhash48Udf = udf { (hs: Seq[Long]) =>
    if (hs == null || hs.isEmpty) 0L
    else {
      val counts = new Array[Int](SimBits)
      hs.foreach { h =>
        val spread = (h * Spread) % SimMod
        var j = 0
        while (j < SimBits) {
          if (((spread >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      var out = 0L
      var j = 0
      while (j < SimBits) {
        if (counts(j) > 0) out |= (1L << j)
        j += 1
      }
      out
    }
  }

  /** Hamming distance between two SimHash values. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")
}

/** DuckDB spellings generated from the same constants. */
object DedupSql {
  import DedupFunctions._

  /** MinHash signature list literal-generated per hash function. */
  def minhashSigExpr(hs: String): String =
    (0 until K).map { i =>
      s"list_min(list_transform($hs, s -> (s*${A(i)}+${B(i)}) % $P))"
    }.mkString("[", ", ", "]")

  /** Band (index, key) pairs — mirrored as a list of structs. */
  def bandKeysExpr(sig: String): String =
    (0 until Bands).map { b =>
      s"{band: $b, key: $sig[${b * R + 1}]*$P + $sig[${b * R + 2}]}"
    }.mkString("[", ", ", "]")

  def jaccardExpr(a: String, b: String): String =
    s"(len(list_intersect($a, $b))::DOUBLE / (len($a) + len($b) - len(list_intersect($a, $b))))"

  def simhash48Expr(hs: String): String =
    s"""list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(0, ${SimBits - 1}), j ->
        CASE WHEN list_reduce(list_prepend(0::BIGINT,
               list_transform($hs, h -> ((((h * $Spread) % $SimMod) >> j) & 1)*2 - 1)),
               (a,b) -> a+b) > 0
             THEN (1::BIGINT << j) ELSE 0::BIGINT END)), (a,b) -> a+b)"""

  def hammingExpr(a: String, b: String): String =
    s"bit_count(xor($a, $b))::BIGINT"
}
