package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NearestCellsTwoLevel
import graft.functions.{VectorFunctions => VF, VectorSql => VS}
import graft.sources.Tables._

/** Similarity-search suite over `embeddings` (north-star extension):
  * brute-force cosine KNN as the correctness baseline, an IVF-style
  * cell-pruned variant as the scale path, embedding-cosine near-dup
  * pairs, and per-label centroid analytics.
  *
  * Query set = vec_id < 5 throughout (small, broadcastable — the shape a
  * real ANN-serving job has: tiny query batch vs huge corpus).
  */
object Similarity {

  /** DuckDB normalized-corpus CTE: (vec_id, label, v DOUBLE[], nrm). */
  private val corpusCte = s"""
    WITH n AS (SELECT vec_id, label, embedding AS v, ${VS.normExpr("embedding")} AS nrm
               FROM embeddings)"""

  private def cosNN(a: String, b: String) =
    s"(${VS.dotExpr(a + ".v", b + ".v")} / ($a.nrm * $b.nrm))"

  /** The KNN top-k tail every cosine search shares: scored
    * (q_id, neighbor_id, c) → the k best neighbors per query as
    * (q_id, neighbor_id, rnk, cos), ranked (c DESC, neighbor_id) —
    * the oracles' row_number spelling — with cos rounded to 6 places
    * and rows ordered by (q_id, rnk).
    */
  private[queries] def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"),
        round(col("c"), 6).as("cos"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** CORPUS-SCALED IVF anchor set (VERDICT r15 #2, superseding r10 #1's
    * fixed 64): the K corpus vectors with the smallest deterministic
    * hash of vec_id — a min-K hash sample, the poor-man's
    * kmeans-centroid set — where K now GROWS with the corpus,
    * K(n) = clamp(64, 65536, 4·⌊√n⌋). The √n shape is the classical IVF
    * sizing (cells of ~√n/4 vectors), so the nprobe=1 pruning factor is
    * K — it grows with the corpus instead of freezing at 64× (the r15
    * watch item: at 100 TB a fixed-64 one-cell probe scanned ~1.5 TB;
    * at the 65536 cap it scans ~1.5 GB). The cap keeps the two
    * structural guarantees that made the fixed design safe: the
    * centroid set stays driver-held (65536 × dim floats, ≤32 MB at
    * dim=128) and the per-row flat (kc = 1) assignment stays a bounded
    * O(K·dim) map-side projection — beyond the cap the honest next step
    * is a two-level quantizer, not a bigger flat K. The hash is plain
    * 64-bit modular arithmetic — `((vec_id % 1000003) * 2654435761) %
    * 1000000007`, overflow-free for any vec_id — so the oracle computes
    * bit-identical keys; ties break on vec_id; K derives from count(*)
    * through IEEE sqrt/floor, identical in both engines. Selection is a
    * TakeOrderedAndProject (map-side partial top-K per partition, K
    * rows merged on the driver), never a full sort or shuffle.
    *
    * [[nprobeFor]] is the matching probe count, p = ⌈K/64⌉: probing p
    * of K cells scans ~p·n/K ≈ n/64 — the SAME scan budget as the old
    * fixed-64 single-probe design, spent at √n-finer quantizer
    * resolution (measured recall at sf1/sf10 in COVERAGE.md). q51 keeps
    * nprobe=1 (the max-pruning/latency path); q54 and the q49 recall
    * measurement run the scaled (K, p) operating point.
    */
  private[queries] def anchorKFor(n: Long): Int =
    math.max(64L, math.min(65536L, 4L * math.floor(math.sqrt(n.toDouble)).toLong)).toInt
  /** ⌈K/64⌉ — exact in both engines: K ≤ 65536 is exact in double and
    * /64 is a power-of-two scale, so ceil sees the true quotient.
    */
  private[queries] def nprobeFor(k: Int): Int = (k + 63) / 64
  private def anchorHash =
    (col("vec_id") % 1000003L) * 2654435761L % 1000000007L
  /** The oracle's mirror of [[anchorKFor]] + [[collectAnchors]]: `kq`
    * derives K from count(*), `pq` the probe count, `anchors` ranks by
    * the same hash. (A window rank + filter rather than ORDER BY/LIMIT,
    * because LIMIT takes no subquery.)
    */
  private val anchorsCte =
    s"""kq AS (SELECT GREATEST(64, LEAST(65536,
              4 * CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))) AS k FROM n),
        pq AS (SELECT CAST(ceil(k / 64.0) AS BIGINT) AS p FROM kq),
        anchors AS (
          SELECT a_id, av, anrm, hrnk FROM (
            SELECT vec_id AS a_id, v AS av, nrm AS anrm,
                   row_number() OVER (ORDER BY
                     ((vec_id % 1000003) * 2654435761) % 1000000007, vec_id) AS hrnk
            FROM n), kq
          WHERE hrnk <= k)"""

  /** Corpus row count, cached per (session, corpus) as a SessionCache
    * value entry (ADVICE r16 #2: collectAnchors used to run its own
    * full count() action on every invocation, so each IVF query paid
    * two corpus actions for anchor selection). Declared in each IVF
    * query's `releases`, so the harness loop retires it like any cache.
    */
  private[queries] def corpusCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long =
    graft.pipeline.SessionCache.getOrBuildValue(spark, s"embN:$dir")(
      java.lang.Long.valueOf(embeddings(spark, dir).count())).longValue()

  /** The top-k anchor collect. `k` is ALWAYS the anchorKFor-clamped K
    * (ADVICE r16 #1: deriving kc/nprobe from anchors.size = min(K, n)
    * while the oracle derives them from K alone would diverge on
    * corpora smaller than K) — callers derive every downstream dial
    * (nprobe, kc, wc) from the same clamped K the oracle uses.
    */
  private[queries] def collectAnchors(e: DataFrame, k: Int): Seq[(Long, Seq[Float], Double)] =
    e.orderBy(anchorHash, col("vec_id"))
      .limit(k)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))

  /** The ANN index in memory: hash-rank anchors, corpus count, and the
    * two-level fine→coarse route. One per (session, corpus).
    */
  private[queries] case class AnnIndex(
      anchors: Seq[(Long, Seq[Float], Double)], n: Long, route: Map[Long, Long]) {
    def k: Int = anchorKFor(n)
  }

  private def annKc(k: Int, nAnchors: Int): Int =
    math.min(2L * math.ceil(math.sqrt(k.toDouble)).toLong, nAnchors.toLong).toInt

  /** The persistable index relation ([[AnnIndexTable]]'s one stage):
    * anchors in hash-rank order with the q109 coarse route and the
    * corpus count. Driver-built (≤ 65536 rows) from one TakeOrdered
    * corpus pass — the ONLY full-corpus work the index ever needs.
    */
  private[queries] def annIndexRel(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val idx = annIndexDerived(spark, dir)
    val s2 = spark; import s2.implicits._
    idx.anchors.zipWithIndex.map { case ((id, v, nr), i) =>
      (id, v, nr, i + 1, idx.route(id), idx.n) }
      .toDF("a_id", "av", "anrm", "hrnk", "coarse_route", "corpus_n")
  }

  /** Session-cached index: from the committed [[AnnIndexTable]] parquet
    * when present (reuse tick: one tiny scan, zero full-corpus jobs —
    * floats/doubles round-trip parquet bit-exactly, so the anchors are
    * the collect's, verbatim), else derived live (gate path: Verify
    * never pre-ensures caches it doesn't need, and the oracle races the
    * same derivation). Seeds embN either way — every IVF dial derives
    * from the same count the oracle's count(*) computes.
    */
  private[queries] def annIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): AnnIndex =
    graft.pipeline.SessionCache.getOrBuildValue(spark, s"annIndex:$dir") {
      AnnIndexTable.materializedPath(dir) match {
        // rows.nonEmpty guard (ADVICE r18 #1): an EMPTY corpus commits an
        // empty index table — zero anchors, and no row to read corpus_n
        // from — so the reuse tick must fall back to the live derivation
        // (which handles n = 0 consistently with the empty-corpus
        // hardening elsewhere) instead of throwing on rows.head.
        case Some(p) =>
          // Through the Tables memo: a plain spark.read.parquet re-infers
          // the schema in a job of its own on every rebuild.
          val rows = graft.sources.Tables.atPath(spark, p).collect().sortBy(_.getAs[Int]("hrnk"))
          if (rows.isEmpty) annIndexDerived(spark, dir)
          else {
            // .toIndexedSeq: Row.getSeq returns a MUTABLE ArraySeq at
            // runtime — materialize the immutable Seq the declared type
            // promises, or downstream immutable-Seq call sites CCE.
            val anchors = rows.map(r => (r.getAs[Long]("a_id"),
              r.getSeq[Float](r.fieldIndex("av")).toIndexedSeq,
              r.getAs[Double]("anrm"))).toSeq
            val n = rows.head.getAs[Long]("corpus_n")
            graft.pipeline.SessionCache.getOrBuildValue(spark, s"embN:$dir")(
              java.lang.Long.valueOf(n))
            AnnIndex(anchors,
              n, rows.map(r => r.getAs[Long]("a_id") -> r.getAs[Long]("coarse_route")).toMap)
          }
        case None => annIndexDerived(spark, dir)
      }
    }

  /** The live index derivation: the gate path, the rows
    * [[annIndexRel]] commits, and the empty-table fallback above.
    */
  private def annIndexDerived(spark: org.apache.spark.sql.SparkSession,
      dir: String): AnnIndex = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
    val n = corpusCount(spark, dir)
    val k = anchorKFor(n)
    val anchors = collectAnchors(e, k)
    AnnIndex(anchors, n, NearestCellsTwoLevel.routeOf(anchors, annKc(k, anchors.size)))
  }

  /** The corpus's embedding dimension, probed ONCE per (session, corpus)
    * as a session-lifetime value entry (r20; the srpsig AND srpsigTight
    * builds each re-ran this 1-row job every sweep — corpus metadata,
    * like the srpTightDupMass precedent, so no release point). The
    * signature kernel still throws on any row whose dimension disagrees,
    * so a wrong cached value cannot silently mis-sign.
    */
  private[queries] def embDim(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    graft.pipeline.SessionCache.getOrBuildValue(spark, s"embDim:$dir")(
      Integer.valueOf(embeddings(spark, dir)
        .select(size(col("embedding"))).head().getInt(0))).intValue()

  /** SRP signature relation (vec_id, embedding, nrm, sig), persisted once
    * per (session, sfDir): the band explode and both verify-join sides
    * consume it, and Generate would otherwise re-evaluate the 64-plane
    * kernel per consumer. The plane dimension is derived from the data
    * ([[embDim]], one 1-row job per session), not hard-coded — the
    * kernel throws on any row whose dimension disagrees.
    */
  private[queries] def srpSignatures(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.pipeline.SessionCache.getOrPersist(spark, s"srpsig:$dir") {
      val e = embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
      val dim = embDim(spark, dir)
      // Both words of the 128-bit wide family ride the one cached
      // relation: the hi word costs one more native-kernel projection
      // per row at index-build time and unlocks the 16-band recall
      // rungs (see [[srpSelectArm]]).
      e.withColumn("sig", VF.srpSignature(col("embedding"), 64, dim))
        .withColumn("sig2", VF.srpSignatureHi(col("embedding"), 64, dim))
    }

  /** q53's per-rung enumeration budget (mirrored verbatim in the
    * oracle's CASE): expected enumerated candidate rows PER VECTOR a
    * rung may admit before the ladder escalates to the next
    * band-composition rung. The decision input is MEASURED band-bucket
    * occupancy — Σ d·(d−1)/2 over the rung's key buckets, exactly the
    * rows its self-join would enumerate — not corpus row count
    * (VERDICT r11 #5): a clustered corpus that concentrates buckets
    * escalates at the size where ITS enumeration actually blows up.
    *
    * THE ACCOUNTING, r15 (hamming pre-verify): historically this was
    * 64/vector, because every enumerated candidate paid an exact-cosine
    * verify that moved TWO full embedding vectors through a join — at
    * 2M vectors a 425-pairs/vector rung sorted ~450 GB of
    * vector-carrying rows (the r12 ENOSPC), so 64/vector capped the
    * verify stage at ~64× the corpus's own vector bytes. The hamming
    * pre-verify ([[srpHammingMax]]) moves that wall: enumerated rows
    * now carry only (vec_id, sig, sig2) — 24 bytes — and STREAM through
    * a two-popcount filter inside the candidate join, so an enumerated
    * row costs CPU-nanoseconds, not vector-bytes, and only the ~2% of
    * random pairs that pass hamming reach the distinct + exact-cosine
    * stage. 1024/vector therefore bounds: the streamed popcount work
    * (linear in n, trivial constant), the key-relation sort (≤ C·24 B
    * per vector), AND — via the measured ≈2% random-pass rate — the
    * exact-verify stage at ~20 vector-carrying rows/vector, UNDER the
    * old 64× discipline. The 16× enumeration headroom is spent on
    * recall: the ladder lands on wider rungs at every SF (skew-sf1
    * measured: rung W1 instead of N2 — recall 0.54 vs r14's 0.168;
    * see BENCH artifacts' recall.rung).
    *
    * Measured any-band occupancy on this corpus family: 9.0/vector at
    * sf0.01, 36.4 at sf0.1, 367 at sf1 (wide-any 728 at skew sf1 —
    * fits), ~3.7e3 at sf10, ~3.7e4 at sf100 — and pair-key occupancy
    * 3/vector at sf10 vs 425/vector at sf100.
    */
  private[queries] val srpEnumBudget = 1024L

  /** Hamming pre-verify ceiling over the 128-bit signature (mirrored
    * verbatim in the oracle): a candidate pair proceeds to the exact-
    * cosine verify only if its two signature words disagree in ≤ this
    * many bits. Derivation: at the q53 threshold cos ≥ 0.45,
    * E[h] = 128·acos(0.45)/π ≈ 45.0 with σ = √(128·p(1−p)) ≈ 5.4, so
    * 55 = E[h] + 1.84σ keeps ≈ 97% of pairs AT the threshold boundary
    * (and virtually all better ones — a cos 0.95 near-dup sits at
    * E[h] ≈ 13). For a RANDOM pair, h ~ Bin(128, ½): mean 64,
    * σ = √(128·¼) = √32 ≈ 5.66, so the ANALYTIC pass rate is
    * P(h ≤ 55) ≈ Φ((55.5−64)/5.66) ≈ 7% — ~72 of 1024 enumerated
    * candidates/vector would carry their vectors to the exact-cosine
    * verify in the worst case, above the old 64×-discipline figure.
    * The MEASURED pass rate on this corpus family is ≈ 2% (~20
    * rows/vector): enumerated candidates are band-collision survivors,
    * not independent uniform pairs, and their signature bits are
    * correlated through the shared band words. The byte bound the
    * budget story relies on is therefore EMPIRICAL (pinned by
    * SrpLshSpec's occupancy floor and the sf100 operating point in
    * BASELINE.md), with the analytic ~7% as the never-exceeded worst
    * case — at 1024 cands/vector and 768-float vectors that ceiling is
    * ~220 KB/vector of verify traffic, still bounded scratch. The
    * filter is the load-bearing half of the r15 budget story above: it
    * is what makes enumerated rows cheap enough that the ladder can
    * afford recall-first rungs. (ADVICE r15 #3: the original comment
    * misstated σ as 4.4 and the analytic rate as 2%.)
    */
  private[queries] val srpHammingMax = 55

  /** The band subsets of ladder rung r (in [[srpSelectArm]]'s
    * encoding): the C(8,r) size-r subsets of the lo word's 8 bands for a
    * narrow rung, the C(16,r−10) subsets of all 16 bands (8-15 = the hi
    * word) for a wide one.
    */
  private def srpRungBands(rung: Int): Seq[Seq[Int]] =
    if (rung >= 10) (0 until 16).combinations(rung - 10).toSeq
    else (0 until 8).combinations(rung).toSeq

  /** Band-combination keys for ladder rung r: one row per (vector, band
    * subset), keyed by the subset's index `bp` and the signature words
    * masked to its bands. A key matches ⇔ all k of its bands match, so
    * joining on a rung's keys and deduping is set-identical to the
    * declarative per-band join + HAVING count ≥ k (SrpLshSpec pins the
    * rungs by set equality). A narrow rung keys on (bp, k0), the masked
    * lo word; a wide rung adds k1, the masked hi word — the two masked
    * longs ARE the combined key, so equality needs no hashing and has no
    * collision question. Rungs 1 and 11 are the any-of-8 and any-of-16
    * band relations. sig/sig2 ride along (24 B/row): the hamming
    * pre-verify reads them INSIDE the candidate join, so enumerated
    * pairs never pay a second join to fetch signatures.
    */
  private def srpRungKeys(sigs: DataFrame, rung: Int): DataFrame = {
    def mask(bands: Seq[Int]): Long = bands.map(b => 255L << ((b % 8) * 8)).foldLeft(0L)(_ | _)
    val keys = srpRungBands(rung).zipWithIndex.map { case (bs, p) =>
      val (lo, hi) = bs.partition(_ < 8)
      val words = col("sig").bitwiseAND(lit(mask(lo))).as("k0") +:
        (if (rung >= 10) Seq(col("sig2").bitwiseAND(lit(mask(hi))).as("k1")) else Nil)
      struct(lit(p).as("bp") +: words: _*)
    }
    sigs.select(col("vec_id"), col("sig"), col("sig2"), explode(array(keys: _*)).as("pk"))
      .select(col("vec_id"), col("sig"), col("sig2"), col("pk.*"))
  }

  /** A rung key relation's join key: every column but the vector's id
    * and signature words — (bp, k0) narrow, (bp, k0, k1) wide.
    */
  private def srpKeyCols(keys: DataFrame): Seq[String] =
    keys.columns.toSeq.filterNot(Set("vec_id", "sig", "sig2"))

  /** Measured rung occupancy: (enumerated candidate rows, vectors). The
    * enumeration is Σ d·(d−1)/2 over the rung's key buckets, exactly the
    * rows its self-join would enumerate — one cheap aggregate over the
    * C·n key rows the rung's join would explode anyway.
    */
  private[queries] def srpRungOccupancy(sigs: DataFrame, rung: Int): (Long, Long) = {
    val keys = srpRungKeys(sigs, rung)
    val r = keys
      .groupBy(srpKeyCols(keys).map(col): _*).agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(col("d") * (col("d") - 1)), lit(0L)).as("enum2"),
        coalesce(sum(col("d")), lit(0L)).as("rowsK"))
      .head()
    (r.getLong(0) / 2, r.getLong(1) / srpRungBands(rung).size)
  }

  /** The selected ladder rung: the smallest k ∈ {1, …, 7} whose
    * measured enumeration fits [[srpEnumBudget]]·n; rung 8 (the full
    * 64-bit signature as one key — exact-signature buckets, the
    * minimal-cost rung this signature family admits) is the terminal.
    * Rungs are probed lazily — rung k+1's stats aggregate only runs
    * once rung k is over budget, and the decision caches per corpus
    * (srpArm value entry), so a settled corpus pays one probe sequence
    * per version, not per query.
    *
    * Rung 3 stopped being terminal in r13: the decade-3.5 probe (6M
    * vectors, 3× the sf100 rehearsal) ENOSPC'd the scratch disk in the
    * verify join because the triple rung was accepted WITHOUT a probe —
    * exactly the r12 lesson one rung up: no rung may be trusted
    * unmeasured. The full measured ladder on this corpus family at
    * sf100 (2M vectors), enumerated pairs PER VECTOR by rung:
    * 36802 / 1182 / 528 / 522 / 367 / 168 / 45.2 / 5.4 — two regimes:
    * subset-composition prunes the random collision mass (rungs 1→3),
    * then SATURATES (rung 4 ≈ rung 3: the residue shares ≥4 bands —
    * moderately-similar sub-threshold clusters 8-bit bands cannot
    * separate), and only near-full-signature agreement (rungs 7, 8)
    * discriminates again. The budget walks the whole ladder: sf100
    * lands on rung 7 (45.2 ≤ 64), a 3× corpus on rung 8. Past rung 8
    * the knob is signature WIDTH (128-bit sigs, 16-bit bands), not
    * composition — out of scope for the declared 64-bit family.
    */
  /** Rung encoding: 1-8 = the narrow 64-bit family ("≥ k of 8 bands";
    * 8 = full-signature terminal); 11-13 = the WIDE 128-bit family
    * ("≥ k of 16 bands", k = rung − 10). The ladder walks rungs in
    * DECREASING recall order — W1, N1, W2, N2, W3, N3, N4…N7 — and
    * selects the FIRST whose measured enumeration fits the budget, so
    * the budget headroom is spent on recall instead of left on the
    * table (VERDICT r14 #4: the narrow ladder's first-fit landed on
    * rungs far UNDER budget — sf1 chose N2 at single-digit pairs/vector
    * while W2, at ~4× the enumeration and ~4× the recall, also fit).
    * The orderings hold by construction: W_k ⊇ N_k in candidates (the
    * narrow bands are wide bands 0-7) and the random-collision mass
    * ratios W1:N1:W2:N2:W3:N3 ≈ 2 : 1 : 1/17 : 1/73 : 1/950 : 1/9500
    * decrease along the walk, so first-fit is recall-max. Wide rungs
    * stop at k = 3: C(16,4) = 1820 keys/vector makes the PROBE itself
    * decade-scale work, and past N3 the corpus is in the regime where
    * recall is band-agreement-limited anyway (the measured saturation
    * note below). The terminal stays the narrow full-signature bucket
    * key — minimal cost, and at that scale the wide family's extra
    * tables buy enumeration, not discrimination.
    */
  private[queries] def srpSelectArm(sigs: DataFrame,
      budget: Long = srpEnumBudget): Int = {
    val ladder = Seq(11, 1, 12, 2, 13, 3, 4, 5, 6, 7)
    ladder.find { r =>
      val (enumRows, n) = srpRungOccupancy(sigs, r)
      val fits = enumRows <= budget * n
      // A rejected probe's shuffle files (n·C keys rows) are dead the
      // moment its aggregate returns, but Spark only deletes them when
      // the driver GC collects the shuffle references — and a deep
      // ladder walk at decade-4 scale stacks the probes' files
      // (~25-30 GB at 20M vectors) under ONE query, ENOSPC'ing scratch
      // the verify join then needs. This is corpus-metadata setup, run
      // once per corpus version (the arm caches as a SessionCache value
      // entry), so an explicit collection between rejected probes costs
      // nothing measurable and keeps the walk's footprint at one rung.
      if (!fits) System.gc()
      fits
    }.getOrElse(8)
  }

  /** The 128-bit signature hamming distance of a candidate pair — two
    * codegen'd popcounts, evaluated on the STREAMED join output before
    * anything is materialized.
    */
  private def hamming128(a: String, b: String) =
    expr(s"bit_count($a.sig ^ $b.sig) + bit_count($a.sig2 ^ $b.sig2)")

  /** The rung-r candidate relation (r in [[srpSelectArm]]'s encoding)
    * — what q53 (and q110, at its own ceiling) verifies exactly: the
    * keyed self-join with the [[srpHammingMax]] pre-verify INSIDE the
    * join, then distinct. Order matters at scale: the filter runs on
    * streamed join output (24-byte rows, two popcounts), so the wide
    * rungs' enumerated mass never reaches the distinct shuffle, and the
    * exact-cosine verify downstream moves vectors only for the ~2% of
    * random pairs that survive. At hmax = 128, which no pair of 64-bit
    * words can exceed, it is the pure enumeration — the spec surface for
    * the combo-key ≡ HAVING-count equivalences. merge hints on both
    * sides: the key relations are explodes of the small cached signature
    * relation, and Catalyst sizes Generate output at its CHILD's bytes —
    * the under-estimate planned a multi-GiB BroadcastHashJoin at sf10
    * (see q43's note).
    */
  private[queries] def srpCandidatesForRung(sigs: DataFrame, rung: Int,
      hmax: Int = srpHammingMax): DataFrame = {
    val keys = srpRungKeys(sigs, rung)
    val keyEq = srpKeyCols(keys).map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    keys.as("a").hint("merge")
      .join(keys.as("b").hint("merge"),
        keyEq && col("a.vec_id") < col("b.vec_id") && hamming128("a", "b") <= lit(hmax))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
  }

  /** LSH candidate pairs at the [[srpEnumBudget]]-selected operating
    * point. Rung 1 (recall-first: this corpus's near-dups sit at
    * cos ≈ 0.45, a weak-similarity regime where tight banding finds
    * nothing) joins on ANY of the 8 single-band keys; rung 2 spells
    * "≥ 2 of 8 bands match" as an equi-join on the C(8,2)=28 16-bit
    * pair keys; rung 3 spells "≥ 3 of 8" on the C(8,3)=56 24-bit
    * triple keys (the oracle keeps the declarative per-band + HAVING
    * spelling for every rung). The point is the JOIN KEY SPACE: a
    * single 8-bit band has 256 buckets, so bucket occupancy — and the
    * rows the join enumerates — grows as n²/256 (the r11 sf10
    * rehearsal: ~10⁹ enumerated rows at 200k vectors, executor OOM);
    * each rung multiplies the key space by ~2⁸ for a combinatorial
    * fan-out bump — the standard banding-composition trade. Exposed
    * for the pruning spec (candidate ratio vs n² is the scale claim).
    */
  private[queries] def srpCandidates(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val sigs = srpSignatures(spark, dir)
    // The rung decision is CORPUS METADATA — a deterministic function of
    // the signature relation — so it caches per (session, corpus) like
    // the q57 bloom (SessionCache value entry, released with srpsig's
    // q53 sweep slot): production computes it once per corpus version
    // when the signature index is built, not per query. The occupancy
    // aggregates themselves (one per probed rung) remain the measured,
    // lazily-escalating probe SrpLshSpec pins.
    val arm = graft.pipeline.SessionCache.getOrBuildValue(
      spark, s"srpArm:$dir")(Integer.valueOf(srpSelectArm(sigs)))
    srpCandidatesForRung(sigs, arm.intValue())
  }

  /** The HIGH-COSINE deployment operating point (VERDICT r16 #1 — the
    * regime SRP-LSH is actually deployed for, previously unmeasured and
    * un-verified above cos ≈ 0.51). Deployment threshold τ = 0.8:
    *
    * - Hamming ceiling 35 = E[h] + 1.84σ AT τ: E[h] = 128·acos(0.8)/π
    *   ≈ 26.2, σ = √(128·p(1−p)) ≈ 4.56 at p = 0.2048 — the same
    *   keep-≈97%-at-the-boundary derivation as [[srpHammingMax]]'s 55,
    *   retargeted from cos 0.45 to cos 0.8.
    * - Budget 65536 enumerated rows/vector, 64× q53's, because the
    *   budget is SIMILARITY-TARGETED, not occupancy-only: what the old
    *   1024 actually bounded was the vector-carrying verify stage via
    *   the ~2–7% random hamming-55 pass rate (~20–72 rows/vector).
    *   At ceiling 35 a random pair passes with P(Bin(128,½) ≤ 35) ≈
    *   2.4e-7 — the verify term 65536·2.4e-7 ≈ 0.016 rows/vector is
    *   negligible, so the binding constraint is the STREAMED popcount
    *   volume alone (24-byte rows through the join filter), safely
    *   64k/vector. Net effect: the ladder holds its recall-max W1 rung
    *   two decades longer — W1 at cos ≥ 0.8 catches ≥1-of-16 bands
    *   with p ≈ 1−(1−0.16)^16 ≈ 0.94, vs the deep rungs' ≈0.10 that
    *   the r16 sf10 probe measured at the OLD budget.
    *
    * q110 verifies this point against the same declarative oracle
    * family as q53 (hash-green at the gate SFs); the synth planted
    * probe (tools/srp_planted_recall.py synth) measures its per-band
    * recall at sf10, and SrpLshSpec pins the cos ≥ 0.8 floor.
    */
  private[queries] val srpTightThreshold = 0.8
  private[queries] val srpTightHammingMax = 35
  private[queries] val srpTightEnumBudget = 65536L

  /** Guard threshold: more than one extra exact-clique partner per row
    * on average means band-bucket occupancy is dominated by duplicate
    * mass — the r17 sf100 synth corpus (isometry collisions, fan-out
    * ≈ 6.7) forced the enumeration-budgeted ladder down to a deep rung
    * and cost it a quarter of its 0.8-band recall (SRP_SYNTH_r17: 0.765
    * with the "run q40 first" caveat as ADVICE). Gate corpora measure
    * 0.0, so the guard is inert exactly where the DuckDB oracle runs —
    * and since r19 the oracle MIRRORS the guard (the dup-mass +
    * canonical CTEs in [[tightCorpusCte]]), so q110 stays hash-checkable
    * on dup-heavy corpora too. Declared BEFORE the CTE: the string
    * interpolates this threshold, and object-init order would otherwise
    * bake in 0.0.
    */
  private[queries] val srpTightDupFanoutMax = 1.0

  /** q110's corpus: embeddings plus DETERMINISTIC high-cosine replicas
    * — the gate corpora top out at cos ≈ 0.51, so without planting the
    * high-cosine oracle would be vacuously green on 0 rows. Replicas of
    * the first 32 vectors zero their leading z dims (z = 13 → cos =
    * √(1−s) ≈ 0.89 at mean mass share s ≈ 13/64; z = 26 → ≈ 0.77,
    * straddling the τ = 0.8 verify line so the threshold filter is
    * exercised in both directions). Zeroing is EXACT in float32, and
    * dot/norm folds skip the zeros identically in both engines, so the
    * oracle mirror stays bit-exact — no trig, no rounding.
    *
    * Replica id shifts are 10¹²/2·10¹² — far above any reachable real
    * id (ADVICE r17: the old +10M/+20M collided with make_sf1 sf100
    * ids, which stride 100k/copy up to ~10⁸, and with the synth
    * probe's replica base), so the a_id < b_id pair identity can never
    * conflate a replica with a real row on any corpus the engine runs.
    */
  private[queries] def tightAugmented(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val raw = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    def masked(shift: Long, z: Int) = raw.filter(col("vec_id") < 32)
      .select((col("vec_id") + shift).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> IF(i < $z, CAST(0.0 AS FLOAT), x))")
          .as("embedding"))
    raw.unionByName(masked(1000000000000L, 13)).unionByName(masked(2000000000000L, 26))
  }

  /** q110's corpus CTE, GUARD-AWARE since r19 (VERDICT r18 #2 / ADVICE
    * r18 #2): the oracle mirrors [[srpTightDupFanout]]'s dup-mass probe
    * (Σ c·(c−1) / Σ c over exact-embedding groups) and, above the same
    * [[srpTightDupFanoutMax]] threshold, [[srpSignaturesTightCanonical]]'s
    * min-id representative selection — so q110 is hash-checkable on ANY
    * corpus, not just the fan-out-0 gate corpora where the guard is
    * inert. The fan-out decision is a ratio of exact integers divided in
    * double, identical in both engines; the WHERE-gated UNION keeps the
    * plan declarative (DuckDB prunes the dead branch at run time).
    */
  private val tightCorpusCte = s"""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000000000 AS vec_id,
             list_concat(list_transform(generate_series(1, 13), zx -> CAST(0.0 AS FLOAT)),
                         embedding[14:]) AS embedding
      FROM embeddings WHERE vec_id < 32
      UNION ALL
      SELECT vec_id + 2000000000000 AS vec_id,
             list_concat(list_transform(generate_series(1, 26), zx -> CAST(0.0 AS FLOAT)),
                         embedding[27:]) AS embedding
      FROM embeddings WHERE vec_id < 32),
    dupq AS (
      SELECT CASE WHEN coalesce(sum(c), 0) = 0 THEN 0.0
                  ELSE CAST(sum(c * (c - 1)) AS DOUBLE) / sum(c) END AS fanout
      FROM (SELECT count(*) AS c FROM aug GROUP BY embedding)),
    guarded AS (
      SELECT vec_id, embedding FROM aug
      WHERE (SELECT fanout FROM dupq) <= $srpTightDupFanoutMax
      UNION ALL
      SELECT min(vec_id) AS vec_id, embedding FROM aug
      WHERE (SELECT fanout FROM dupq) > $srpTightDupFanoutMax
      GROUP BY embedding),
    n AS (SELECT vec_id, embedding AS v, ${VS.normExpr("embedding")} AS nrm FROM guarded)"""

  /** The 128-bit signature relation over [[tightAugmented]], cached per
    * (session, corpus) like [[srpSignatures]].
    */
  private[queries] def srpSignaturesTight(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.pipeline.SessionCache.getOrPersist(spark, s"srpsigTight:$dir") {
      // r19 optimization (guide §2.6 idle capacity): the 3-way union in
      // tightAugmented concatenates partitions (32 + 32 + 32 here), and
      // the two replica branches carry 32 ROWS each — so every stage
      // over the persisted relation ran 96 tasks, 64 of them near-empty
      // (measured: q110's heavy stages at 96 tasks, ~2/3 pure scheduling
      // overhead). Coalesce (narrow, no shuffle) back to the session's
      // parallelism before the signature projection persists.
      val e = tightAugmented(spark, dir)
        .coalesce(spark.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
      // The replicas are element transforms of base vectors, so the
      // corpus dimension IS the base dimension ([[embDim]]); the kernel
      // still throws on any row that disagrees.
      val dim = embDim(spark, dir)
      e.withColumn("sig", VF.srpSignature(col("embedding"), 64, dim))
        .withColumn("sig2", VF.srpSignatureHi(col("embedding"), 64, dim))
    }

  /** Exact-duplicate fan-out of the q110 corpus: Σ c·(c−1) / n over
    * exact-embedding groups of size c — the average number of extra
    * same-key partners per row that exact cliques alone would push into
    * EVERY band bucket. One aggregate over the already-cached signature
    * relation (VERDICT r17 #3); cached per (session, corpus) and
    * released with q110's sweep slot. Grouping on the exact vector (not
    * the 128-bit signature) measures precisely the mass the canonical
    * route below can remove — signature-only collisions from
    * near-identical-but-distinct vectors are real near-dups no exact
    * dedup can (or should) collapse.
    */
  private[queries] def srpTightDupFanout(spark: org.apache.spark.sql.SparkSession,
      dir: String): Double =
    graft.pipeline.SessionCache.getOrBuildValue(spark, s"srpTightDupMass:$dir") {
      val r = srpSignaturesTight(spark, dir)
        .groupBy(col("embedding")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n"), sum(col("c") * (col("c") - lit(1L))).as("extra"))
        .head()
      java.lang.Double.valueOf(
        if (r.isNullAt(0) || r.getLong(0) == 0L) 0.0
        else r.getLong(1).toDouble / r.getLong(0).toDouble)
    }.doubleValue()

  /** The exact-dedup canonical representative set of the q110 corpus —
    * q40's md5-canonical selection re-expressed on embeddings: one row
    * per distinct vector, lowest vec_id wins (deterministic). Spelled
    * as a min-aggregate rather than a row_number window: every
    * non-key column of a clique is IDENTICAL by definition (sig/nrm
    * are functions of the vector), so `first` is deterministic, the
    * partial aggregation combines map-side, and a pathological
    * billion-row clique — exactly the corpus shape that activates this
    * guard — never lands on one partition to be sorted (the window
    * form would).
    */
  private[queries] def srpSignaturesTightCanonical(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.pipeline.SessionCache.getOrPersist(spark, s"srpsigTightCanon:$dir") {
      srpSignaturesTight(spark, dir)
        .groupBy(col("embedding"))
        .agg(min(col("vec_id")).as("vec_id"), first(col("nrm")).as("nrm"),
          first(col("sig")).as("sig"), first(col("sig2")).as("sig2"))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("sig"), col("sig2"))
    }

  /** True when the dup-mass guard rerouted q110 through the canonical
    * set (exposed for the spec that pins the trigger).
    */
  private[queries] def srpTightGuardActive(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = srpTightDupFanout(spark, dir) > srpTightDupFanoutMax

  /** q110's signature relation AFTER the dup-mass guard (VERDICT r17
    * #3 — "run q40 before SRP on dup-heavy corpora" as engine behavior,
    * not advice): on a dup-heavy corpus the banded self-join runs over
    * exact-dedup representatives, so clique mass can't crowd the
    * enumeration budget into a deep low-recall rung; pairs are reported
    * between canonical ids (exact-dup membership is the q40/q55/q103
    * family's output, not a near-dup result). Inert (fan-out 0) on the
    * gate corpora; on dup-heavy corpora the oracle mirrors the reroute
    * ([[tightCorpusCte]]'s dupq/guarded CTEs), so q110 hash-verifies in
    * BOTH guard states.
    */
  private[queries] def srpSignaturesTightGuarded(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    if (srpTightGuardActive(spark, dir)) srpSignaturesTightCanonical(spark, dir)
    else srpSignaturesTight(spark, dir)

  private[queries] def srpCandidatesTight(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val sigs = srpSignaturesTightGuarded(spark, dir)
    val arm = graft.pipeline.SessionCache.getOrBuildValue(
      spark, s"srpTightArm:$dir")(Integer.valueOf(srpSelectArm(sigs, srpTightEnumBudget)))
    srpCandidatesForRung(sigs, arm.intValue(), srpTightHammingMax)
  }

  /** The SRP-LSH oracle, parameterized over the operating point
    * (exact-cosine threshold, hamming ceiling, per-vector enumeration
    * budget): q53 instantiates (0.45, 55, 1024), q110 the
    * similarity-targeted (0.8, 35, 65536). The ladder CASE mirrors
    * srpSelectArm's walk ONE-FOR-ONE: W1, N1, W2, N2, W3, N3, N4..N7,
    * else the narrow terminal.
    */
  private def srpOracleSql(thresh: Double, hmax: Int, budgetPerVec: Long,
      corpus: String = corpusCte): String = {
    val budget = s"$budgetPerVec * (SELECT count(*) FROM n)"
    def wideEnum(k: Int) =
      if (k == 1) s"""(SELECT coalesce(sum(d*(d-1)//2), 0)
                    FROM (SELECT count(*) AS d FROM wbands GROUP BY band, k0, k1))"""
      else s"""(SELECT coalesce(sum(d*(d-1)//2), 0)
                    FROM (SELECT count(*) AS d FROM wcombo$k GROUP BY bp, k0, k1))"""
    def narrowEnum(k: Int) =
      if (k == 1) s"""(SELECT coalesce(sum(d*(d-1)//2), 0)
                    FROM (SELECT count(*) AS d FROM wbands WHERE band < 8 GROUP BY band, k0))"""
      else s"""(SELECT coalesce(sum(d*(d-1)//2), 0)
                    FROM (SELECT count(*) AS d FROM combo$k GROUP BY bp, key))"""
    val ladderCase = (Seq(
      wideEnum(1) -> 11, narrowEnum(1) -> 1,
      wideEnum(2) -> 12, narrowEnum(2) -> 2,
      wideEnum(3) -> 13, narrowEnum(3) -> 3) ++
      (4 to 7).map(k => narrowEnum(k) -> k))
      .map { case (e, r) => s"WHEN $e <= $budget THEN $r" }
      .mkString("(CASE\n              ", "\n              ", "\n              ELSE 8 END)")
    s"""
        $corpus,
        sig AS (SELECT vec_id, v, nrm, ${VS.srpSignatureExpr("v", 64)} AS sig,
                       ${VS.srpSignatureHiExpr("v", 64)} AS sig2 FROM n),
        wbands AS (
          SELECT vec_id, sig, sig2, u.bk.band AS band, u.bk.k0 AS k0, u.bk.k1 AS k1
          FROM sig, (SELECT unnest(${VS.srpWideBandKeysExpr("sig", "sig2")}) AS bk) u),
        ${(2 to 3).map(k => s"""wcombo$k AS (
          SELECT vec_id, u.ck.bp AS bp, u.ck.k0 AS k0, u.ck.k1 AS k1
          FROM sig, (SELECT unnest(${VS.srpWideComboKeysExpr("sig", "sig2", k)}) AS ck) u)""")
          .mkString(",\n        ")},
        ${(2 to 7).map(k => s"""combo$k AS (
          SELECT vec_id, u.ck.bp AS bp, u.ck.key AS key
          FROM sig, (SELECT unnest(${VS.srpComboKeysExpr("sig", 8, 8, k)}) AS ck) u)""")
          .mkString(",\n        ")},
        rung AS (SELECT $ladderCase AS r),
        cand AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id
          FROM wbands a JOIN wbands b
            ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1 AND a.vec_id < b.vec_id
          WHERE bit_count(xor(a.sig, b.sig)) + bit_count(xor(a.sig2, b.sig2)) <= $hmax
          GROUP BY 1, 2
          HAVING (CASE WHEN (SELECT r FROM rung) >= 10
                  THEN count(*) >= (SELECT r FROM rung) - 10
                  ELSE count(*) FILTER (WHERE a.band < 8) >= (SELECT r FROM rung) END))
        SELECT c.a_id, c.b_id, round(${cosNN("sa", "sb")}, 6) AS cos
        FROM cand c
        JOIN sig sa ON sa.vec_id = c.a_id
        JOIN sig sb ON sb.vec_id = c.b_id
        WHERE ${cosNN("sa", "sb")} >= $thresh
        ORDER BY a_id, b_id"""
  }

  val all: Seq[QueryDef] = Seq(

    // ── Brute-force cosine top-k: every query scores the whole corpus.
    // Spark shape: broadcast the query batch, map-side cosine over the
    // corpus scan, shuffle only (q_id, neighbor, cos) for the per-query
    // top-k window — the embedding arrays never shuffle. At 100 TB this
    // is the exact/recall-1.0 baseline; q51 is the pruned path.
    QueryDef(
      "q50_knn_brute",
      Some(s"""
        $corpusCte
        SELECT q_id, neighbor_id, rnk, cos FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY ${cosNN("q", "c")} DESC, c.vec_id) AS rnk,
                 round(${cosNN("q", "c")}, 6) AS cos
          FROM n q JOIN n c ON c.vec_id != q.vec_id
          WHERE q.vec_id < 5)
        WHERE rnk <= 10 ORDER BY q_id, rnk"""))( (spark, dir) => {
      val e = embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("nrm").as("qn"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          (VF.dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("c"))
      topKByCos(scored, 10)
    }),

    // ── IVF-style pruned KNN: K = clamp(64, 65536, 4√n) min-hash-
    // sampled anchors (see [[anchorKFor]] — corpus-scaled, VERDICT r15
    // #2) partition the corpus into nearest-anchor cells; a query
    // scores only its own cell (nprobe=1 — the max-pruning/latency
    // path; q54/q49 run the scaled-probe operating point). The anchor
    // set is collected to the driver (the IVF centroid set is always
    // driver-held — capped at 65536 × dim floats) and cell assignment
    // is ONE codegen'd map-side projection
    // ([[NearestCellsTwoLevel]] at kc = 1): the corpus embedding
    // column never enters a shuffle. At scale the corpus can be written
    // bucketed-by-cell and each query reads ~1/n_cells of the data.
    // Recall < 1 by design — the oracle mirrors the same pipeline, so the
    // tradeoff itself is verified.
    QueryDef(
      "q51_ivf_knn",
      Some(s"""
        $corpusCte,
        $anchorsCte,
        cells AS (
          SELECT vec_id, label, v, nrm, a_id AS cell FROM (
            SELECT c.*, a.a_id,
                   row_number() OVER (PARTITION BY c.vec_id
                     ORDER BY (${VS.dotExpr("c.v", "a.av")} / (c.nrm * a.anrm)) DESC, a.a_id) AS arnk
            FROM n c, anchors a)
          WHERE arnk = 1)
        SELECT q_id, neighbor_id, rnk, cos FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY ${cosNN("q", "c")} DESC, c.vec_id) AS rnk,
                 round(${cosNN("q", "c")}, 6) AS cos
          FROM cells q JOIN cells c ON q.cell = c.cell AND c.vec_id != q.vec_id
          WHERE q.vec_id < 5)
        WHERE rnk <= 5 ORDER BY q_id, rnk"""),
      releases = Nil)( (spark, dir) => {
      val e = embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
      val idx = annIndex(spark, dir)
      val anchors = idx.anchors
      val cells = e.withColumn("cell",
        element_at(NearestCellsTwoLevel.column(col("embedding"), col("nrm"), anchors, kc = 1), 1))
      val q = cells.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("cell").as("qcell"))
      val scored = cells.join(broadcast(q),
          col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          (VF.dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("c"))
      topKByCos(scored, 5)
    }),

    // ── IVF at the scaled operating point, nprobe = ⌈K/64⌉: the
    // recall/cost dial real IVF serving needs, now DERIVED from the
    // corpus alongside K (VERDICT r15 #2). Corpus vectors stay in their
    // single nearest-anchor cell (the same map-side kc = 1 projection
    // as q51); each QUERY probes its p nearest cells (nf = p on the
    // already-filtered tiny query batch) and
    // scores their union — ~p·n/K ≈ n/64 rows, the same scan budget as
    // the old fixed-64 single probe, spent at √n-finer quantizer
    // resolution. The oracle mirrors the whole pipeline (including the
    // k/p derivation), so the tradeoff itself is verified.
    QueryDef(
      "q54_ivf_nprobe",
      Some(s"""
        $corpusCte,
        $anchorsCte,
        ranked AS (
          SELECT c.vec_id, c.label, c.v, c.nrm, a.a_id,
                 row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY (${VS.dotExpr("c.v", "a.av")} / (c.nrm * a.anrm)) DESC, a.a_id) AS arnk
          FROM n c, anchors a),
        cells AS (SELECT vec_id, label, v, nrm, a_id AS cell FROM ranked WHERE arnk = 1),
        probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, a_id AS cell
                   FROM ranked, pq WHERE arnk <= p AND vec_id < 5)
        SELECT q_id, neighbor_id, rnk, cos FROM (
          SELECT p.q_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY p.q_id
                                    ORDER BY (${VS.dotExpr("p.qv", "c.v")} / (p.qn * c.nrm)) DESC, c.vec_id) AS rnk,
                 round(${VS.dotExpr("p.qv", "c.v")} / (p.qn * c.nrm), 6) AS cos
          FROM probes p JOIN cells c ON c.cell = p.cell AND c.vec_id != p.q_id)
        WHERE rnk <= 5 ORDER BY q_id, rnk"""),
      // embN releases HERE only: q54 is the last IVF consumer in the
      // harnesses' sorted sweep order (q109 < q49 < q51 < q54), so the
      // cached corpus count survives across all four within a sweep
      // (ADVICE r17 #3 — releasing on each consumer re-ran the count).
      // annIndex rides the same slot: q54 is its last consumer too.
      releases = Seq("embN", "annIndex"))( (spark, dir) => {
      val e = embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
      val idx = annIndex(spark, dir)
      val kk = idx.k
      val anchors = idx.anchors
      val cells = e.withColumn("cell",
        element_at(NearestCellsTwoLevel.column(col("embedding"), col("nrm"), anchors, kc = 1), 1))
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("nrm").as("qn"),
          explode(NearestCellsTwoLevel.column(col("embedding"), col("nrm"), anchors,
            kc = 1, nf = nprobeFor(kk))).as("qcell"))
      val scored = cells.join(broadcast(probes),
          col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          (VF.dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("c"))
      topKByCos(scored, 5)
    }),

    // ── TWO-LEVEL IVF: the beyond-the-cap scale path anchorKFor's cap
    // points at. Level 1 routes each vector to its nearest of Kc =
    // ⌈√K⌉ coarse anchors (the first Kc fine anchors by hash rank — a
    // nested subset, no second anchor family); level 2 to its nearest
    // fine anchor among that coarse cell's fine anchors (fine→coarse
    // routing computed once on the driver with the same scoring fold).
    // Assignment cost per row is O((Kc + K/Kc)·dim) ≈ O(2√K·dim) — at
    // the 65536 cap, 512 anchor dots instead of 65536, which is what
    // lets K keep growing past a flat scan's budget. Routing is
    // hierarchical, not flat-best (a vector's overall-nearest fine
    // anchor may live under another coarse cell) — the classical
    // two-level recall trade, bought back by coarse MULTI-PROBE on
    // BOTH sides (VERDICT r16 #2): corpus rows assign through their
    // ac = 6 nearest coarse cells (the sf10 grid showed hierarchical
    // MISASSIGNMENT, not probe selection, dominated the loss), and
    // each query probes its wc = ⌈2kc/5⌉ nearest coarse cells keeping
    // the p best fine cells within them (p = nprobeFor(K), the scaled
    // flat path's probe count) — scan budget ~p·n/K corpus rows,
    // EQUAL to q54's flat scaled point, while assignment stays
    // O((Kc + ac·K/Kc)·dim).
    // The oracle mirrors all four ranking levels as windows (fine→
    // coarse routing, corpus lvl1/lvl2, query crnk ≤ wc, frnk ≤ p),
    // so the routing tree AND the probe set are verified. One native
    // kernel, NearestCellsTwoLevel, serves both sides (assignment:
    // ac = 6, nf = 1; probe: ac = wc, nf = p) and keeps embeddings out
    // of every exchange exactly like the flat kc = 1 path. Recall at equal
    // scan budget vs the flat scaled path is measured at sf1/sf10 by
    // tools/ivf_scale_probe.py two_level (IVF_TWOLEVEL_r17.json).
    QueryDef(
      "q109_ivf_twolevel",
      Some(s"""
        $corpusCte,
        $anchorsCte,
        kcq AS (SELECT 2 * CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS kc FROM kq),
        wcq AS (SELECT (2 * kc + 4) // 5 AS wc FROM kcq),
        coarse AS (SELECT a_id AS c_id, av AS cv, anrm AS cnrm
                   FROM anchors, kcq WHERE hrnk <= kc),
        froute AS (
          SELECT a_id, av, anrm, c_id FROM (
            SELECT f.a_id, f.av, f.anrm, c.c_id,
                   row_number() OVER (PARTITION BY f.a_id
                     ORDER BY (${VS.dotExpr("f.av", "c.cv")} / (f.anrm * c.cnrm)) DESC, c.c_id) AS crnk
            FROM anchors f, coarse c)
          WHERE crnk = 1),
        kcoarse AS (SELECT DISTINCT fr.c_id, c.cv, c.cnrm
                    FROM froute fr JOIN coarse c ON c.c_id = fr.c_id),
        lvl1 AS (
          SELECT vec_id, v, nrm, c_id FROM (
            SELECT n.vec_id, n.v, n.nrm, c.c_id,
                   row_number() OVER (PARTITION BY n.vec_id
                     ORDER BY (${VS.dotExpr("n.v", "c.cv")} / (n.nrm * c.cnrm)) DESC, c.c_id) AS crnk
            FROM n, kcoarse c)
          WHERE crnk <= 6),
        cells AS (
          SELECT vec_id, v, nrm, cell FROM (
            SELECT l.vec_id, l.v, l.nrm, f.a_id AS cell,
                   row_number() OVER (PARTITION BY l.vec_id
                     ORDER BY (${VS.dotExpr("l.v", "f.av")} / (l.nrm * f.anrm)) DESC, f.a_id) AS frnk
            FROM lvl1 l JOIN froute f ON f.c_id = l.c_id)
          WHERE frnk = 1),
        qprobe AS (
          SELECT q_id, qv, qn, c_id FROM (
            SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qn, c.c_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY (${VS.dotExpr("q.v", "c.cv")} / (q.nrm * c.cnrm)) DESC, c.c_id) AS crnk
            FROM n q, kcoarse c WHERE q.vec_id < 5), wcq
          WHERE crnk <= wc),
        fprobe AS (
          SELECT q_id, qv, qn, cell FROM (
            SELECT qp.q_id, qp.qv, qp.qn, f.a_id AS cell,
                   row_number() OVER (PARTITION BY qp.q_id
                     ORDER BY (${VS.dotExpr("qp.qv", "f.av")} / (qp.qn * f.anrm)) DESC, f.a_id) AS frnk
            FROM qprobe qp JOIN froute f ON f.c_id = qp.c_id), pq
          WHERE frnk <= p)
        SELECT q_id, neighbor_id, rnk, cos FROM (
          SELECT fp.q_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY fp.q_id
                                    ORDER BY (${VS.dotExpr("fp.qv", "c.v")} / (fp.qn * c.nrm)) DESC, c.vec_id) AS rnk,
                 round(${VS.dotExpr("fp.qv", "c.v")} / (fp.qn * c.nrm), 6) AS cos
          FROM fprobe fp JOIN cells c ON c.cell = fp.cell AND c.vec_id != fp.q_id)
        WHERE rnk <= 5 ORDER BY q_id, rnk"""),
      releases = Nil)( (spark, dir) => {
      val e = embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
      val idx = annIndex(spark, dir)
      val kk = idx.k
      val anchors = idx.anchors // hash-rank order (the oracle's hrnk)
      // The measured operating point (200-query numpy grid at sf10, r17;
      // full grid in IVF_TWOLEVEL_r17.json): kc = 2⌈√K⌉ (finer coarse
      // level than the textbook ⌈√K⌉ — halves per-cell fine count, the
      // dominant misassignment term on this concentration-of-measure
      // corpus), ac = 6 assignment probes, wc = ⌈2kc/5⌉ query coarse
      // probes (integer-exact in both engines), p fine cells = the flat
      // scaled path's nprobe. Recall ratio vs flat at ~equal scan:
      // 1.02 at sf1, 0.945 at sf10 (flat 0.345 → two-level 0.326 at
      // 1.05× scanned rows). Every dial derives from the clamped K, so
      // engine and oracle agree on corpora of any size (ADVICE r16 #1);
      // the min() clamps only bind below K, where the oracle's
      // hrnk <= kc filter takes all n anchors anyway.
      val kcRaw = 2L * math.ceil(math.sqrt(kk.toDouble)).toLong
      val kc = math.min(kcRaw, anchors.size.toLong).toInt
      val p = nprobeFor(kk)
      val wc = ((2L * kcRaw + 4L) / 5L).toInt
      val cells = e.withColumn("cell", element_at(
        NearestCellsTwoLevel.column(
          col("embedding"), col("nrm"), anchors, kc, ac = 6, route = Some(idx.route)), 1))
      val qc = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("nrm").as("qn"),
          explode(NearestCellsTwoLevel.column(
            col("embedding"), col("nrm"), anchors, kc, ac = wc, route = Some(idx.route),
            nf = p)).as("qcell"))
      val scored = cells.join(broadcast(qc),
          col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          (VF.dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("c"))
      topKByCos(scored, 5)
    }),

    // ── BEYOND-CAP operating mode (VERDICT r17 #2 / r18 #3,
    // IVF_CAP_r18+r19): keep q109's two-level CORPUS assignment (the
    // 51× per-row saving at K = 65536 — that cost is per corpus row),
    // rank query probes DIRECTLY over all K fine anchors (q54's flat
    // probe window — K dots per QUERY, affordable because queries are
    // few), AND multi-assign each corpus row to its top-2 fine cells in
    // the ac-coarse union with nprobe halved — the (a)+(b) dial pair,
    // PROMOTED in r19 after the r18 adjudication ask: recall ratio vs
    // flat 0.955 at 61% of the scanned rows (vs 0.959 at full scan for
    // (b) alone; coarse-routed probe was 0.857). In this engine's shape
    // the "2× index" cost of multi-assignment is a transient exploded
    // relation feeding a broadcast-hash probe — the persisted index
    // stores anchors + route only — so the trade is 2n cheap hash
    // probes for a 39% smaller candidate scan, the right direction at
    // every corpus scale. Duplicate candidates (a row whose two cells
    // both land in a query's probe set) are deduped on (q_id, neighbor)
    // BEFORE the top-5 window in both engines; the dup rows carry
    // bit-identical cosines, so the dedup is value-deterministic.
    QueryDef(
      "q111_ivf_cap_directprobe",
      Some(s"""
        $corpusCte,
        $anchorsCte,
        phq AS (SELECT GREATEST(1, CAST(floor(p / 2.0) AS BIGINT)) AS ph FROM pq),
        kcq AS (SELECT 2 * CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS kc FROM kq),
        coarse AS (SELECT a_id AS c_id, av AS cv, anrm AS cnrm
                   FROM anchors, kcq WHERE hrnk <= kc),
        froute AS (
          SELECT a_id, av, anrm, c_id FROM (
            SELECT f.a_id, f.av, f.anrm, c.c_id,
                   row_number() OVER (PARTITION BY f.a_id
                     ORDER BY (${VS.dotExpr("f.av", "c.cv")} / (f.anrm * c.cnrm)) DESC, c.c_id) AS crnk
            FROM anchors f, coarse c)
          WHERE crnk = 1),
        kcoarse AS (SELECT DISTINCT fr.c_id, c.cv, c.cnrm
                    FROM froute fr JOIN coarse c ON c.c_id = fr.c_id),
        lvl1 AS (
          SELECT vec_id, v, nrm, c_id FROM (
            SELECT n.vec_id, n.v, n.nrm, c.c_id,
                   row_number() OVER (PARTITION BY n.vec_id
                     ORDER BY (${VS.dotExpr("n.v", "c.cv")} / (n.nrm * c.cnrm)) DESC, c.c_id) AS crnk
            FROM n, kcoarse c)
          WHERE crnk <= 6),
        cells AS (
          SELECT vec_id, v, nrm, cell FROM (
            SELECT l.vec_id, l.v, l.nrm, f.a_id AS cell,
                   row_number() OVER (PARTITION BY l.vec_id
                     ORDER BY (${VS.dotExpr("l.v", "f.av")} / (l.nrm * f.anrm)) DESC, f.a_id) AS frnk
            FROM lvl1 l JOIN froute f ON f.c_id = l.c_id)
          WHERE frnk <= 2),
        probes AS (
          SELECT q_id, cell FROM (
            SELECT q.vec_id AS q_id, a.a_id AS cell,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY (${VS.dotExpr("q.v", "a.av")} / (q.nrm * a.anrm)) DESC, a.a_id) AS arnk
            FROM n q, anchors a WHERE q.vec_id < 5), phq
          WHERE arnk <= ph),
        cand AS (
          SELECT DISTINCT p.q_id, c.vec_id AS neighbor_id
          FROM probes p JOIN cells c ON c.cell = p.cell AND c.vec_id != p.q_id)
        SELECT q_id, neighbor_id, rnk, cos FROM (
          SELECT d.q_id, d.neighbor_id,
                 row_number() OVER (PARTITION BY d.q_id
                                    ORDER BY (${VS.dotExpr("q.v", "c.v")} / (q.nrm * c.nrm)) DESC, d.neighbor_id) AS rnk,
                 round(${VS.dotExpr("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cos
          FROM cand d JOIN n q ON q.vec_id = d.q_id
                      JOIN n c ON c.vec_id = d.neighbor_id)
        WHERE rnk <= 5 ORDER BY q_id, rnk"""),
      releases = Nil)( (spark, dir) => {
      val e = embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
      val idx = annIndex(spark, dir)
      val kk = idx.k
      val anchors = idx.anchors
      val kc = annKc(kk, anchors.size)
      val p = nprobeFor(kk)
      val ph = math.max(1, p / 2)
      val cells = e.withColumn("cell", explode(
        NearestCellsTwoLevel.column(
          col("embedding"), col("nrm"), anchors, kc, ac = 6, route = Some(idx.route),
          nf = 2)))
      val qc = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("nrm").as("qn"),
          explode(NearestCellsTwoLevel.column(
            col("embedding"), col("nrm"), anchors, kc = 1, nf = ph)).as("qcell"))
      // Dedup on the scored narrow relation, not the vector-carrying
      // one: dup (q_id, neighbor) rows carry bit-identical cosines, so
      // the arbitrary keep is value-deterministic and embeddings never
      // enter the dedup exchange.
      val scored = cells.join(broadcast(qc),
          col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          (VF.dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("c"))
        .dropDuplicates(Seq("q_id", "neighbor_id"))
      topKByCos(scored, 5)
    }),

    // ── ANN recall measurement: recall@5 of the IVF SCALED OPERATING
    // POINT — K = anchorKFor(n) cells, nprobe = ⌈K/64⌉ (the q54
    // configuration) — against brute-force ground truth, per query: the
    // evaluation loop every ANN deployment runs before trusting a
    // pruned index, here as a first-class in-engine query rather than
    // an offline notebook. Both arms share the scan shapes proven by
    // q50/q54 (broadcast query batch; map-side kc = 1 cell
    // assignment; embeddings never shuffle) and the truth arm is linear
    // in the corpus — at scale this runs on a sampled query set, which
    // is exactly what the vec_id < 5 batch models. Ties beyond rank 5
    // are broken by vec_id in BOTH arms (and in the oracle), so recall
    // is well-defined and exact.
    QueryDef(
      "q49_ann_recall",
      Some(s"""
        $corpusCte,
        $anchorsCte,
        ranked AS (
          SELECT c.vec_id, c.v, c.nrm, a.a_id,
                 row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY (${VS.dotExpr("c.v", "a.av")} / (c.nrm * a.anrm)) DESC, a.a_id) AS arnk
          FROM n c, anchors a),
        cells AS (SELECT vec_id, v, nrm, a_id AS cell FROM ranked WHERE arnk = 1),
        probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, a_id AS cell
                   FROM ranked, pq WHERE arnk <= p AND vec_id < 5),
        truth AS (
          SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY ${cosNN("q", "c")} DESC, c.vec_id) AS rnk
            FROM n q JOIN n c ON c.vec_id != q.vec_id
            WHERE q.vec_id < 5)
          WHERE rnk <= 5),
        approx AS (
          SELECT q_id, neighbor_id FROM (
            SELECT p.q_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.q_id
                                      ORDER BY (${VS.dotExpr("p.qv", "c.v")} / (p.qn * c.nrm)) DESC, c.vec_id) AS rnk
            FROM probes p JOIN cells c ON c.cell = p.cell AND c.vec_id != p.q_id)
          WHERE rnk <= 5)
        SELECT t.q_id, count(a.neighbor_id) AS n_hit,
               round(count(a.neighbor_id) / 5.0, 6) AS recall
        FROM truth t
        LEFT JOIN approx a ON a.q_id = t.q_id AND a.neighbor_id = t.neighbor_id
        GROUP BY t.q_id ORDER BY t.q_id"""),
      releases = Nil)( (spark, dir) => {
      val e = embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
      val idx = annIndex(spark, dir)
      val kk = idx.k
      val anchors = idx.anchors
      def top5(scored: DataFrame): DataFrame =
        topKByCos(scored, 5).select(col("q_id"), col("neighbor_id"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("nrm").as("qn"))
      val truth = top5(e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          (VF.dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("c")))
      val cells = e.withColumn("cell",
        element_at(NearestCellsTwoLevel.column(col("embedding"), col("nrm"), anchors, kc = 1), 1))
      val qc = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("nrm").as("qn"),
          explode(NearestCellsTwoLevel.column(col("embedding"), col("nrm"), anchors,
            kc = 1, nf = nprobeFor(kk))).as("qcell"))
      val approx = top5(cells.join(broadcast(qc),
          col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          (VF.dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("c")))
      truth.join(approx.withColumn("hit", lit(1)), Seq("q_id", "neighbor_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("hit")).as("n_hit"))
        .select(col("q_id"), col("n_hit"), round(col("n_hit") / 5.0, 6).as("recall"))
        .orderBy(col("q_id"))
    }),

    // ── Embedding-cosine near-dup pairs (completes the dedup family):
    // all pairs with cosine ≥ 0.45 (testdata max is ~0.513, next-below-
    // threshold ~0.449 — margin >1e-3 against the bitwise-matched fold).
    //
    // This is the RECALL-1.0 exact baseline, so the plan must be an
    // exact all-pairs — but not the BNLJ-with-arrays-aboard shape (which
    // broadcasts a whole corpus side and nests interpreted per-pair
    // expression eval). Instead: BLOCK-PARTITIONED all-pairs. Each
    // vector lands in block id%B and is shuffled once to each of its B
    // unordered block-pairs {p,q}; one task per block-pair runs a tight
    // primitive kernel (same fold order as [[VectorDot]], so results are
    // bitwise identical to the Column form and the oracle). Replication
    // is exactly B× (tunable: pick B so 2n/B vectors fit one task's
    // memory and B(B+1)/2 ≳ the cluster's task slots), work is evenly
    // spread, and no corpus-sized broadcast exists. The O(n²) compute is
    // the honest price of exactness — the SUBLINEAR path at a real dedup
    // threshold is q53's SRP-LSH. (SRP candidates can NOT serve here:
    // at this weak threshold cos≈0.45 ⇒ per-bit agreement only ~0.66,
    // and the measured ≥2-of-8-band recall is 26/144 threshold pairs —
    // any LSH-candidate plan would simply be wrong vs the exact oracle.)
    QueryDef(
      "q44_embedding_neardup",
      Some(s"""
        $corpusCte
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, round(${cosNN("a", "b")}, 6) AS cos
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE ${cosNN("a", "b")} >= 0.45
        ORDER BY a_id, b_id"""))( (spark, dir) => {
      import spark.implicits._
      // B is the task-memory/parallelism dial the plan comment promises:
      // each block-pair task holds ~2n/B vectors and there are B(B+1)/2
      // tasks, so production sets graft.similarity.blocks from
      // corpus_rows×row_bytes/task_memory. 8 suits the harness corpus.
      val nBlocks = spark.conf.getOption("graft.similarity.blocks").map { v =>
        val n = try v.toInt catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"graft.similarity.blocks must be an int, got '$v'")
        }
        require(n > 0, s"graft.similarity.blocks must be positive, got $n")
        n
      }.getOrElse(8)
      val thresh = 0.45
      val e = embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
        .as[(Long, Array[Float], Double)]
      // Replicate each vector to its B unordered block-pairs, keyed
      // canonically p*B+q (p ≤ q); o == b contributes the diagonal pair
      // exactly once.
      val repl = e.flatMap { case (id, v, nrm) =>
        val b = (id % nBlocks).toInt
        (0 until nBlocks).iterator.map { o =>
          val p = math.min(b, o); val q = math.max(b, o)
          (p * nBlocks + q, b, id, v, nrm)
        }
      }
      val pairs = repl.groupByKey(_._1).flatMapGroups { (key, it) =>
        val p = key / nBlocks; val q = key % nBlocks
        val rows = it.toArray
        // Bitwise-identical to VectorDot's fold: sequential float→double
        // widening, double accumulation, then /(na*nb) — one multiply,
        // one divide, same order as the Column expression it replaces.
        def cosOf(va: Array[Float], na: Double, vb: Array[Float], nb: Double): Double = {
          val n = math.min(va.length, vb.length)
          var acc = 0.0
          var i = 0
          while (i < n) { acc += va(i).toDouble * vb(i).toDouble; i += 1 }
          acc / (na * nb)
        }
        def emit(x: (Int, Int, Long, Array[Float], Double),
                 y: (Int, Int, Long, Array[Float], Double)): Option[(Long, Long, Double)] = {
          val c = cosOf(x._4, x._5, y._4, y._5)
          if (c >= thresh) {
            Some(if (x._3 < y._3) (x._3, y._3, c) else (y._3, x._3, c))
          } else None
        }
        if (p == q) {
          // Intra-block: each unordered pair once (i < j).
          rows.indices.iterator.flatMap { i =>
            (i + 1 until rows.length).iterator.flatMap(j => emit(rows(i), rows(j)))
          }
        } else {
          val ps = rows.filter(_._2 == p); val qs = rows.filter(_._2 == q)
          ps.iterator.flatMap(x => qs.iterator.flatMap(y => emit(x, y)))
        }
      }
      pairs.toDF("a_id", "b_id", "c")
        .select(col("a_id"), col("b_id"), round(col("c"), 6).as("cos"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ── SRP-LSH near-dup: the SCALE path for q44's brute force. 64
    // sign-random-projection bits per vector (one native SrpSignature
    // kernel call, DECORRELATED planes — see srpPlane's r11 note: the
    // old affine plane family's correlated bits collapsed signature
    // entropy and blew the sf10 candidate join), 8 bands × 8 bits at a
    // measured-occupancy-selected operating point (srpEnumBudget, oracle
    // CASE): the rung ladder — any-band while enumeration fits the
    // budget, ≥2-of-8 via 16-bit pair keys, ≥3-of-8 via 24-bit triple
    // keys (the r12 sf100 rehearsal rung: 425 pairs/vector of verify
    // traffic ENOSPC'd the pair rung at 2M vectors), and on up through
    // ≥k-of-8 combo keys to the full-signature rung 8 (the r13
    // decade-3.5 lesson: the UNPROBED triple terminal went quadratic by
    // 6M vectors, and composition saturates at rung ~4 on this corpus —
    // only near-full-signature rungs discriminate the sub-threshold
    // cluster mass; measured ladder in srpSelectArm's scaladoc).
    //
    // The testdata's "near-dups" sit at cos ≈ 0.45–0.51 — a weak-
    // similarity regime where every LSH family trades recall against
    // pruning on this curve (bit-match prob ≈ 0.66/bit): with honest
    // planes, any-of-8 catches 35/144 threshold pairs at sf0.1 for
    // ~3% candidates, while ≥2-of-8 catches only 4/144 — hence
    // recall-first below the cutoff, where candidate volume is bounded
    // anyway. At a real dedup threshold (cos ≥ 0.9 ⇒ ≥ 0.97/bit) the
    // ≥2-of-8 arm admits ~0.04% of random pairs while catching ~86% of
    // true pairs — bands/bitsPerBand/minMatches/cutoff are the
    // operating-point knobs. Exact-cosine verify runs on candidates
    // only; pairs here ⊆ q44's pairs by construction, and the oracle
    // mirrors the whole pipeline, so the recall tradeoff is itself
    // verified.
    QueryDef(
      "q53_srp_lsh",
      Some(srpOracleSql(0.45, srpHammingMax, srpEnumBudget)),
      releases = Seq("srpsig", "srpArm"))( (spark, dir) =>
      srpCandidates(spark, dir)
        .join(srpSignatures(spark, dir)
          .select(col("vec_id").as("a_id"), col("embedding").as("av"), col("nrm").as("an")), "a_id")
        .join(srpSignatures(spark, dir)
          .select(col("vec_id").as("b_id"), col("embedding").as("bv"), col("nrm").as("bn")), "b_id")
        .withColumn("c", VF.dot(col("av"), col("bv")) / (col("an") * col("bn")))
        .filter(col("c") >= 0.45)
        .select(col("a_id"), col("b_id"), round(col("c"), 6).as("cos"))
        .orderBy(col("a_id"), col("b_id"))),

    // ── SRP-LSH at the HIGH-COSINE deployment point (τ = 0.8): same
    // machinery as q53 — 128-bit signatures, the recall-ordered rung
    // ladder, hamming-gated candidates, exact-cosine verify — at the
    // similarity-targeted (hamming 35, budget 65536) operating point
    // derived in [[srpTightThreshold]]'s scaladoc. The oracle mirrors
    // the whole pipeline including the retargeted ladder CASE, so the
    // operating point itself is verified; per-band recall at sf10 is
    // measured on synthesized planted pairs (SRP_SYNTH_r17 artifact).
    QueryDef(
      "q110_srp_highcos",
      Some(srpOracleSql(srpTightThreshold, srpTightHammingMax, srpTightEnumBudget,
        tightCorpusCte)),
      // srpTightDupMass deliberately NOT released: it is immutable
      // per-corpus metadata (one Double) whose aggregate costs a full
      // signature-relation pass — releasing it per sweep re-billed that
      // job to every sweep's q110 (+1.6 s cache_build at sf0.1, caught
      // in the r18 bench). The multi-GB relations still release.
      releases = Seq("srpsigTight", "srpTightArm",
        "srpsigTightCanon"))( (spark, dir) =>
      srpCandidatesTight(spark, dir)
        .join(srpSignaturesTight(spark, dir)
          .select(col("vec_id").as("a_id"), col("embedding").as("av"), col("nrm").as("an")), "a_id")
        .join(srpSignaturesTight(spark, dir)
          .select(col("vec_id").as("b_id"), col("embedding").as("bv"), col("nrm").as("bn")), "b_id")
        .withColumn("c", VF.dot(col("av"), col("bv")) / (col("an") * col("bn")))
        .filter(col("c") >= srpTightThreshold)
        .select(col("a_id"), col("b_id"), round(col("c"), 6).as("cos"))
        .orderBy(col("a_id"), col("b_id"))),


    // ── Per-label centroid + intra-cluster cohesion: element-wise mean
    // vector per label via the native VectorAvg aggregate (one map-side-
    // combined pass; the buffer is [count, sums…], so one (dim+1)-double
    // buffer shuffles per label×partition — no posexplode, no (label,dim)
    // shuffle, no collect_list re-pack), then the average cosine of
    // members to their own centroid. The oracle keeps the declarative
    // dim-wise avg spec.
    QueryDef(
      "q52_label_centroid",
      Some(s"""
        WITH x AS (
          SELECT label, u.i AS dim, u.x AS x
          FROM embeddings,
               (SELECT unnest(generate_series(1, len(embedding))) AS i,
                       unnest(list_transform(embedding, e -> e::DOUBLE)) AS x) u),
        cent AS (
          SELECT label, list(a ORDER BY dim) AS cv
          FROM (SELECT label, dim, avg(x) AS a FROM x GROUP BY 1, 2)
          GROUP BY label)
        SELECT e.label,
               count(*) AS n,
               round(avg(${VS.dotExpr("e.embedding", "c.cv")} /
                         (${VS.normExpr("e.embedding")} * ${VS.normExpr("c.cv")})), 6) AS avg_cos
        FROM embeddings e JOIN cent c ON e.label = c.label
        GROUP BY e.label ORDER BY e.label"""))( (spark, dir) => {
      val e = embeddings(spark, dir)
      val cent = e.groupBy(col("label"))
        .agg(org.apache.spark.sql.graft.VectorAvg.column(col("embedding")).as("cv"))
      e.join(broadcast(cent), "label")
        .withColumn("c", VF.cosine(col("embedding"), col("cv")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), round(avg(col("c")), 6).as("avg_cos"))
        .orderBy(col("label"))
    }),

    // ── Semantic decontamination: the embedding-space counterpart of
    // q59's n-gram probe. Eval items (the fixed-size [[EvalSet]] suite,
    // mirroring q59's eval convention) are the held-out benchmark; every training vector
    // whose max cosine against ANY eval vector clears τ is flagged with
    // its closest eval item — the audit a training-data pipeline runs
    // before a corpus ships, catching paraphrased contamination n-gram
    // overlap misses. τ = 0.3 is calibrated to this corpus's cross-split
    // cosine tail (168 flagged of 436 at sf0.01, 788 of 1936 at sf0.1).
    // Spark shape: broadcast the eval side (an eval suite is thousands
    // of rows regardless of corpus size), map-side dot products over the
    // corpus scan, τ-filter BEFORE the aggregation — only (vec_id, cos,
    // eval_id) scalars for above-threshold pairs reach the shuffle, with
    // map-side partial max; corpus embeddings never shuffle. Equivalent
    // to the max-filter (max ≥ τ ⇔ ∃ pair ≥ τ, and dropped pairs can't
    // be the max). Ties on max cos resolve to the smallest eval_id via
    // lexicographic struct max on (cos, -eval_id) — mirrored exactly by
    // the oracle's min(eval_id)-at-max join.
    QueryDef(
      "q101_semantic_decon",
      Some(s"""
        $corpusCte,
        ev AS (SELECT * FROM n WHERE ${EvalSet.sqlEval("vec_id")}),
        tr AS (SELECT * FROM n WHERE ${EvalSet.sqlTrain("vec_id")}),
        hits AS (
          SELECT tr.vec_id, ev.vec_id AS eval_id, ${cosNN("tr", "ev")} AS c
          FROM tr JOIN ev ON ${cosNN("tr", "ev")} >= 0.3),
        mx AS (SELECT vec_id, max(c) AS mc FROM hits GROUP BY vec_id)
        SELECT h.vec_id, min(h.eval_id) AS eval_id, round(m.mc, 6) AS cos
        FROM hits h JOIN mx m ON h.vec_id = m.vec_id AND h.c = m.mc
        GROUP BY h.vec_id, m.mc ORDER BY h.vec_id"""))( (spark, dir) => {
      val e = embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
      val ev = e.filter(EvalSet.isEval(col("vec_id")))
        .select(col("vec_id").as("eval_id"), col("embedding").as("ev"),
          col("nrm").as("en"))
      e.filter(EvalSet.isTrain(col("vec_id")))
        .join(broadcast(ev))
        .withColumn("c", VF.dot(col("embedding"), col("ev")) / (col("nrm") * col("en")))
        .filter(col("c") >= 0.3)
        .groupBy(col("vec_id"))
        .agg(max(struct(col("c").as("c"), (-col("eval_id")).as("nid"))).as("m"))
        .select(col("vec_id"), (-col("m.nid")).as("eval_id"),
          round(col("m.c"), 6).as("cos"))
        .orderBy(col("vec_id"))
    })
  )
}
