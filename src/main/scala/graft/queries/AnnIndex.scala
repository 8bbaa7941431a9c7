package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession

import graft.pipeline.{Dag, InputTable, SessionCache}

/** The ANN serving index, materialized (VERDICT r17 #6): hash-rank
  * anchors plus the two-level fine→coarse route as a fingerprinted
  * InputTable, so a production serving session reads ≤ 65536 index rows
  * on start instead of re-deriving the index from a full corpus scan
  * (count + TakeOrdered) per session. The persisted `corpus_n` seeds
  * the cached corpus count too — every IVF dial (K, nprobe, kc, wc)
  * derives from it, so a reuse tick runs ZERO full-corpus jobs before
  * the query plan itself.
  *
  * Staleness is structural via InputTable's fingerprint (source
  * embeddings files + this derivation text + version): a corpus change
  * moves the fingerprinted path, the stamp watch drops cached plans,
  * and the next ensure rebuilds — the same contract as the dedup
  * tables (`DedupTables.scala`).
  */
object AnnIndexTable extends InputTable(
    "ann_index", "embeddings",
    "anchors=topK(rank=((vec_id%1000003)*2654435761)%1000000007 asc, vec_id asc; " +
      "k=clamp(64,65536,4*floor(sqrt(n))))" +
      "|route=nearest-coarse(kc=min(2*ceil(sqrt(K)),|anchors|), " +
      "score=dot/(nrm*anrm) double-fold, ties->lower-id)" +
      "|cols=(a_id,av,anrm,hrnk,coarse_route,corpus_n)",
    version = 1) {

  protected def dag(sfDir: String): Seq[Dag.Stage] =
    Seq(Dag.Stage("ann_index", Nil, (s, _) => Similarity.annIndexRel(s, sfDir)))

  override protected def onReplaced(sfDir: String): Unit =
    SessionCache.releaseAll(s"annIndex:$sfDir")

  /** Reuse-path replay (the r13 q41 / r17 q80 invariant, enforced
    * sweep-wide by InputTableSeedSpec): a fresh build seeds embN as a
    * side effect of deriving the index; the reuse tick must reach the
    * same state — [[Similarity.annIndex]] seeds both entries from the
    * committed parquet without touching the corpus.
    */
  override def seedSessionCaches(spark: SparkSession, sfDir: String): Unit =
    materializedPath(sfDir).foreach { _ => Similarity.annIndex(spark, sfDir); () }
}

/** Incremental ingest against the PERSISTED index (VERDICT r17 #7 —
  * the IVF mirror of the streaming near-dup segment store): new vectors
  * are assigned to EXISTING cells map-only (one anchor-dot projection
  * per row, anchors broadcast inside the expression — no corpus scan,
  * no shuffle, no re-anchor), and the index re-anchors only when the
  * corpus has outgrown its quantizer resolution. That is the 100 TB
  * serving shape: appends are a map-only column, re-anchoring is a
  * scheduled index rebuild, never an ingest-path cost.
  */
object AnnIngest {

  /** Re-anchor slack: serve appends on the stale quantizer until the
    * corpus-scaled K(n) outgrows the index's K by 25%. anchorKFor moves
    * as 4⌊√n⌋, so 1.25× in K ≈ 1.56× in corpus rows — a 10% append
    * never trips it, a ~60% growth does. Below the threshold the
    * quantizer is merely slightly coarser than freshly-derived (recall
    * ratio pinned by AnnIngestSpec); past it the rebuild amortizes over
    * the rows that forced it.
    */
  val reanchorSlack = 1.25

  def needsReanchor(kIndex: Int, nTotal: Long): Boolean =
    Similarity.anchorKFor(nTotal) > kIndex * reanchorSlack

  /** Map-only cell assignment of an append batch through the persisted
    * index's anchors: (vec_id, cell). The anchors ride in the
    * expression (driver-held, ≤ 65536 rows from the index table) — the
    * batch is the only distributed input.
    */
  def assignBatch(spark: SparkSession, dir: String,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val idx = Similarity.annIndex(spark, dir)
    batch
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("embedding")))
      .withColumn("cell", element_at(org.apache.spark.sql.graft.NearestCellsTwoLevel
        .column(col("embedding"), col("nrm"), idx.anchors, kc = 1), 1))
      .select(col("vec_id"), col("cell"))
  }
}
