package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The servable ANN ingest path (VERDICT r18 #1): appended vectors are
  * committed as segments, served in the same top-k as the base corpus
  * WITHOUT re-anchoring, retried idempotently per batchId, rehydrated
  * across a restart, and folded + reassigned under fresh anchors at the
  * re-anchor tick — with full-probe serving pinned ROW-IDENTICAL to
  * brute force over base ∪ appends at every stage (the union plumbing
  * can neither lose nor double-serve a vector without failing it).
  */
class AnnServeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _
  private var statePath: String = _
  private val dim = 16
  private val nBase = 400

  private def unit(rnd: scala.util.Random): Array[Float] = {
    val v = Array.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private var baseVecs: IndexedSeq[(Long, Array[Float])] = _
  private val appended = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rnd = new scala.util.Random(7)
    baseVecs = (0 until nBase).map(i => (i.toLong, unit(rnd)))
    dir = java.nio.file.Files.createTempDirectory("annserve").toString
    statePath = java.nio.file.Files.createTempDirectory("annserve-state").toString
    val s = spark; import s.implicits._
    baseVecs.map { case (id, v) => (id, v.toSeq, (id % 5).toInt) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The engine's exact cosine fold (sequential float→double widening,
    * one divide) so brute-force expectations share its bits.
    */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < dim) {
      acc += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    acc / (math.sqrt(na) * math.sqrt(nb))
  }

  private def bruteTop5(qId: Long, qv: Array[Float]): Seq[Long] = {
    val all = baseVecs ++ appended
    all.filter(_._1 != qId)
      .map { case (id, v) => (id, cos(qv, v)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(5).map(_._1)
  }

  private def queriesDf(ids: Seq[Long]): DataFrame = {
    val s = spark; import s.implicits._
    ids.map(i => (i, baseVecs(i.toInt)._2.toSeq)).toDF("q_id", "qv")
  }

  private def served(store: AnnIngestStore, ids: Seq[Long],
      full: Boolean): Map[Long, Seq[Long]] =
    store.topK(queriesDf(ids), 5,
        if (full) Some(Int.MaxValue) else None)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq }

  private val qIds = Seq(7L, 11L, 13L)

  test("10% append is served in top-5 without re-anchoring; " +
      "full-probe serving is row-identical to brute force over the union") {
    val store = new AnnIngestStore(spark, dir, Some(statePath))
    val rnd = new scala.util.Random(99)
    // 40 appends (10% of the base), one planted: a small perturbation of
    // base vector 7 — its true nearest neighbor after the append.
    val planted = {
      val b = baseVecs(7)._2
      val v = b.map(x => x + (rnd.nextGaussian() * 0.01).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val batch0 = (10000L, planted) +:
      (1 until 40).map(i => (10000L + i, unit(rnd)))
    appended ++= batch0
    val s = spark; import s.implicits._
    store.append(batch0.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding"), batchId = 0L)
    assert(store.segmentCount == 1)
    assert(store.appendedCount() == 40)
    // No re-anchor at 10%: K(440) = K(400) = 80, within the 1.25 slack.
    assert(!store.maybeReanchor(), "a 10% append must not trip the re-anchor")

    val full = served(store, qIds, full = true)
    qIds.foreach { q =>
      assert(full(q) == bruteTop5(q, baseVecs(q.toInt)._2),
        s"full-probe serving diverged from brute force for q$q: ${full(q)}")
    }
    // The appended point is VISIBLE at the real operating point too.
    val op = served(store, qIds, full = false)
    assert(op(7L).contains(10000L),
      s"planted append must reach q7's top-5 without re-anchoring: ${op(7L)}")
  }

  test("batchId retry supersedes (never double-serves) and a restarted " +
      "store rehydrates the committed segments") {
    val store = new AnnIngestStore(spark, dir, Some(statePath))
    val s = spark; import s.implicits._
    // foreachBatch replay: the SAME batch 0 rows re-arrive under the
    // same batchId (post-commit crash upstream) — the attempt
    // supersedes, and nothing serves twice.
    store.append(appended.take(40).toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding"), batchId = 0L)
    assert(store.segmentCount == 1, "a retried batchId must supersede, not add")
    assert(store.appendedCount() == 40)
    // A torn write-side tmp dir (crash before commit) sweeps on rehydration.
    val torn = new java.io.File(statePath, "t999.tmp")
    torn.mkdirs()
    java.nio.file.Files.writeString(torn.toPath.resolve("junk"), "x")
    val store2 = new AnnIngestStore(spark, dir, Some(statePath))
    assert(!torn.exists(), "rehydration must sweep orphaned tmp dirs")
    assert(store2.appendedCount() == 40)
    val full = served(store2, qIds, full = true)
    qIds.foreach { q =>
      assert(full(q) == bruteTop5(q, baseVecs(q.toInt)._2),
        s"restart lost or double-served an append for q$q: ${full(q)}")
    }
  }

  test("re-anchor tick folds segments into an anchor-carrying base, " +
      "reassigns cells, and a restart rehydrates the new quantizer") {
    val store = new AnnIngestStore(spark, dir, Some(statePath))
    val rnd = new scala.util.Random(1234)
    val s = spark; import s.implicits._
    // Grow past the slack: K(400) = 80; 1.25*80 = 100; K(n) > 100 needs
    // n >= 676 — append 300 more across three batches (total 740).
    (1 to 3).foreach { b =>
      val batch = (0 until 100).map(i => (20000L + b * 1000 + i, unit(rnd)))
      appended ++= batch
      store.append(batch.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding"), batchId = b.toLong)
    }
    assert(store.appendedCount() == 340)
    assert(store.maybeReanchor(), "60%+ growth must trip the re-anchor")
    assert(store.segmentCount == 1, "the tick must fold everything into one base")
    val idx = store.servingIndex()
    assert(idx.n == 740, s"re-anchored quantizer must cover the union: ${idx.n}")
    assert(idx.anchors.size == Similarity.anchorKFor(740))
    // Every persisted cell is the live assignment under the NEW anchors.
    val mismatch = store.segments()
      .withColumn("live", element_at(org.apache.spark.sql.graft.NearestCellsTwoLevel
        .column(col("embedding"), col("nrm"), idx.anchors, kc = 1), 1))
      .filter(col("cell") =!= col("live")).count()
    assert(mismatch == 0, s"$mismatch segment rows carry stale cells after re-anchor")
    // Serving still brute-force-identical at full probe, and a RESTART
    // serves the same quantizer (anchors are segment state, not memory).
    val full = served(store, qIds, full = true)
    qIds.foreach { q =>
      assert(full(q) == bruteTop5(q, baseVecs(q.toInt)._2),
        s"post-re-anchor serving diverged for q$q: ${full(q)}")
    }
    val store2 = new AnnIngestStore(spark, dir, Some(statePath))
    assert(store2.servingIndex().n == 740,
      "restart must rehydrate the re-anchored quantizer from the base segment")
    val full2 = served(store2, qIds, full = true)
    qIds.foreach(q => assert(full2(q) == full(q)))
    // Recall at the appended point, operating-point probes (recorded;
    // the floor guards against a silently-broken probe set).
    val op = served(store2, qIds, full = false)
    val recall = qIds.map(q =>
      op(q).toSet.intersect(bruteTop5(q, baseVecs(q.toInt)._2).toSet).size).sum /
      (5.0 * qIds.size)
    info(f"operating-point recall@5 over base ∪ appends after re-anchor: $recall%.2f")
    assert(recall >= 0.2, s"operating-point recall collapsed: $recall")
  }

  test("a rebuilt session over a CHANGED base corpus cannot serve stale " +
      "segment cells: epoch drift reassigns at serve time and fires the " +
      "re-anchor inside the growth slack (VERDICT r18 #7)") {
    import org.apache.spark.sql.graft.NearestCellsTwoLevel
    val s = spark; import s.implicits._
    val dir2 = java.nio.file.Files.createTempDirectory("annserve-epoch").toString
    val state2 = java.nio.file.Files.createTempDirectory("annserve-epoch-state").toString
    val rnd = new scala.util.Random(21)
    val base2 = scala.collection.mutable.ArrayBuffer.tabulate(nBase)(i => (i.toLong, unit(rnd)))
    def writeBase(): Unit =
      base2.toSeq.map { case (id, v) => (id, v.toSeq, (id % 5).toInt) }
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    writeBase()
    // 40 appends assigned under the ORIGINAL base quantizer, one planted
    // next to base vector 7 (the serve-visibility probe).
    val rnd2 = new scala.util.Random(31)
    val planted = {
      val b = base2(7)._2
      val v = b.map(x => x + (rnd2.nextGaussian() * 0.01).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val appends2 = (30000L, planted) +: (1 until 40).map(i => (30000L + i, unit(rnd2)))
    val store = new AnnIngestStore(spark, dir2, Some(state2))
    store.append(appends2.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding"), batchId = 0L)
    assert(!store.maybeReanchor(),
      "10% growth + matching epoch must not trip the tick")

    def brute(qId: Long, qv: Array[Float]): Seq[Long] =
      (base2.toSeq ++ appends2).filter(_._1 != qId)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    def topIds(st: AnnIngestStore, full: Boolean): Map[Long, Seq[Long]] =
      st.topK(qIds.map(i => (i, base2(i.toInt)._2.toSeq)).toDF("q_id", "qv"), 5,
          if (full) Some(Int.MaxValue) else None)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq }

    // THE BASE CORPUS MOVES: vectors 100..399 regenerate (0..99 — the
    // queries and the planted target — stay bit-identical). The segment
    // on disk still carries cells assigned under the OLD quantizer.
    val rnd3 = new scala.util.Random(22)
    (100 until nBase).foreach(i => base2(i) = (i.toLong, unit(rnd3)))
    writeBase()
    // A REBUILT session: the live-derivation session caches and memoized
    // source plans of the old one are gone (the in-contract path — the
    // stamp watch only covers committed tables; a new JVM starts empty
    // either way).
    graft.pipeline.SessionCache.releaseAll(s"annIndex:$dir2")
    graft.pipeline.SessionCache.releaseAll(s"embN:$dir2")
    graft.sources.Tables.evictPath(s"$dir2/embeddings.parquet")
    graft.sources.Tables.evictPath(s"$dir2/embeddings.parquet#fanout")
    val store2 = new AnnIngestStore(spark, dir2, Some(state2))

    assert(store2.epochDrift(), "a moved base corpus must read as epoch drift")
    val st = store2.servingState()
    assert(st.epoch.startsWith("base:"), "pre-fold serving quantizer is the live one")
    // Non-vacuity: the PERSISTED cells really do disagree with the new
    // quantizer (without the epoch machinery these would be served as-is).
    val persistedStale = store2.segments()
      .withColumn("live", element_at(NearestCellsTwoLevel
        .column(col("embedding"), col("nrm"), st.idx.anchors, kc = 1), 1))
      .filter(col("cell") =!= col("live")).count()
    assert(persistedStale > 0,
      "fixture failure: the base rewrite left every persisted cell valid")
    // The SERVED cells are all live assignments under the current anchors.
    val servedStale = store2.servedSegments(st.idx.anchors, st.epoch)
      .withColumn("live", element_at(NearestCellsTwoLevel
        .column(col("embedding"), col("nrm"), st.idx.anchors, kc = 1), 1))
      .filter(col("cell") =!= col("live")).count()
    assert(servedStale == 0,
      s"$servedStale stale-epoch cells reached serving unreassigned")
    // End-to-end: full probe row-identical to brute force over the NEW
    // union, and the planted append still visible at the operating point
    // (its old-epoch cell would route it into the wrong inverted list).
    val full = topIds(store2, full = true)
    qIds.foreach(q => assert(full(q) == brute(q, base2(q.toInt)._2),
      s"rebuilt-session serving diverged from brute force for q$q: ${full(q)}"))
    assert(topIds(store2, full = false)(7L).contains(30000L),
      "planted append must stay visible at the operating point across a base rewrite")

    // Drift fires the tick even though growth is inside the slack...
    assert(store2.maybeReanchor(), "epoch drift must fire the re-anchor")
    // ...and the fold restamps everything: no drift, persisted cells live.
    assert(!store2.epochDrift(), "a completed fold must read drift-free")
    assert(!store2.maybeReanchor(), "no second tick without new drift/growth")
    val st2 = store2.servingState()
    assert(st2.epoch.startsWith("fold:"))
    val postFoldStale = store2.segments()
      .withColumn("live", element_at(NearestCellsTwoLevel
        .column(col("embedding"), col("nrm"), st2.idx.anchors, kc = 1), 1))
      .filter(col("cell") =!= col("live")).count()
    assert(postFoldStale == 0, s"$postFoldStale stale cells survived the fold")
    val full2 = topIds(store2, full = true)
    qIds.foreach(q => assert(full2(q) == brute(q, base2(q.toInt)._2)))
  }
}
