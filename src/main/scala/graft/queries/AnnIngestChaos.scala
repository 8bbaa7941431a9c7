package graft.queries

import org.apache.spark.sql.functions._

/** ANN ingest kill-chaos rehearsal (VERDICT r18 #1's "no append is lost
  * or double-served" proof) — driven by tools/ann_chaos.sh:
  *
  *   run 1  SPARK_GRAFT_ANN_KILL=pre:b3   — halt(137) INSIDE batch 3's
  *          segment write (vecs parquet written, marker + rename not):
  *          the torn-commit window; rehydration must sweep it and the
  *          resume must replay batch 3 from the source.
  *   run 2  SPARK_GRAFT_ANN_KILL=post:b5  — halt(137) AFTER batch 5's
  *          commit but BEFORE the caller acks it: the unacked-commit
  *          window; the resume replays batch 5 under the same batchId
  *          and the attempt must supersede, not double-serve.
  *   run 3  no kill — resumes, appends the tail, REPLAYS the last batch
  *          once more (the foreachBatch replay shape), then verifies:
  *          appended row count == exactly nBatches×batchSize, and
  *          full-probe serving is row-identical (except() both ways) to
  *          a brute-force top-5 over base ∪ segments. Writes the JSON
  *          artifact and exits non-zero on any divergence.
  *
  * Batches are DETERMINISTIC functions of their id (the replayed-offsets
  * contract): a replay writes byte-identical rows, so "no loss, no dup"
  * is decidable by counting.
  */
object AnnIngestChaos {

  private val dim = 16
  private val nBase = 400
  private val batchSize = 25

  private def unit(rnd: scala.util.Random): Seq[Float] = {
    val v = Array.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat).toSeq
  }

  private def batchRows(i: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(555 + i)
    (0 until batchSize).map(j => (10000L + i * 1000 + j, unit(rnd)))
  }

  def main(args: Array[String]): Unit = {
    val Array(workDir, nBatchesS, outJson) = args.take(3)
    val nBatches = nBatchesS.toLong
    val spark = graft.Sessions.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val corpusDir = s"$workDir/corpus"
    if (!new java.io.File(s"$corpusDir/embeddings.parquet").exists()) {
      val rnd = new scala.util.Random(7)
      (0 until nBase).map(i => (i.toLong, unit(rnd), i % 5))
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$corpusDir/embeddings.parquet")
    }
    val store = new AnnIngestStore(spark, corpusDir, Some(s"$workDir/state"))
    val start = store.store.nextAutoId
    val killEnv = sys.env.getOrElse("SPARK_GRAFT_ANN_KILL", "none")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$workDir/runs.log"),
      s"""{"resumed_at_batch": $start, "kill": "$killEnv"}\n""",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    System.err.println(s"[ann-chaos] resuming at batch $start/$nBatches kill=$killEnv")

    (start until nBatches).foreach { i =>
      store.append(batchRows(i).toDF("vec_id", "embedding"), i)
      if (sys.env.get("SPARK_GRAFT_ANN_KILL").contains(s"post:b$i")) {
        System.err.println(s"[ann-chaos] KILL post-commit b$i")
        Runtime.getRuntime.halt(137)
      }
    }
    // The foreachBatch replay: the last batch re-arrives un-acked.
    store.append(batchRows(nBatches - 1).toDF("vec_id", "embedding"), nBatches - 1)

    val appended = store.appendedCount()
    val expected = nBatches * batchSize
    // Brute-force top-5 over base ∪ segments, same cosine fold and the
    // same top-k tail as AnnIngestStore.topK — so a full-probe serve
    // must be row-identical.
    val qIds = Seq(3L, 9L, 21L)
    val base = graft.sources.Tables.embeddings(spark, corpusDir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.norm(col("embedding")).as("nrm"))
    val queries = base.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val union = base.unionByName(
      store.segments().select(col("vec_id"), col("embedding"), col("nrm")))
    val q = queries.withColumn("qn", graft.functions.VectorFunctions.norm(col("qv")))
    val scored = union.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (graft.functions.VectorFunctions.dot(col("qv"), col("embedding"))
          / (col("qn") * col("nrm"))).as("c"))
    val brute = Similarity.topKByCos(scored, 5)
    val servedDf = store.topK(queries, 5, Some(Int.MaxValue))
    val diff = servedDf.except(brute).count() + brute.except(servedDf).count()

    val runs = scala.io.Source.fromFile(s"$workDir/runs.log").getLines()
      .mkString("[", ",", "]")
    val ok = appended == expected && diff == 0
    val json =
      s"""{"probe": "ANN ingest kill-chaos (VERDICT r18 #1): torn-commit + unacked-commit windows, replayed batches",
         | "segment_schema": "vec_id,embedding,nrm,cell,base_fp (epoch-stamped, VERDICT r18 #7)",
         | "batches": $nBatches, "batch_size": $batchSize,
         | "appended_rows": $appended, "expected_rows": $expected,
         | "full_probe_vs_brute_diff_rows": $diff,
         | "runs": $runs,
         | "ok": $ok}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
