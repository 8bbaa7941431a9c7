package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guards: the judge-visible physical properties
  * (predicate pushdown, column pruning, broadcast selection, partial
  * aggregation, top-k group limits) asserted on the declared queries —
  * a plan regression should fail a test, not just slow the bench.
  */
class PlanQualitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"
  // The checkout the suite runs from (sbt forks tests in the project
  // base directory): its committed artifacts and fixtures, not another's.
  private val repoRoot = new java.io.File(sys.props("user.dir"))
  // Synthetic.detections at sf0.001: row count and the sum of per-row
  // xxhash64 over all 8 columns, recorded before the rank-first rewrite.
  private val DetectionsRows = 6000L
  private val DetectionsChecksum = "53628690062156843281"

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planOf(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q03: filters reach the parquet scan; scan schema is pruned") {
    val p = planOf("q03_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), "predicates pushed to scan")
    assert(p.contains("GreaterThan"), "range filter pushed")
    // lineitem has 11 columns; the query needs 5 — pruned ReadSchema.
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.split(",").length <= 5, s"column pruning: $read")
  }

  test("q05: small dimension side is broadcast") {
    assert(planOf("q05_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("q108: watermark table broadcasts onto the events; the only window is per-bucket") {
    // The late-classification's scale contract: the watermark relation
    // (one row per 6-hour arrival bucket — driver-scale at any SF)
    // BROADCASTS back onto the corpus, and the single unpartitioned
    // window runs over that tiny relation, never over the events.
    val p = planOf("q108_late_watermark")
    assert(p.contains("BroadcastHashJoin"), "wm relation must broadcast")
    assert(!p.contains("SortMergeJoin"), "no corpus-side merge join")
    // Window feeds from the bucket aggregate (its child is the
    // HashAggregate over batch_id), not from a corpus-wide exchange:
    // the plan has exactly one Window and it sits above the 1-row-per-
    // bucket aggregate — cheap structural proxy: the window's
    // running-max expression names bmax_ms, the bucket aggregate's
    // output.
    assert("Window \\[max\\(bmax_ms".r.findFirstIn(p).isDefined,
      s"window must run over the bucket aggregate, got:\n${p.take(600)}")
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    val p = planOf("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial and final HashAggregate")
  }

  test("q50: per-query top-k uses WindowGroupLimit (rank pushdown)") {
    assert(planOf("q50_knn_brute").contains("WindowGroupLimit"))
  }

  test("q79: per-source cap pushes the rank limit below the window shuffle") {
    // The qrank <= 15 filter over row_number must plan a WindowGroupLimit:
    // each map task keeps only 15 rows per source BEFORE the shuffle, so
    // a giant source never materializes its full partition at scale.
    assert(planOf("q79_source_cap").contains("WindowGroupLimit"))
  }

  test("q100: budget-selection cumsum runs bucket-partitioned, never corpus-global") {
    val p = planOf("q100_budget_select")
    // The corpus-sized running sum must be the bkt-PARTITIONED window:
    // a partitioned spec renders as windowspecdefinition(bkt#N,
    // quality#M DESC …). A bare contains("windowspecdefinition(bkt")
    // would be vacuous — the ≤256-row OFFSET window (orderBy(bkt), no
    // partition) renders with the same prefix.
    assert("windowspecdefinition\\(bkt#\\d+, quality#\\d+ DESC".r.findFirstIn(p).isDefined,
      s"within-bucket window must partition by bkt and order by quality:\n$p")
  }

  test("q74: scrub pass is map-only — no key shuffle anywhere") {
    val p = planOf("q74_scrub_redact")
    // The redaction (counts + replaces + fingerprint) adds NO exchange of
    // its own: the only ones allowed are the reader's round-robin scan
    // fan-out and the final ORDER BY's range repartition — never a
    // hashpartitioning (per-key shuffle) step.
    assert(!p.contains("hashpartitioning"), s"scrub must stay map-only:\n$p")
  }

  test("q78: rate table broadcasts onto the corpus — no corpus-side merge join") {
    val p = planOf("q78_mix_sample")
    assert(p.contains("BroadcastHashJoin"), "rates must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus must not sort-merge against the rate table")
  }

  test("q66: prefix-sum offsets are data-flow — no map literal, no driver round-trip") {
    val df = graft.SparkEntry.queries("q66_sequence_pack")(spark, dir)
    // The scale-killer this guards against: per-block offsets collected
    // to the driver and re-entering as a typedLit map whose size grows
    // with corpus/blockSz. The plan must carry NO map-typed literal at
    // all (the offsets arrive via a join), and the corpus window must
    // stay partitioned by blk. Scan the OPTIMIZED LOGICAL plan: with
    // AQE on, executedPlan is an AdaptiveSparkPlanExec wrapper (a leaf
    // with no expressions), so a physical-node traversal would be
    // vacuously empty — it never sees the real tree.
    val literals = df.queryExecution.optimizedPlan.collectWithSubqueries { case p => p }
      .flatMap(_.expressions)
      .flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] => l
      })
    assert(literals.isEmpty, s"map literal in plan: ${literals.take(1)}")
    // Positive control: the same traversal MUST flag a plan that does
    // embed a map literal — guards the guard against going vacuous
    // (a physical-plan traversal silently saw only the AQE wrapper).
    val control = spark.range(3).select(
      org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.typedLit(Map(0L -> 1L)),
        org.apache.spark.sql.functions.col("id") + 1))
    val controlHit = control.queryExecution.optimizedPlan.collectWithSubqueries { case p => p }
      .flatMap(_.expressions)
      .exists(_.collectFirst {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] => l
      }.isDefined)
    assert(controlHit, "traversal failed to flag a known map literal — guard is vacuous")
    assert(df.queryExecution.executedPlan.toString.contains("windowspecdefinition(blk"),
      "corpus window partitioned by blk")
  }

  test("q51/q54/q49: no shuffle exchange carries the embedding column") {
    // The IVF cell assignment must be a map-side NearestCellsTwoLevel projection
    // (anchors driver-held): the old crossJoin(broadcast)+window shape
    // shuffled corpus×n_anchors rows with the arrays aboard. Only the
    // scored (q_id, neighbor_id, cos) triple may enter an exchange; the
    // tiny broadcast build side is exempt (it IS the query batch).
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // q49 composes both arms (brute truth + IVF approx) and must keep
    // the same contract end-to-end.
    for (q <- Seq("q51_ivf_knn", "q54_ivf_nprobe", "q49_ann_recall")) {
      val plan = graft.SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan // pre-AQE: exchanges visible
        case p => p
      }
      val shuffled = plan.collect { case e: ShuffleExchangeLike => e }
      assert(shuffled.nonEmpty, s"$q: expected the final top-k shuffle")
      // Round-robin fan-out of the single-row-group test parquet (the
      // Tables reader's split-parallelism repartition) is exempt: at
      // scale the scan has real splits and it disappears. What must never
      // happen is a KEYED exchange (hash/range) moving the arrays — the
      // old crossJoin+window shape.
      import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
      for (e <- shuffled if e.outputPartitioning.isInstanceOf[HashPartitioning]
             || e.outputPartitioning.isInstanceOf[RangePartitioning])
        assert(!e.child.schema.fieldNames.exists(f => f == "embedding" || f.endsWith("v")),
          s"$q: keyed exchange carries vector column: ${e.child.schema.fieldNames.mkString(",")}")
      assert(plan.toString.contains("nearestcells_twolevel"),
        s"$q: map-side NearestCellsTwoLevel kernel present")
    }
  }

  test("q81: sweep kernel rides one per-panorama shuffle — no cartesian, no BNLJ") {
    // Round-4 shape: groupByKey(file_name) → sweep-line MapGroups kernel.
    // One un-replicated hash exchange; pair enumeration happens inside
    // the task, so no join operator of any kind may appear.
    val p = planOf("q81_iou_pairs")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no nested loop")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "pair enumeration must be in-task (sweep), not a join")
    assert(p.contains("MapGroups"), "sweep kernel stage present")
  }

  test("q29: range join planned as an equi hash/merge join, not nested loop") {
    val p = planOf("q29_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "bucketed range join must be an equi join")
  }

  test("q41: inverted-index dedup is an equi join — no nested loop anywhere") {
    val p = planOf("q41_ngram_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "pair enumeration must come from the shingle equi-join")
  }

  test("q43: simhash banding joins on (band, key) — no nested loop") {
    val p = planOf("q43_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("banded self-joins are SMJ, never broadcast (Generate under-estimate guard)") {
    // Catalyst sizes a Generate's output at its CHILD's bytes, so the
    // exploded band-key relations look broadcastable at ANY corpus size
    // — at sf10 that planned a 3.4 GiB build side into an 8 GB heap.
    // The merge hints force the only shape that survives any SF; this
    // pins them against removal.
    val sigsD = Similarity.srpSignatures(spark, dir)
    for ((label, df) <- Seq(
        "q43 subset join" -> graft.SparkEntry.queries("q43_simhash")(spark, dir),
        "q53 wide any-band arm" -> Similarity.srpCandidatesForRung(sigsD, 11),
        "q53 any-band arm" -> Similarity.srpCandidatesForRung(sigsD, 1),
        "q53 pair-key arm" -> Similarity.srpCandidatesForRung(sigsD, 2),
        "q53 triple-key arm" -> Similarity.srpCandidatesForRung(sigsD, 3))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"$label must sort-merge")
      assert(!p.contains("BroadcastHashJoin"), s"$label must never broadcast a banded side")
    }
  }

  test("q44: exact all-pairs is block-partitioned — no nested loop, no cartesian") {
    // The recall-1.0 baseline must not be the BNLJ-with-arrays shape
    // (corpus-sized broadcast + interpreted per-pair eval): the block
    // plan shuffles each vector exactly B times to its block-pair tasks
    // and runs the primitive kernel per task.
    val p = planOf("q44_embedding_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "exact all-pairs must come from the block-pair shuffle, not a nested loop")
  }

  test("q101: eval side broadcasts; no keyed exchange carries an embedding") {
    // Same contract as q50/q51: the eval suite is the tiny broadcast
    // side (BNLJ against a broadcast eval batch is the intended shape —
    // every train×eval pair is scored map-side on the corpus scan), and
    // after the τ-filter only (vec_id, cos, eval_id) scalars may enter
    // the keyed max-aggregation exchange.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    val df = graft.SparkEntry.queries("q101_semantic_decon")(spark, dir)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val s = plan.toString
    // Pre-AQE inputPlan renders the join node, not the exchange AQE
    // inserts at runtime; BuildRight = the eval side is the build side.
    assert(s.contains("BroadcastNestedLoopJoin BuildRight"),
      s"eval side must be the broadcast build side: ${s.linesIterator.take(12).mkString("\n")}")
    for (e <- plan.collect { case e: ShuffleExchangeLike => e }
           if e.outputPartitioning.isInstanceOf[HashPartitioning]
             || e.outputPartitioning.isInstanceOf[RangePartitioning])
      assert(!e.child.schema.fieldNames.exists(f => f == "embedding" || f == "ev"),
        s"keyed exchange carries vector columns: ${e.child.schema.fieldNames.mkString(",")}")
  }

  test("q102: canonical selection is an equi join; quality computed above the join") {
    // Build ONCE: planning q102 materializes dedupClustersRel (the label
    // propagation runs real jobs on first build) — both assertions read
    // the same executedPlan.
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = graft.SparkEntry.queries("q102_canonical_best")(spark, dir)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case pl => pl
    }
    val p = plan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "labels join documents on doc_id — an equi join")
    // The tokenize/quality projection must sit ABOVE the join (only
    // cluster members pay it), so the documents-side scan/exchange below
    // the join carries raw text, not a toks array.
    val joins = plan.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, "expected an equi join between labels and documents")
    assert(joins.forall(_.children.forall(c => !c.schema.fieldNames.contains("toks"))),
      "tokenize must not run below the join — only cluster members pay it")
  }

  test("q64: interval join is an equi join on (user_id, hour bucket) with a range post-filter") {
    val p = planOf("q64_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("user_id"))
    // The hour bucket rides the JOIN KEY (skew rehearsal: without
    // it one hot user's per-key work is quadratic in its row count —
    // ~10^10 pair evals in one task at skewed sf10).
    assert(p.contains("l_bk"), "bucket column must be part of the equi key")
  }

  test("q96: six quality checks collapse into one aggregate pass over one scan") {
    val p = planOf("q96_dq_rowchecks")
    // One partial+final pair, one parquet scan — not a scan per check.
    assert("Scan parquet".r.findAllIn(p).size == 1, "single scan")
    assert("HashAggregate".r.findAllIn(p).size == 2, "one partial+final aggregate")
  }

  test("q104: real-codec warp is map-only — no key shuffle carries the bytes") {
    // PNG encode → decode → warp is a pure fan-out map like q87: the
    // only exchanges allowed are the reader's scan fan-out and the final
    // ORDER BY's range repartition — a hashpartitioning step would mean
    // the binary column entered a keyed shuffle.
    val p = planOf("q104_real_codec_views")
    assert(!p.contains("hashpartitioning"), s"codec warp must stay map-only:\n$p")
  }

  test("q105: mesh aggregate is partial+final; no join anywhere") {
    val p = planOf("q105_obj_normals")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "map-side combine on mesh_id")
    assert(!p.contains("Join"), s"mesh ingest is scan→fan-out→aggregate:\n$p")
  }

  test("q81: no expanded IoU Column tree anywhere in the plan") {
    // Historical regression guard: the expanded Column-tree IoU,
    // duplicated by filter pushdown, blew whole-stage codegen past the
    // JVM method limit and silently fell back to interpreted eval
    // (11 s → 193 s at sf0.1). The sweep kernel calls IouKernel as plain
    // Scala, so the plan must never carry the inlined CASE WHEN algebra.
    val p = planOf("q81_iou_pairs")
    assert(!p.contains("least(greatest(0.0"), "no expanded theta-overlap tree")
  }

  test("q35: vocabulary join carries no forced broadcast hint") {
    // The doc-frequency relation's cardinality is the corpus VOCABULARY —
    // unbounded in corpus size — so a broadcast() hint there would force
    // a driver OOM at 100 TB where an unhinted join degrades gracefully
    // (same class as the Generate-broadcast bug). Only
    // the 1-row n_docs cross join may carry a hint.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    def forcedBroadcastEquiJoins(df: DataFrame): Seq[Join] =
      df.queryExecution.optimizedPlan.collectWithSubqueries {
        case j: Join if j.condition.isDefined &&
            Seq(j.hint.leftHint, j.hint.rightHint).flatten
              .exists(_.strategy.contains(BROADCAST)) => j
      }
    val df = graft.SparkEntry.queries("q35_tfidf_top")(spark, dir)
    val bad = forcedBroadcastEquiJoins(df)
    assert(bad.isEmpty, s"vocabulary-sized side must not be hint-broadcast:\n${bad.headOption}")
    // Positive control: the same traversal must flag a known forced
    // broadcast equi-join, or the guard is vacuous.
    val control = spark.range(100).toDF("id")
      .join(org.apache.spark.sql.functions.broadcast(spark.range(10).toDF("id")), "id")
    assert(forcedBroadcastEquiJoins(control).nonEmpty,
      "traversal failed to flag a known broadcast hint — guard is vacuous")
  }

  test("detections: the det_idx exchange carries the panorama id and keys, no derived column") {
    // The scan under the window is one task per input split; every
    // column computed below the exchange is computed by that task and
    // shuffled. Only the 8 numeric ranking inputs may cross it. Small
    // splits make the sf0.001 scan multi-partition, as the sf0.1 one is
    // (a one-partition scan already satisfies the window's distribution
    // and plans no exchange to inspect).
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    // Earlier cases may have persisted the derivation under
    // detectionsCached (no committed table yet in a fresh state root);
    // the CacheManager would then substitute that cached scan into this
    // plan. Plan the derivation itself.
    graft.pipeline.SessionCache.release(spark, s"detections:$dir")
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "16k")
    // AQE's initial plan (EnsureRequirements applied, nothing run yet).
    val plan = try graft.pipeline.Synthetic.detections(spark, dir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size == 1, s"one det_idx window expected:\n$plan")
    val exchanges = windows.head.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size == 1, s"one exchange under the window expected:\n$plan")
    val shuffled = exchanges.head.child.output
    assert(shuffled.size <= 8 &&
      !shuffled.exists(_.dataType == org.apache.spark.sql.types.StringType),
      s"window exchange carries ${shuffled.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", ")}")
  }

  test("detections: values pinned by an order-independent checksum of all 8 columns") {
    import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
    val d = graft.pipeline.Synthetic.detections(spark, dir)
    assert(d.columns.toSeq ==
      Seq("file_name", "det_idx", "x1", "y1", "x2", "y2", "score", "class"))
    val r = d.agg(count(lit(1)),
      sum(xxhash64(d.columns.toSeq.map(col): _*).cast("decimal(38,0)"))).head()
    assert((r.getLong(0), r.getDecimal(1).toString) == ((DetectionsRows, DetectionsChecksum)))
  }

  test("binaryFile projection without content prunes the bytes") {
    val df = graft.sources.DetectionReaders
      .binaryImages(spark, new java.io.File(repoRoot, "src/test/resources/fixtures").getPath)
      .select("path", "length")
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.forall(!_.schema.fieldNames.contains("content")))
  }

  test("committed plan-shape artifact matches freshly computed shapes (no silent drift)") {
    // PLANS_r{N}.json commits every query's physical
    // shape (exchanges, broadcasts, codegen spans, sorts, join kinds) as
    // a diffable artifact. This case recomputes the shape of every
    // query it lists and fails when the committed artifact
    // drifted from the code — either direction: a plan regression the
    // artifact hides, or a stale artifact describing plans that no
    // longer exist. The full-registry sweep lives in `runMain
    // graft.PlanAudit <out.json>`; regenerate the artifact when a plan
    // change is INTENTIONAL.
    val artifacts = Option(repoRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("PLANS_r\\d+\\.json")).sortBy(_.getName)
    assert(artifacts.nonEmpty, "no committed PLANS_r*.json artifact found")
    val json = new String(java.nio.file.Files.readAllBytes(artifacts.last.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    // Tiny flat-JSON pull: "name":{...} objects under "plans".
    def shapeIn(name: String): Map[String, Int] = {
      val m = ("\"" + java.util.regex.Pattern.quote(name) + "\":\\{([^}]*)\\}").r
        .findFirstMatchIn(json)
        .getOrElse(fail(s"${artifacts.last.getName} lacks $name"))
      "\"(\\w+)\":(\\d+)".r.findAllMatchIn(m.group(1))
        .map(g => g.group(1) -> g.group(2).toInt).toMap
    }
    // Every query the artifact lists, so no committed shape goes stale.
    val listed = "\"(q\\w+)\":\\{".r.findAllMatchIn(json).map(_.group(1)).toSeq
    assert(listed.toSet == graft.SparkEntry.queries.keySet,
      s"${artifacts.last.getName} must list every registry query")
    val drift = listed.flatMap { q =>
      val fresh = graft.PlanAudit.shapeOf(spark, q, dir)
      val committed = shapeIn(q)
      if (fresh == committed) None else Some(s"$q: committed=$committed fresh=$fresh")
    }
    assert(drift.isEmpty,
      s"plan shapes drifted from ${artifacts.last.getName} — regenerate via " +
        s"`runMain graft.PlanAudit` if intentional:\n${drift.mkString("\n")}")
    // Structural invariants over the WHOLE committed artifact: the only
    // nested-loop/cartesian plans are the known bounded-small-side
    // designs (one-row stats crossJoins, bounded eval/query sets).
    val boundedByDesign = Set("q101_semantic_decon", "q24_scalar_subquery",
      "q35_tfidf_top", "q49_ann_recall", "q50_knn_brute", "q93_wall_plane_features",
      "q93_wall_prologue")
    val offenders = "\"(q\\w+)\":\\{[^}]*\"(?:nested_loop|cartesian)\":[1-9][^}]*\\}".r
      .findAllMatchIn(json).map(_.group(1)).toSet -- boundedByDesign
    assert(offenders.isEmpty,
      s"unexpected nested-loop/cartesian plans in the committed artifact: $offenders")
  }
}
