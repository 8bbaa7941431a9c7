package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.geo.Dbscan

/** One mesh cell entering the clustering kernel. `tile` is the spatial
  * partition key — the reference fits one global DBSCAN on a decimated
  * mesh (MeshWallExtractror.py:36,65); the scale path is tiling: bound
  * the O(n²) kernel per tile and merge margin-sharing clusters.
  */
final case class CellRow(
    tile: Long, cell_id: Long,
    nx: Double, ny: Double, nz: Double,
    cx: Double, cy: Double, cz: Double,
    f0: Double, f1: Double, f2: Double)

/** One replicated point entering a tile run: `grid` is the 1-D feature
  * cell, `owned` marks the run that owns the point (vs an eps-margin
  * copy), `core` the EXACT global core flag (phase 2 only).
  */
final case class FPoint(cell_id: Long, f0: Double, f1: Double, f2: Double)
final case class FRepl(grid: Long, owned: Boolean, p: FPoint)
final case class FReplC(grid: Long, owned: Boolean, p: FPoint, core: Boolean)

/** Wall-plane extraction (SURVEY.md §2 F6/M17/M18/A7/A8/A11) — Spark port
  * of heritage-guard/heritage_guard/helpers/MeshWallExtractror.py:34-89.
  *
  * Relational stages (vertical filter, azimuth angle, feature weighting,
  * z-normalization) are plain codegen'd column ops; only the DBSCAN core
  * drops into a typed kernel. StandardScaler's fit is a global
  * avg/stddev_pop aggregate — map-side partial, one tiny shuffle.
  */
object WallPlanes {

  /** @param cells (cell_id, nx, ny, nz, cx, cy, cz)
    * @param tiles  number of spatial tiles for the clustering kernel;
    *               1 reproduces the reference's global fit.
    */
  /** The SQL-expressible prologue (F6 vertical filter + M17 azimuth + M18
    * weighting + StandardScaler z-norm) — shared by [[wallPlanes]] and the
    * q93 partial oracle, so the oracled query runs the exact code path
    * the DBSCAN stage consumes.
    */
  def scaledFeatures(
      cells: DataFrame,
      verticalThreshold: Double = 0.1,
      angleWeight: Double = 10000.0,
      centroidWeight: Double = 0.001): DataFrame = {
    // F6 vertical filter + M17 azimuth + M18 weighting, all pushed-down
    // column arithmetic (MeshWallExtractror.py:43-59).
    val vertical = cells.filter(abs(col("nz")) < verticalThreshold)
    val feat = vertical
      .withColumn("angle", pmod(degrees(atan2(col("ny"), col("nx"))), lit(360.0)))
      .withColumn("w0", col("angle") * angleWeight)
      .withColumn("w1", col("cx") * centroidWeight)
      .withColumn("w2", col("cy") * centroidWeight)

    // StandardScaler fit: population std, ddof=0 (sklearn convention,
    // MeshWallExtractror.py:62-63) as a broadcast 1-row aggregate.
    val stats = feat.agg(
      avg("w0").as("m0"), coalesce(stddev_pop("w0"), lit(1.0)).as("s0"),
      avg("w1").as("m1"), coalesce(stddev_pop("w1"), lit(1.0)).as("s1"),
      avg("w2").as("m2"), coalesce(stddev_pop("w2"), lit(1.0)).as("s2"))
    def nz(s: org.apache.spark.sql.Column) = when(s === 0.0, 1.0).otherwise(s)
    feat.crossJoin(broadcast(stats))
      .withColumn("f0", (col("w0") - col("m0")) / nz(col("s0")))
      .withColumn("f1", (col("w1") - col("m1")) / nz(col("s1")))
      .withColumn("f2", (col("w2") - col("m2")) / nz(col("s2")))
  }

  def wallPlanes(
      cells: DataFrame,
      verticalThreshold: Double = 0.1,
      angleWeight: Double = 10000.0,
      centroidWeight: Double = 0.001,
      eps: Double = 0.03,
      minSamples: Int = 20,
      tiles: Int = 1): DataFrame =
    wallPlanesScaled(
      scaledFeatures(cells, verticalThreshold, angleWeight, centroidWeight),
      eps, minSamples, tiles)

  /** Data-adaptive tile count for [[wallPlanesScaled]] (r11 sf1
    * rehearsal: a FIXED tiles=8 made the per-tile O(n²) kernel scale
    * 17× at 10× the points — the same constant-where-a-data-derived-
    * value-belongs flaw class as the old corpus-fraction IVF anchors).
    * Targets ~`targetPerTile` points per grid cell so per-cell work is
    * bounded at any corpus size; the count is footer-cheap on the
    * materialized feature table. Floor 8 keeps the harness SFs on the
    * exact tiling the gate has always run (sf0.01: n=1.8k → 8; sf0.1:
    * n=17.6k → 8). Ceiling: [[tiledClusters]] floors the cell width at
    * eps, so beyond ~4/eps tiles the 1-D grid stops refining — the
    * structural limit of gridding on one feature axis; past it the
    * scale path is a multi-axis grid, not more tiles.
    */
  def autoTiles(features: DataFrame, targetPerTile: Int = 2500): Int =
    autoTilesFor(features.count(), targetPerTile)

  /** The clustering half over an already-derived feature relation
    * (`cell_id, nx..nz, cx..cz, f0..f2` — [[scaledFeatures]]'s contract):
    * the seam that lets the feature derivation be a materialized INPUT
    * TABLE ([[WallFeaturesTable]], the DetectionsTable pattern — VERDICT
    * r6 ask #4) so per-query cost is a column-pruned parquet scan, not a
    * re-derivation + global stats aggregate per consumer.
    */
  /** Per-point cluster assignment from the GLOBAL single-kernel fit
    * (`cell_id, nx..cz, cluster`, -1 = noise) — the reference's sklearn
    * shape, and the relation [[graft.queries.WallClustersTable]]
    * materializes so q83's eps oracle (VERDICT r12 #2) can take the
    * pinned kernel's labels as DuckDB input. The tiled production path
    * is label-identical per WallPlanesTilingSpec, so a DuckDB aggregate
    * over THESE labels racing q83's tiled output also re-proves the
    * tiling equivalence on the live corpus every Verify run.
    */
  def labeledGlobal(
      features: DataFrame,
      eps: Double = 0.03,
      minSamples: Int = 20): DataFrame = {
    import features.sparkSession.implicits._
    val scaled = features
      .withColumn("tile", lit(0L))
      .select(col("tile").cast("long"), col("cell_id").cast("long"),
        col("nx"), col("ny"), col("nz"), col("cx"), col("cy"), col("cz"),
        col("f0"), col("f1"), col("f2"))
      .as[CellRow]
    scaled.groupByKey(_ => 0L).flatMapGroups { (_, rows) =>
      val cs = rows.toIndexedSeq.sortBy(_.cell_id)
      val labels = Dbscan.fit(cs.map(c => Array(c.f0, c.f1, c.f2)), eps, minSamples)
      cs.iterator.zip(labels.iterator).map { case (c, l) =>
        (c.cell_id, c.nx, c.ny, c.nz, c.cx, c.cy, c.cz,
          if (l == Dbscan.Noise) -1L else l.toLong)
      }
    }.toDF("cell_id", "nx", "ny", "nz", "cx", "cy", "cz", "cluster")
  }

  /** Global-kernel row ceiling for [[labeledAuto]]: [[Dbscan.fit]]
    * precomputes full neighbor lists in ONE task, so a dense corpus of
    * n points can hold O(n²) neighbor ints — the sf1 gate's first run
    * (176k features) OOM'd a 24g driver there (VERDICT r18 #3/#4, the
    * `SPARK_GRAFT_SKIP_TABLES` episode). 20k keeps every historical
    * gate SF on the exact global kernel (sf0.1 = 17.6k features) while
    * bounding the worst-case (single dense clique) neighbor storage at
    * ~4·10⁸ ints ≈ 1.6 GB.
    */
  val maxGlobalRows = 20000L

  /** [[labeledGlobal]] with the kernel SELF-BOUNDED (VERDICT r18 #4):
    * above [[maxGlobalRows]] features the per-point labels come from the
    * margin-merge TILED kernel ([[tiledClusters]], spec-proven label-
    * identical to the global fit by WallPlanesTilingSpec and re-proven
    * live by q83's eps oracle at every gate run) instead of relying on
    * operators remembering a skip knob. The tiled labels join back to
    * the feature columns and are eagerly materialized via
    * localCheckpoint so the kernel's intermediate caches release before
    * returning — the relation the caller writes reads from checkpoint
    * blocks (reclaimed with the DataFrame), not from a persisted
    * lineage over already-unpersisted inputs.
    */
  def labeledAuto(
      features: DataFrame,
      eps: Double = 0.03,
      minSamples: Int = 20): DataFrame = {
    val featC = features.persist()
    try {
      val n = featC.count()
      if (n <= maxGlobalRows) {
        // The global kernel consumes the cached features once; eager
        // materialization below frees the cache before returning.
        val out = labeledGlobal(featC, eps, minSamples).localCheckpoint(true)
        out
      } else {
        System.err.println(s"[wall_clusters] $n features > $maxGlobalRows: " +
          "global DBSCAN kernel would be O(n²) in one task — labeling via the " +
          "tiled kernel (WallPlanesTilingSpec-proven label-identical)")
        val (clusters, finish) = tiledClusters(
          featC.select(col("cell_id"), col("f0"), col("f1"), col("f2")),
          eps, minSamples, tiles = autoTilesFor(n))
        // The eager checkpoint is the labels' one materializing action.
        try {
          featC.select(col("cell_id"), col("nx"), col("ny"), col("nz"),
              col("cx"), col("cy"), col("cz"))
            .join(clusters, "cell_id")
            .localCheckpoint(true)
        } finally {
          finish()
          clusters.unpersist(blocking = false)
        }
      }
    } finally featC.unpersist(blocking = false)
  }

  /** [[autoTiles]]'s formula over an already-known count. */
  def autoTilesFor(n: Long, targetPerTile: Int = 2500): Int =
    math.max(8, math.ceil(n.toDouble / targetPerTile).toInt)

  def wallPlanesScaled(
      features: DataFrame,
      eps: Double = 0.03,
      minSamples: Int = 20,
      tiles: Int = 1): DataFrame = {
    import features.sparkSession.implicits._

    // A11: DBSCAN. tiles=1 reproduces the reference's global sklearn fit
    // (one kernel task — the reference's own decimated-mesh scale);
    // tiles>1 runs the margin-merge tiled path, which TilingSpec proves
    // label-identical on this pipeline's data.
    if (tiles <= 1) {
      // F8 noise drop + A7 per-cluster means + A8 bounds
      // (MeshWallExtractror.py:75-89).
      runAggregates(labeledGlobal(features, eps, minSamples))
    } else {
      val scaled = features
        .withColumn("tile", pmod(col("cell_id"), lit(tiles.toLong)))
        .select(col("tile").cast("long"), col("cell_id").cast("long"),
          col("nx"), col("ny"), col("nz"), col("cx"), col("cy"), col("cz"),
          col("f0"), col("f1"), col("f2"))
        .as[CellRow]
      val spark = features.sparkSession
      // The scaled features feed both the clustering kernel and the
      // label join-back; uncached, each consumer re-runs the scan + the
      // StandardScaler stats aggregate. This branch is fully eager, so
      // the persist's lifecycle closes before returning.
      val scaledDf = scaled.toDF().persist()
      var clusters: DataFrame = null
      var finish: () => Unit = null
      // try/finally: a failed action (executor loss, kernel OOM) must
      // not leave this branch's caches persisted for the session life —
      // the no-storage-outlives-the-call contract covers failure too
      // (tiledClusters' own catch releases its intermediate on a throw
      // inside it; `finish` covers the paths after it returns).
      try {
        // The collect below is the action that fills the label cache —
        // no dedicated label-count job — and `finish` releases the
        // kernel intermediate only after it.
        val cf = tiledClusters(
          scaledDf.select(col("cell_id"), col("f0"), col("f1"), col("f2")),
          eps, minSamples, tiles)
        clusters = cf._1; finish = cf._2
        val labeled = scaledDf
          .select(col("cell_id"), col("nx"), col("ny"), col("nz"),
            col("cx"), col("cy"), col("cz"))
          .join(clusters, "cell_id")
        // The per-cluster aggregate is O(#planes) — driver-tiny by problem
        // construction (the reference collects the FULL point set for its
        // global sklearn fit; this collects only the final plane rows).
        // Materializing it eagerly lets the tiled path release every cache
        // it created: no storage outlives the call.
        val agg = runAggregates(labeled)
        val rows = agg.collect().toIndexedSeq
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), agg.schema)
      } finally {
        if (finish != null) finish()
        if (clusters != null) clusters.unpersist(blocking = false)
        scaledDf.unpersist(blocking = false)
      }
    }
  }

  private def runAggregates(labeled: DataFrame): DataFrame =
    labeled.filter(col("cluster") =!= -1L)
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        avg("nx").as("avg_nx"), avg("ny").as("avg_ny"), avg("nz").as("avg_nz"),
        avg("cx").as("avg_cx"), avg("cy").as("avg_cy"), avg("cz").as("avg_cz"),
        min("cx").as("min_x"), max("cx").as("max_x"),
        min("cy").as("min_y"), max("cy").as("max_y"),
        min("cz").as("min_z"), max("cz").as("max_z"))
      .orderBy(col("cluster"))

  // ── Tiled DBSCAN (the 100 TB path) ──────────────────────────────────
  //
  // MR-DBSCAN-style margin merge over a 1-D feature grid on f0 (the
  // z-scored azimuth — the dominant, well-spread coordinate):
  //
  //   Phase 1: replicate each point to its grid cell plus any adjacent
  //     cell within eps of the boundary; per cell, count eps-neighbors of
  //     OWNED points only. Because every neighbor of an owned point is in
  //     the cell+margin (cell width ≥ eps), the core flag is EXACT — not
  //     an approximation.
  //   Phase 2: re-replicate with exact core flags attached; per cell,
  //     union-find the local core-core eps-graph. Every global core-core
  //     edge is witnessed in at least one run (an edge endpoint's margin
  //     contains the other), so the global core components are exactly
  //     the transitive closure of local components sharing a core point.
  //   Merge: distributed reduction to (a) bridge edges — core points seen
  //     in ≥2 runs — and (b) per-local-component min core id; only those
  //     (O(#components), not O(#points)) are collected for a driver
  //     union-find. Global ids are ranked by each merged component's
  //     minimum core cell_id, which reproduces the global kernel's
  //     seed-scan numbering for separated clusters.
  //   Border points take the cluster of their minimum-cell_id core
  //     neighbor (deterministic; identical to the global kernel whenever
  //     a border point touches a single cluster — ambiguous borders are
  //     order-dependent even in sklearn).
  //
  // Cost: two partition-local O(n_cell²) passes + two small shuffles —
  // the quadratic kernel is bounded per cell at any corpus size.

  private def grids(f0: Double, cellW: Double, eps: Double): Seq[Long] = {
    val c = math.floor(f0 / cellW).toLong
    var cs = List(c)
    if (f0 - c * cellW <= eps) cs ::= c - 1
    if ((c + 1) * cellW - f0 <= eps) cs ::= c + 1
    cs
  }

  private def d2(a: FPoint, b: FPoint): Double = {
    val d0 = a.f0 - b.f0; val d1 = a.f1 - b.f1; val d2 = a.f2 - b.f2
    d0 * d0 + d1 * d1 + d2 * d2
  }

  /** @param points (cell_id, f0, f1, f2)
    * @return (labels, finish). `labels` is (cell_id, cluster), cluster =
    *         -1 for noise, PERSISTED but not yet materialized; `finish`
    *         releases the kernel's intermediate cache. The caller runs
    *         one full action over the labels, then calls `finish()` —
    *         releasing the intermediate first would make the next action
    *         recompute the whole two-phase kernel chain — and owns the
    *         labels' final `unpersist()`.
    */
  def tiledClusters(
      points: DataFrame, eps: Double, minSamples: Int,
      tiles: Int): (DataFrame, () => Unit) = {
    val spark = points.sparkSession
    import spark.implicits._
    val eps2 = eps * eps
    // Features are z-scored, so ~4σ spans the data; the cell must be at
    // least eps wide or a neighbor could sit two cells away.
    val cellW = math.max(eps, 4.0 / tiles)

    val pts = points.select(col("cell_id").cast("long"),
      col("f0"), col("f1"), col("f2")).as[FPoint]

    // Phase 1: exact core flags. The count stops at minSamples — the
    // flag needs ≥, not the exact count, so a point inside a dense
    // cluster stops after its first ~minSamples neighbors instead of
    // scanning the whole cell (r11 sf1 rehearsal: wall-plane clusters
    // are eps-dense cliques, so the full scan made this pass O(n²) in
    // the cluster size; only genuinely sparse points now pay a full
    // cell scan, which is the linear cost of deciding "not core").
    //
    // r19 (guide §2.4 remove shuffles outright): phase 1 used to emit
    // bare (cell_id, core) rows that were JOINED back onto the point
    // relation before phase 2 re-replicated them — a cell_id exchange
    // of both sides plus a second scan of the points, for information
    // the owner cell already holds. The owner run knows the full point
    // AND its exact core flag, so it emits phase 2's replicas directly:
    // one shuffle (grid) feeds phase 1, one shuffle (grid) feeds
    // phase 2, and the core-flag join disappears. Emission is
    // byte-identical to the old join+flatMap (same grids(), same owned
    // marking, same exact flag), so the label math downstream is
    // untouched.
    val replC = pts
      .flatMap(p => grids(p.f0, cellW, eps).map(g =>
        FRepl(g, g == math.floor(p.f0 / cellW).toLong, p)))
      .groupByKey(_.grid)
      .flatMapGroups { (_, it) =>
        val all = it.toArray
        all.iterator.filter(_.owned).flatMap { r =>
          var n = 0
          var i = 0
          while (i < all.length && n < minSamples) {
            if (d2(r.p, all(i).p) <= eps2) n += 1
            i += 1
          }
          val core = n >= minSamples
          val own = math.floor(r.p.f0 / cellW).toLong
          grids(r.p.f0, cellW, eps).map(g =>
            FReplC(g, g == own, r.p, core))
        }
      }
    // Per cell: (kind, point_id, comp_key) rows. kind 0 = core membership
    // (bridge source, all cores), kind 1 = owned point's label ref.
    val emitted = replC.groupByKey(_.grid).flatMapGroups { (g, it) =>
      val all = it.toArray.sortBy(_.p.cell_id)
      val cores = all.filter(_.core)
      val parent = Array.tabulate(cores.length)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      def union(a: Int, b: Int): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // Local core components via a MICRO-BOX grid instead of the
      // all-pairs double loop (r11 sf1 rehearsal: dense clusters made
      // this pass O(cores²)). Boxes of width eps/√3 have diameter ≤ eps,
      // so same-box cores are PAIRWISE connected — union on insert, no
      // distance checks. Cross-box edges can only reach boxes ≤ 2 index
      // steps away per axis (eps = √3 box widths); for each such pair
      // the scan stops at the FIRST edge found — a union-find edge is
      // idempotent, so one witness merges the components and every
      // further pair is redundant (skipped up front when the roots
      // already agree). Exact: every eps-edge the double loop would
      // have applied is either within a box (pre-unioned) or between
      // boxes in the scanned neighborhood; dropping redundant edges
      // cannot change connected components, and labels derive from
      // component minima, not edge order.
      // The 1e-12 shrink keeps the box diagonal STRICTLY under eps in
      // floating point: fl(eps/√3)·√3 can exceed eps by a few ulps, and
      // a same-box pair at distance in (eps, eps+ulps] would then be
      // unioned without the d2 ≤ eps² check the all-pairs spec applies.
      // The margin is ~4 orders above double rounding and far below any
      // feature scale; the ±2-box neighborhood bound still holds since
      // eps/bw ≈ √3·(1+1e-12) < 2.
      val bw = eps / math.sqrt(3.0) * (1.0 - 1e-12)
      def boxKey(p: FPoint): (Long, Long, Long) =
        (math.floor(p.f0 / bw).toLong, math.floor(p.f1 / bw).toLong,
          math.floor(p.f2 / bw).toLong)
      // Per box: the union chain head, plus one REPRESENTATIVE core per
      // distinct position — the first (= minimum-index) core at that
      // exact coordinate triple. Distance predicates depend on position
      // only, so every cross-box ∃-edge search and the border min-id
      // lookup below scan representatives, not members: a corpus that
      // STACKS coincident points (the r12 sf100 rehearsal corpus
      // replicates the mesh geometry bit-identically per copy — every
      // jitter modulus divides the copy key stride — so clusters held
      // ~1000 coincident copies of each point) costs what its distinct
      // geometry costs, not stack² (q83 went from ENOSPC-adjacent
      // 40-minute territory to seconds). Exact: same-box members are
      // pairwise-unioned on insert regardless, and a representative's
      // index is minimal at its position because cores insert in
      // ascending index order.
      final class Box {
        var head: Int = -1
        val reps = scala.collection.mutable.ArrayBuffer.empty[Int]
        private val seen = scala.collection.mutable.HashSet.empty[(Double, Double, Double)]
        def add(ci: Int, p: FPoint): Unit = {
          if (head == -1) head = ci else union(head, ci)
          if (seen.add((p.f0, p.f1, p.f2))) reps += ci
        }
      }
      val boxes = scala.collection.mutable.LinkedHashMap
        .empty[(Long, Long, Long), Box]
      var ci = 0
      while (ci < cores.length) {
        boxes.getOrElseUpdate(boxKey(cores(ci).p), new Box).add(ci, cores(ci).p)
        ci += 1
      }
      for ((ka, as) <- boxes; dx <- -2L to 2L; dy <- -2L to 2L; dz <- -2L to 2L
           if (dx, dy, dz) != ((0L, 0L, 0L))) {
        val kb = (ka._1 + dx, ka._2 + dy, ka._3 + dz)
        // Each unordered box pair once (lexicographic order).
        if (kb._1 > ka._1 || (kb._1 == ka._1 && (kb._2 > ka._2
            || (kb._2 == ka._2 && kb._3 > ka._3)))) {
          boxes.get(kb).foreach { bs =>
            if (find(as.head) != find(bs.head)) {
              var i = 0
              var done = false
              while (i < as.reps.length && !done) {
                var j = 0
                while (j < bs.reps.length && !done) {
                  if (d2(cores(as.reps(i)).p, cores(bs.reps(j)).p) <= eps2) {
                    union(as.reps(i), bs.reps(j))
                    done = true
                  }
                  j += 1
                }
                i += 1
              }
            }
          }
        }
      }
      val comp = Array.tabulate(cores.length)(i => s"$g:${find(i)}")
      val coreRows = cores.iterator.zipWithIndex.map { case (c, i) =>
        (0, c.p.cell_id, comp(i))
      }
      // cell_id → core index once; the per-row indexWhere was O(cores)
      // per owned core — another quadratic-in-the-cluster pass (r11).
      val coreIdx = new java.util.HashMap[Long, Int](cores.length * 2)
      cores.indices.foreach(i => coreIdx.put(cores(i).p.cell_id, i))
      val ownedRows = all.iterator.filter(_.owned).flatMap { r =>
        if (r.core) {
          Iterator.single((1, r.p.cell_id, comp(coreIdx.get(r.p.cell_id))))
        } else {
          // Border: minimum-INDEX core neighbor decides (cores are
          // sorted by cell_id, so this is the min-id neighbor); noise
          // emits null. Core neighbors within eps can only sit in boxes
          // ≤ 2 index steps away per axis, and the minimum index over
          // qualifying cores equals the minimum over qualifying
          // REPRESENTATIVES (each rep is minimal at its position, and
          // coincident cores are interchangeable under d2) — so this is
          // the old linear all-cores scan minus the stack blowup.
          var best = -1
          val (kx, ky, kz) = boxKey(r.p)
          var dx = -2L
          while (dx <= 2L) {
            var dy = -2L
            while (dy <= 2L) {
              var dz = -2L
              while (dz <= 2L) {
                boxes.get((kx + dx, ky + dy, kz + dz)).foreach { b =>
                  var i = 0
                  while (i < b.reps.length) {
                    val c = b.reps(i)
                    if ((best == -1 || c < best) && d2(cores(c).p, r.p) <= eps2) best = c
                    i += 1
                  }
                }
                dz += 1
              }
              dy += 1
            }
            dx += 1
          }
          Iterator.single((1, r.p.cell_id, if (best == -1) null else comp(best)))
        }
      }
      coreRows ++ ownedRows
    }.toDF("kind", "point_id", "comp_key").persist()
    // try/catch below: emitted must unpersist on failure paths too (a
    // thrown collect would otherwise leak it for the session life); on
    // success its release is the returned `finish`, fired by the caller
    // AFTER the labels materialize.
    val out = try {

    // Distributed reduction to the tiny merge inputs. The two
    // reductions are independent aggregates over the same persisted
    // relation; r19 ran them as two CONCURRENT jobs (guide §2.6), r20
    // folds them into ONE job via a tagged union (guide §2.4 — the
    // latency here is scheduler round trips, not compute: both inputs
    // are O(#components) rows over a cached relation). One action
    // materializes `emitted` exactly once and returns both relations;
    // rows are tagged 0 = bridge edge (a, b), 1 = component minimum
    // (comp_key, min_id as its string form — parsed back below; ids are
    // longs so the round-trip is exact).
    val coreRows = emitted.filter(col("kind") === 0)
    val bridgeRel = coreRows
      .groupBy(col("point_id")).agg(collect_set(col("comp_key")).as("ks"))
      .filter(size(col("ks")) > 1)
      .select(explode(expr(
        "transform(sequence(2, size(ks)), i -> struct(ks[0] as a, ks[i-1] as b))")).as("e"))
      .select(col("e.a"), col("e.b")).distinct()
      .select(lit(0).as("t"), col("a"), col("b"))
    val minsRel = coreRows
      .groupBy(col("comp_key")).agg(min(col("point_id")).as("min_id"))
      .select(lit(1).as("t"), col("comp_key").as("a"),
        col("min_id").cast("string").as("b"))
    val merged = bridgeRel.unionByName(minsRel).collect()
    val bridgePairs = merged.iterator.filter(_.getInt(0) == 0)
      .map(r => (r.getString(1), r.getString(2))).toArray
    val compMins = merged.iterator.filter(_.getInt(0) == 1)
      .map(r => (r.getString(1), r.getString(2).toLong)).toArray

    // Driver union-find over local components (O(#components)).
    val parent = scala.collection.mutable.Map[String, String]()
    def find(k: String): String = {
      var r = k
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = k
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    compMins.foreach { case (k, _) => parent.getOrElseUpdate(k, k) }
    bridgePairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(rb) = ra
    }
    val rootMin = compMins.groupBy { case (k, _) => find(k) }
      .map { case (root, ms) => root -> ms.map(_._2).min }
    // Seed-scan numbering: rank merged components by min core cell_id.
    val rootId = rootMin.toSeq.sortBy(_._2).zipWithIndex
      .map { case ((root, _), i) => root -> i.toLong }.toMap
    val compToGlobal = compMins.map { case (k, _) => k -> rootId(find(k)) }.toSeq

    val mapDf = spark.createDataFrame(compToGlobal).toDF("comp_key", "cluster")
    emitted.filter(col("kind") === 1)
      .join(broadcast(mapDf), Seq("comp_key"), "left")
      .select(col("point_id").as("cell_id"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
      .persist()

    } catch { case t: Throwable =>
      emitted.unpersist(blocking = false); throw t
    }
    (out, () => emitted.unpersist(blocking = false))
  }
}
