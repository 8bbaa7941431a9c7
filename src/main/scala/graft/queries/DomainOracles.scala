package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GeoSql, ProjectionSql}
import graft.pipeline.{Detection, RayMesh, StreetLevel, Synthetic, WallPlanes}

/** Partial DuckDB oracles for the street-level chain (round-2 follow-up
  * to VERDICT.md "What's missing" #1).
  *
  * The flagship queries q80/q82/q83/q86/q87 are rows-only: the greedy
  * grouping is order-dependent and DBSCAN/BVH are not SQL-expressible in
  * full. But each has a DETERMINISTIC SLICE that is: restrict the input
  * to detections with NO positive-IoU partner (SQL-expressible via the
  * q81 invariant machinery — all float ops exact, so the isolated set is
  * bit-identical across engines), and the greedy kernel's behavior is
  * fully predictable: stage 1 of bbox_grouping.py:34-37 makes every box
  * a standalone group in index order. Running the REAL kernels
  * (flatMapGroups grouping, vertexRays UDF, BVH ray cast) on that slice
  * and oracling the result in DuckDB is a true differential test of the
  * production code path — not a restatement of the oracle.
  *
  * Float discipline: arithmetic (+,−,×,÷,%) is IEEE-deterministic and
  * mirrored op-for-op, so it is bitwise identical across engines; only
  * libm trig drifts (≈1-2 ulp measured on this container). Ray outputs
  * round to 6 (unit-sphere scale); mesh-hit coordinates round to 3
  * (coordinates up to ~5000 with origin-magnitude rounding amplification
  * — see q94 notes).
  */
object DomainOracles {

  private val W = 8000.0

  // ── Shared Spark-side pieces ──────────────────────────────────────────

  /** Detections with no positive-IoU partner in their panorama: the
    * anti-join against the kind-1 rows of the persisted pair sweep
    * ([[Domain.sweepCombined]]; q81 already ran the enumeration, so this
    * is a cache scan). Deliberately not via the grouping kernel — the
    * two share only IouKernel — so the kernel run downstream is
    * differentially tested against this definition; the relational
    * oracle (isoCte) keeps the declarative one.
    */
  private def isolated(spark: SparkSession, dir: String): DataFrame = {
    val det = Synthetic.detectionsCached(spark, dir)
    val partnered = Domain.sweepCombined(spark, dir)
      .filter(col("kind") === 1)
      .select(col("file_name"), col("a_idx").as("det_idx"))
    det.join(partnered, Seq("file_name", "det_idx"), "left_anti")
  }

  /** The real greedy kernel run on the isolated slice (every box becomes
    * a stage-1 standalone group, so group_idx is SQL-predictable).
    * Shared by q88/q89/q94 — persisted once per (session, sfDir) so the
    * O(n²) partner join and the kernel run once, not three times (same
    * materialized-intermediate pattern as Domain.grouped).
    */
  private def isolatedGrouped(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.SessionCache.getOrPersist(spark, s"isolatedGrouped:$dir") {
      import spark.implicits._
      val iso = isolated(spark, dir).withColumnRenamed("class", "cls").as[Detection]
      StreetLevel.groupedDetections(iso, 0.01).toDF()
    }

  // ── Shared oracle CTE: det → invariants → partnered → isolated ───────

  private val isoCte: String = s"""
    WITH det AS (${Synthetic.detectionsSql}),
    inv AS (SELECT file_name, det_idx, x1, y1, x2, y2,
                   ${GeoSql.boxInvariantsSelect(W)}
            FROM det),
    prt AS (SELECT DISTINCT a.file_name, a.det_idx
            FROM inv a JOIN inv b
              ON a.file_name = b.file_name AND a.det_idx <> b.det_idx
            WHERE ${GeoSql.iouFromInvariantsExpr("a", "b")} > 0.0),
    iso AS (SELECT i.file_name, i.det_idx, i.x1, i.y1, i.x2, i.y2,
                   (row_number() OVER (PARTITION BY i.file_name ORDER BY i.det_idx) - 1)::INT AS group_idx
            FROM inv i ANTI JOIN prt p
              ON i.file_name = p.file_name AND i.det_idx = p.det_idx)"""

  /** Ring vertices for the stride-2 subsample of the 5-vertex bbox ring:
    * v_idx 0 = (x1,y1), 2 = (x2,y2), 4 = (x1,y1) — mirrors
    * StreetLevel.vertexRays' posexplode + `v_idx % 2 = 0` filter.
    * `base` must expose file_name, x1, y1, x2, y2.
    */
  private def ringAndRaysCte(base: String): String = s"""
    p AS (${Synthetic.posesSql}),
    ip AS (SELECT i.*, p.roll, p.pitch, p.heading, p.ox, p.oy, p.oz
           FROM $base i JOIN p USING (file_name)),
    ring AS (SELECT ip.*, u.v.v_idx AS v_idx, u.v.vx AS vx, u.v.vy AS vy
             FROM ip, (SELECT unnest([
                {v_idx: 0, vx: ip.x1, vy: ip.y1},
                {v_idx: 2, vx: ip.x2, vy: ip.y2},
                {v_idx: 4, vx: ip.x1, vy: ip.y1}]) AS v) u),
    trig AS (${ProjectionSql.trigCte("ring")}),
    rays AS (${ProjectionSql.rayCte("trig")})"""

  // ── Möller-Trumbore oracle fragments over the synthetic building ─────

  /** Triangle VALUES literal generated from the SAME mesh object the
    * Spark side broadcasts (integer coordinates — exact literals).
    */
  private def trisValues: String = {
    val ts = RayMesh.syntheticBuilding().tris
    (0 until ts.length / 9).map { i =>
      val o = i * 9
      (0 until 9).map(j => ts(o + j).toString).mkString("(", ", ", ")")
    }.mkString(",\n      ")
  }

  /** Brute-force Möller-Trumbore over [[trisValues]], op-for-op the same
    * float math as TriMesh.triHit (the *(1/det) form, 1e-12/1e-9
    * epsilons), min-t per ray. Follows a `rays` CTE; yields `hit`
    * (file_name, group_idx, v_idx, bt). Shared by q94's exact oracle and
    * q86's eps oracle so the differential has one spelling.
    */
  private def mtHitCtes: String = s"""
        tris AS (SELECT * FROM (VALUES
      $trisValues
        ) t(ax, ay, az, bx, by, bz, tcx, tcy, tcz)),
        rt AS (SELECT r.file_name, r.group_idx, r.v_idx, r.ox, r.oy, r.oz,
                      (r.rx) - (r.ox) AS dx, (r.ry) - (r.oy) AS dy, (r.rz) - (r.oz) AS dz,
                      t.* FROM rays r CROSS JOIN tris t),
        e AS (SELECT *, (bx)-(ax) AS e1x, (by)-(ay) AS e1y, (bz)-(az) AS e1z,
                     (tcx)-(ax) AS e2x, (tcy)-(ay) AS e2y, (tcz)-(az) AS e2z FROM rt),
        pp AS (SELECT *, (dy)*(e2z) - (dz)*(e2y) AS px,
                      (dz)*(e2x) - (dx)*(e2z) AS py,
                      (dx)*(e2y) - (dy)*(e2x) AS pz FROM e),
        dd AS (SELECT *, (e1x)*(px) + (e1y)*(py) + (e1z)*(pz) AS det,
                      (ox)-(ax) AS tx, (oy)-(ay) AS ty, (oz)-(az) AS tz FROM pp),
        uu AS (SELECT *, ((tx)*(px) + (ty)*(py) + (tz)*(pz)) * (1.0/(det)) AS u,
                      (ty)*(e1z) - (tz)*(e1y) AS qx,
                      (tz)*(e1x) - (tx)*(e1z) AS qy,
                      (tx)*(e1y) - (ty)*(e1x) AS qz
               FROM dd WHERE abs(det) >= 1e-12),
        vv AS (SELECT *, ((dx)*(qx) + (dy)*(qy) + (dz)*(qz)) * (1.0/(det)) AS v,
                      ((e2x)*(qx) + (e2y)*(qy) + (e2z)*(qz)) * (1.0/(det)) AS t
               FROM uu WHERE u >= 0.0 AND u <= 1.0),
        hit AS (SELECT file_name, group_idx, v_idx, min(t) AS bt
                FROM vv WHERE v >= 0.0 AND (u)+(v) <= 1.0 AND t > 1e-9
                GROUP BY 1, 2, 3)"""

  /** Eps-oracle prologue (VERDICT r11 #3): the REAL grouping kernel's
    * materialized output ([[GroupedDetectionsTable]]) as input, then the
    * full downstream chain — bestPerGroup's exact window spelling
    * (idxmax ⇒ score DESC, det_idx), pose join, stride-2 ring, pixel→ray
    * trig — in SQL. Taking the kernel's labels as INPUT is the point:
    * the greedy grouping is pinned by BBoxSpec/q88, and this verifies
    * every VALUE computed after it over the real (not isolated) rows,
    * which only ULP drift kept rows-only before.
    */
  private[queries] def raysFromGroupedCte(groupedPath: String): String = s"""
    WITH g AS (SELECT file_name, det_idx, x1, y1, x2, y2, score, group_idx
               FROM read_parquet('$groupedPath/*.parquet')),
    best AS (SELECT file_name, group_idx, x1, y1, x2, y2 FROM (
               SELECT g.*, row_number() OVER (PARTITION BY file_name, group_idx
                 ORDER BY score DESC, det_idx) AS rn FROM g) WHERE rn = 1),
    ${ringAndRaysCte("best")}"""

  /** q82's eps oracle: ray ENDPOINTS over the real grouped corpus. */
  private[queries] def bestRaysEpsSql(groupedPath: String): String = s"""
    ${raysFromGroupedCte(groupedPath)}
    SELECT file_name, group_idx, v_idx::INT AS v_idx,
           round(rx, 6) AS rx, round(ry, 6) AS ry, round(rz, 6) AS rz
    FROM rays ORDER BY file_name, group_idx, v_idx"""

  /** q86's eps oracle: per-panorama first-hit aggregate over the real
    * grouped corpus, differentially against the brute-force SQL
    * Möller-Trumbore (the Spark side runs the broadcast BVH).
    */
  private[queries] def meshHitsEpsSql(groupedPath: String): String = s"""
    ${raysFromGroupedCte(groupedPath)},
    $mtHitCtes
    SELECT r.file_name, count(*) AS n_rays, count(h.bt) AS n_hits,
           round(avg((r.oz) + (h.bt)*((r.rz)-(r.oz))), 6) AS avg_hit_z
    FROM rays r LEFT JOIN hit h
      ON r.file_name = h.file_name AND r.group_idx = h.group_idx
     AND r.v_idx = h.v_idx
    GROUP BY r.file_name ORDER BY r.file_name"""

  /** q80's eps oracle: the label-invariant per-group projection (size,
    * min-member id, score sum — VERDICT r12 #2) over the materialized
    * grouping-kernel output. GROUP BY keeps the kernel's own group_idx
    * partition; the SELECT re-keys each group by its canonical minimum
    * member, so the compared rows carry no order-dependent label.
    */
  private[queries] def groupProjectionEpsSql(groupedPath: String): String = s"""
    SELECT file_name, min(det_idx) AS min_member, count(*) AS group_size,
           round(sum(score), 6) AS score_sum
    FROM read_parquet('$groupedPath/*.parquet')
    GROUP BY file_name, group_idx
    ORDER BY file_name, min_member"""

  /** q83's eps oracle: per-cluster (size, centroid, bounds — VERDICT r12
    * #2) aggregated by DuckDB over the materialized GLOBAL-kernel label
    * assignment, raced against q83's dumped TILED output — one race
    * verifies the aggregate math cross-engine AND re-proves tiled≡global
    * on the live corpus.
    */
  private[queries] def wallPlanesEpsSql(clustersPath: String): String = s"""
    SELECT cluster, count(*) AS n,
           round(avg(nx), 6) AS avg_nx, round(avg(ny), 6) AS avg_ny,
           round(avg(cx), 6) AS avg_cx, round(avg(cy), 6) AS avg_cy,
           round(min(cx), 6) AS min_x, round(max(cx), 6) AS max_x
    FROM read_parquet('$clustersPath/*.parquet')
    WHERE cluster <> -1
    GROUP BY cluster ORDER BY cluster"""

  val all: Seq[QueryDef] = Seq(

    // ── Partial oracle for q80: the grouping kernel's standalone rule
    // (bbox_grouping.py:34-37, strict `> 0`) on the isolated slice. The
    // Spark side runs the REAL flatMapGroups kernel; the oracle predicts
    // its output relationally: every isolated box is a singleton group,
    // numbered in det_idx order.
    QueryDef(
      "q88_isolated_groups",
      Some(s"""
        $isoCte
        SELECT file_name, det_idx, group_idx
        FROM iso ORDER BY file_name, det_idx"""),
      // Last reader (sweep-sorted) of the fused sweep relation: q81
      // built it; isolatedGrouped's build here is its final consumer.
      releases = Seq("sweepIou"))( (spark, dir) =>
      isolatedGrouped(spark, dir)
        .select(col("file_name"), col("det_idx"), col("group_idx"))
        .orderBy(col("file_name"), col("det_idx"))),

    // ── Partial oracle for q82: the full pixel→3D-ray chain (pose
    // fixups, spherical conversion, Rz·Ry·Rx rotation, origin translate)
    // through the REAL rayUdf, on the isolated slice where best-per-group
    // is the identity. The oracle spells the identical float ops in SQL
    // (ProjectionSql); only libm trig drifts, absorbed by round(·, 6).
    // Output is the ray DIRECTION (endpoint − origin): the endpoint
    // itself carries the origin's float magnitude, so a 1-ulp
    // representation flip there is ~1.5e-11 — enough to straddle a
    // round-6 boundary once per ~10⁷ values (observed at sf0.1). The
    // subtraction is exact (Sterbenz: both operands within 2× of ox), so
    // directions re-shrink the drift to the ~1e-15 trig level.
    QueryDef(
      "q89_isolated_rays",
      Some(s"""
        $isoCte,
        ${ringAndRaysCte("iso")}
        SELECT file_name, group_idx, v_idx::INT AS v_idx,
               round((rx) - (ox), 6) AS dx, round((ry) - (oy), 6) AS dy,
               round((rz) - (oz), 6) AS dz
        FROM rays ORDER BY file_name, group_idx, v_idx"""))( (spark, dir) =>
      StreetLevel.vertexRays(isolatedGrouped(spark, dir), Synthetic.poses(spark, dir), spacing = 2)
        .select(col("file_name"), col("group_idx"), col("v_idx"),
          round(col("rx") - col("ox"), 6).as("dx"),
          round(col("ry") - col("oy"), 6).as("dy"),
          round(col("rz") - col("oz"), 6).as("dz"))
        .orderBy(col("file_name"), col("group_idx"), col("v_idx"))),

    // ── Large-surface oracle for the pixel→ray operator itself: run
    // vertexRays over ALL detections under a degenerate one-box-per-group
    // assignment (group_idx = det_idx − 1), so best-per-group is identity
    // and the kernel dependency disappears — every detection contributes
    // 3 oracled rays (q89's 18-box slice pins the kernel; this pins the
    // math at 60k boxes / sf0.01 scale).
    QueryDef(
      "q95_all_rays",
      Some(s"""
        WITH det AS (${Synthetic.detectionsSql}),
        base AS (SELECT file_name, (det_idx - 1)::INT AS group_idx, x1, y1, x2, y2 FROM det),
        ${ringAndRaysCte("base")}
        SELECT file_name, group_idx, v_idx::INT AS v_idx,
               round((rx) - (ox), 6) AS dx, round((ry) - (oy), 6) AS dy,
               round((rz) - (oz), 6) AS dz
        FROM rays ORDER BY file_name, group_idx, v_idx"""),
      // Last consumer (sorted order) of the raw detections cache.
      releases = Seq("detections"))( (spark, dir) => {
      // Direction output, not endpoint — see q89's rounding-margin note.
      val det = Synthetic.detectionsCached(spark, dir)
        .withColumn("group_idx", (col("det_idx") - 1).cast("int"))
      // group_idx = det_idx − 1 is unique per row by construction, so
      // best-per-group is the identity (the oracle SQL above encodes the
      // same: base feeds rays directly) — assert it and skip the window's
      // full-detections shuffle (r19 optimization; guide §2.4).
      StreetLevel.vertexRays(det, Synthetic.poses(spark, dir), spacing = 2,
        inputIsBestPerGroup = true)
        .select(col("file_name"), col("group_idx"), col("v_idx"),
          round(col("rx") - col("ox"), 6).as("dx"),
          round(col("ry") - col("oy"), 6).as("dy"),
          round(col("rz") - col("oz"), 6).as("dz"))
        .orderBy(col("file_name"), col("group_idx"), col("v_idx"))
    }),

    // ── Partial oracle for q83: the relational prologue of the wall-plane
    // pipeline (MeshWallExtractror.py:43-63 — vertical filter, azimuth,
    // feature weighting, StandardScaler z-norm) through the SAME
    // scaledFeatures code path wallPlanes feeds to DBSCAN.
    QueryDef(
      "q93_wall_prologue",
      Some({
        def pm(e: String, m: String) =
          s"(CASE WHEN (($e) % $m) < 0 THEN (($e) % $m) + $m ELSE (($e) % $m) END)"
        val angle = pm("(atan2(ny, nx) * 180.0 / pi())", "360.0")
        s"""
        WITH cells AS (${Synthetic.meshCellsSql}),
        feat AS (SELECT cell_id, $angle * 10000.0 AS w0, cx * 0.001 AS w1, cy * 0.001 AS w2
                 FROM cells WHERE abs(nz) < 0.1),
        stats AS (SELECT avg(w0) AS m0, coalesce(stddev_pop(w0), 1.0) AS s0,
                         avg(w1) AS m1, coalesce(stddev_pop(w1), 1.0) AS s1,
                         avg(w2) AS m2, coalesce(stddev_pop(w2), 1.0) AS s2
                  FROM feat)
        SELECT cell_id,
               round((w0 - m0) / (CASE WHEN s0 = 0.0 THEN 1.0 ELSE s0 END), 6) AS f0,
               round((w1 - m1) / (CASE WHEN s1 = 0.0 THEN 1.0 ELSE s1 END), 6) AS f1,
               round((w2 - m2) / (CASE WHEN s2 = 0.0 THEN 1.0 ELSE s2 END), 6) AS f2
        FROM feat, stats ORDER BY cell_id"""
      }))( (spark, dir) =>
      // Through Synthetic.wallFeatures: when the input table is
      // materialized, this oracle checks the PERSISTED feature relation
      // end-to-end (parquet round-trips doubles bit-exactly, so the
      // derivation mirror still matches).
      Synthetic.wallFeatures(spark, dir)
        .select(col("cell_id"),
          round(col("f0"), 6).as("f0"), round(col("f1"), 6).as("f1"),
          round(col("f2"), 6).as("f2"))
        .orderBy(col("cell_id"))),

    // ── Partial oracle for q86: the REAL broadcast-BVH ray cast
    // (RayMesh.firstHits) on the isolated rays, oracled by brute-force
    // Möller-Trumbore over the same 16 triangle literals in SQL — op-for-
    // op the same float math as TriMesh.triHit (incl. the *(1/det) form
    // and the 1e-12/1e-9 epsilons), min-t per ray. Hits round to 3: the
    // ray endpoint carries the origin's float magnitude, so the direction
    // (endpoint − origin) can differ by one ulp of the ORIGIN between
    // engines; scaled by hit distance that bounds agreement near 1e-7.
    QueryDef(
      "q94_isolated_hits",
      Some(s"""
        $isoCte,
        ${ringAndRaysCte("iso")},
        $mtHitCtes
        SELECT r.file_name, r.group_idx, r.v_idx::INT AS v_idx,
               round((r.ox) + (h.bt)*((r.rx)-(r.ox)), 3) AS hit_x,
               round((r.oy) + (h.bt)*((r.ry)-(r.oy)), 3) AS hit_y,
               round((r.oz) + (h.bt)*((r.rz)-(r.oz)), 3) AS hit_z
        FROM rays r LEFT JOIN hit h
          ON r.file_name = h.file_name AND r.group_idx = h.group_idx
         AND r.v_idx = h.v_idx
        ORDER BY r.file_name, r.group_idx, r.v_idx"""),
      releases = Seq("isolatedGrouped"))( (spark, dir) => {
      val rays = StreetLevel.vertexRays(
        isolatedGrouped(spark, dir), Synthetic.poses(spark, dir), spacing = 2)
      RayMesh.firstHits(rays, RayMesh.syntheticBuilding())
        .select(col("file_name"), col("group_idx"), col("v_idx"),
          round(col("hit_x"), 3).as("hit_x"), round(col("hit_y"), 3).as("hit_y"),
          round(col("hit_z"), 3).as("hit_z"))
        .orderBy(col("file_name"), col("group_idx"), col("v_idx"))
    })
  )
}
