package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic detection/pose/mesh-cell derivations from the driver
  * testdata — the domain pipeline's harness inputs. The testdata has no
  * panorama JSONs, so the domain queries derive reference-shaped rows
  * from lineitem/part with pure column arithmetic (no randomness, no
  * UDFs): every value is a closed-form function of the table keys, so
  * the DuckDB oracle can mirror the derivation where the downstream
  * operator is SQL-expressible, and sf scaling carries over (600k
  * detections at sf0.1 — a real grouping workload).
  */
object Synthetic {

  val W = 8000.0
  val H = 4000.0

  /** One detection per lineitem row, grouped into panoramas of ~150
    * detections each (38 consecutive orderkeys ≈ 150 lineitems): panorama
    * COUNT scales with sf while detections-per-panorama stays constant,
    * so the per-group O(n²) grouping kernel is bounded regardless of
    * scale — the same shape a real corpus has (more photos, not denser
    * ones). Three deliberate box shapes: normal, wrapped (x2 < x1 after
    * mod — already-swapped seam style), and >95%-span (triggers the
    * constructor swap, bbox.py:16-20). Scores in [0,1) with a
    * deterministic tie structure.
    */
  def detections(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val fileId = col("pano")
    val giant = col("l_quantity") > 45 // ~10% of rows: >95%-span boxes
    // Lineitems of one order are jittered copies of an order-keyed base
    // box, so each order forms a near-duplicate cluster (1-7 boxes) —
    // detections of the same physical object across overlapping views.
    val jx = (col("l_linenumber") - 1) * 23.0 + pmod(col("l_partkey") * 3.0, lit(40.0))
    val jy = (col("l_linenumber") - 1) * 17.0 + pmod(col("l_suppkey") * 5.0, lit(30.0))
    val x1n = pmod(col("l_orderkey") * 131.0, lit(7600.0)) + jx
    val x2n = x1n + 150.0 + pmod(col("l_orderkey") * 61.0, lit(350.0))
    val x1 = when(giant, pmod(col("l_orderkey") * 7.0, lit(100.0)) + jx).otherwise(x1n)
    val x2 = when(giant, x1 + 7700.0).otherwise(pmod(x2n, lit(W)))
    val y1 = pmod(col("l_orderkey") * 17.0, lit(3400.0)) + jy
    val y2 = y1 + 120.0 + pmod(col("l_orderkey") * 37.0, lit(250.0))
    // det_idx: row_number over a TOTAL order within the panorama. The
    // testdata has duplicate (l_orderkey, l_linenumber) pairs, so a
    // key-arithmetic id would collide — and with duplicate ids the
    // order-dependent greedy grouping becomes plan-dependent. Remaining
    // ties after this order are fully-identical rows (identical derived
    // boxes), which are interchangeable. The window partitions by
    // panorama, so the sort is parallel, never global.
    val keys = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_extendedprice", "l_quantity", "l_discount").map(col)
    val detIdx = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(fileId).orderBy(keys: _*))
    // Rank first, derive above the window. The analyzer evaluates every
    // non-window expression of a window's select list BELOW its exchange,
    // and the scan under it is one task per input split (one, for a
    // single-row-group file) — so the derivation ran single-threaded and
    // its 8 derived columns (file-name strings included) rode the shuffle
    // beside the 7 keys. Selected above the window, it runs at the
    // window's post-shuffle parallelism and only the panorama id and the
    // keys are shuffled. No round-robin exchange ahead of the window:
    // that is a second full shuffle of lineitem (and at production scale
    // would SHRINK a many-split scan).
    li.select(floor(col("l_orderkey") / 38).cast("long").as("pano") +: keys: _*)
      .select(col("*"), detIdx.as("det_idx"))
      .select(
        // format_string, NOT lpad: both Spark's and DuckDB's lpad TRUNCATE
        // a string longer than the pad width, so beyond 999,999 panoramas
        // ten fileIds collapse into one file_name — the r11 sf10 rehearsal
        // caught this as 1789-box "panoramas" (10 merged) feeding the
        // per-panorama kernels 20× the pair work and wrong groups. %06d
        // pads but never truncates; names are identical below 10⁶.
        format_string("pano_%06d.jpg", fileId).as("file_name"),
        col("det_idx").cast("long").as("det_idx"),
        x1.as("x1"), y1.as("y1"), x2.as("x2"), y2.as("y2"),
        round(pmod(col("l_extendedprice"), lit(997.0)) / 997.0, 6).as("score"),
        element_at(
          array(lit(1), lit(2), lit(3), lit(4), lit(7), lit(8), lit(9), lit(10)),
          (pmod(col("l_partkey"), lit(8)) + 1).cast("int")).as("class"))
  }

  /** [[detections]] persisted once per (session, sfDir) — the derivation
    * (a 600k-row window at sf0.1) feeds a dozen declared queries and both
    * sides of the pair joins; every consumer after the first reads the
    * columnar cache.
    *
    * When [[DetectionsTable]] has a committed materialization for this
    * sfDir (Bench/Verify ensure one up front), the cache entry is a SCAN
    * of that table instead of the derivation — the 100 TB shape, where
    * detections is an input table written by the upstream Dag job and the
    * per-query cost is a column-pruned parquet read, not a corpus-wide
    * window. Parquet round-trips doubles bit-exactly, so the two builds
    * are value-identical (DagSpec pins this; the driver's q85 oracle
    * checks the table-read path end-to-end).
    */
  def detectionsCached(spark: SparkSession, sfDir: String): DataFrame =
    SessionCache.getOrPersist(spark, s"detections:$sfDir") {
      DetectionsTable.materializedPath(sfDir) match {
        case Some(p) => spark.read.parquet(p)
        case None => detections(spark, sfDir)
      }
    }

  /** DuckDB mirror of [[detections]] as a CTE body (same ops, same float
    * order) so downstream SQL-expressible queries keep full oracles.
    */
  def detectionsSql: String = {
    def pm(e: String, m: String) =
      s"(CASE WHEN (($e) % $m) < 0 THEN (($e) % $m) + $m ELSE (($e) % $m) END)"
    val jx = s"((l_linenumber - 1) * 23.0 + ${pm("l_partkey * 3.0", "40.0")})"
    val jy = s"((l_linenumber - 1) * 17.0 + ${pm("l_suppkey * 5.0", "30.0")})"
    val x1n = s"(${pm("l_orderkey * 131.0", "7600.0")} + $jx)"
    val x2n = s"($x1n + 150.0 + ${pm("l_orderkey * 61.0", "350.0")})"
    val x1g = s"(${pm("l_orderkey * 7.0", "100.0")} + $jx)"
    s"""SELECT
         printf('pano_%06d.jpg', floor(l_orderkey / 38)::BIGINT) AS file_name,
         row_number() OVER (PARTITION BY floor(l_orderkey / 38)
           ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                    l_extendedprice, l_quantity, l_discount)::BIGINT AS det_idx,
         CASE WHEN l_quantity > 45 THEN $x1g ELSE $x1n END AS x1,
         ${pm("l_orderkey * 17.0", "3400.0")} + $jy AS y1,
         CASE WHEN l_quantity > 45 THEN (CASE WHEN l_quantity > 45 THEN $x1g ELSE $x1n END) + 7700.0
              ELSE ${pm(x2n, "8000.0")} END AS x2,
         (${pm("l_orderkey * 17.0", "3400.0")} + $jy) + 120.0 + ${pm("l_orderkey * 37.0", "250.0")} AS y2,
         round(${pm("l_extendedprice", "997.0")} / 997.0, 6) AS score,
         ([1,2,3,4,7,8,9,10])[(${pm("l_partkey", "8")} + 1)::INT] AS class
       FROM lineitem"""
  }

  /** One pose row per panorama, FIXTURES.md B3-shaped, key-derived from
    * the panorama id — covers exactly the panoramas [[detections]] emits
    * at any sf (distinct-on-derived-key, a small dimension next to the
    * detection fact table; broadcast at join time).
    */
  def poses(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.lineitem(spark, sfDir)
      .select(floor(col("l_orderkey") / 38).cast("long").as("id")).distinct()
    ids.select(
      format_string("pano_%06d.jpg", col("id")).as("file_name"), // no-truncate (see detections)
      (pmod(col("id") * 13.0, lit(7.0)) - 3.0).as("roll"),
      (pmod(col("id") * 11.0, lit(5.0)) - 2.0).as("pitch"),
      pmod(col("id") * 37.0, lit(360.0)).as("heading"),
      (col("id") * 3.5).as("ox"),
      // `+ 0.0` normalizes the signed zero at id = 0: Spark's 0 * -2.0 is
      // IEEE -0.0 while DuckDB emits +0.0, and the driver hash is
      // bit-sensitive (round-2 q70 red). IEEE: -0.0 + 0.0 = +0.0 on both.
      (col("id") * -2.0 + 0.0).as("oy"),
      (col("id") + 50.0).as("oz"))
  }

  /** DuckDB mirror of [[poses]] as a CTE body — same ops, same float
    * order (all arithmetic is exact: integer-valued doubles below 2^53).
    */
  def posesSql: String = {
    def pm(e: String, m: String) =
      s"(CASE WHEN (($e) % $m) < 0 THEN (($e) % $m) + $m ELSE (($e) % $m) END)"
    s"""SELECT
         printf('pano_%06d.jpg', id) AS file_name,
         ${pm("id * 13.0", "7.0")} - 3.0 AS roll,
         ${pm("id * 11.0", "5.0")} - 2.0 AS pitch,
         ${pm("id * 37.0", "360.0")} AS heading,
         id * 3.5 AS ox,
         id * -2.0 + 0.0 AS oy,
         id + 50.0 AS oz
       FROM (SELECT DISTINCT floor(l_orderkey / 38)::BIGINT AS id FROM lineitem)"""
  }

  /** DuckDB mirror of [[meshCells]] as a CTE body. Spark's `radians` is
    * Math.toRadians = deg/180*π — spelled explicitly (not DuckDB's
    * radians()) so the op order matches; sin/cos are libm on both sides
    * (≈1-ulp drift), so consumers must round outputs.
    */
  def meshCellsSql: String = {
    def pm(e: String, m: String) =
      s"(CASE WHEN (($e) % $m) < 0 THEN (($e) % $m) + $m ELSE (($e) % $m) END)"
    val family = pm("p_partkey", "4")
    val jitter = s"((${pm("p_partkey * 13.0", "100.0")} / 100.0 - 0.5) * 4.0)"
    val angleRad = s"(($family * 90.0 + $jitter) / 180.0 * pi())"
    val vertical = s"(${pm("p_partkey * 29.0", "100.0")} < 12.0)"
    val vScale = s"(CASE WHEN $vertical THEN 0.3 ELSE 1.0 END)"
    s"""SELECT
         p_partkey AS cell_id,
         cos($angleRad) * $vScale AS nx,
         sin($angleRad) * $vScale AS ny,
         CASE WHEN $vertical THEN 0.95
              ELSE ${pm("p_partkey * 3.0", "100.0")} / 1000.0 END AS nz,
         $family * 50.0 + ${pm("p_partkey * 7.0", "200.0")} / 100.0 AS cx,
         $family * -30.0 + ${pm("p_partkey * 11.0", "150.0")} / 100.0 AS cy,
         ${pm("p_partkey * 5.0", "300.0")} / 10.0 AS cz
       FROM part"""
  }

  /** The wall-plane FEATURE relation ([[WallPlanes.scaledFeatures]] over
    * [[meshCells]], pruned to the clustering contract's ten columns) —
    * the derivation [[WallFeaturesTable]] materializes.
    */
  def wallFeaturesDerived(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.WallPlanes.scaledFeatures(meshCells(spark, sfDir))
      .select(col("cell_id"), col("nx"), col("ny"), col("nz"),
        col("cx"), col("cy"), col("cz"), col("f0"), col("f1"), col("f2"))

  /** The feature relation consumers use: a column-pruned scan of the
    * committed [[WallFeaturesTable]] materialization when one exists
    * (Bench/Verify ensure it up front — the 100 TB shape, where the
    * feature derivation ran once in the upstream Dag job), else the live
    * derivation (value-identical: parquet round-trips doubles
    * bit-exactly). No SessionCache layer: the table-read path is already
    * a cheap scan, and [[WallPlanes.wallPlanesScaled]]'s tiled branch
    * persists its input internally for its own multi-consumer window.
    */
  def wallFeatures(spark: SparkSession, sfDir: String): DataFrame =
    WallFeaturesTable.materializedPath(sfDir) match {
      case Some(p) => graft.sources.Tables.atPath(spark, p)
      case None => wallFeaturesDerived(spark, sfDir)
    }

  /** Mesh-cell features for the wall-plane pipeline (MeshWallExtractror
    * shape): one cell per part row, normals in 4 azimuth families with
    * key-derived jitter, centroids clustered by family — so DBSCAN has
    * real structure to find.
    */
  def meshCells(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
    val family = pmod(col("p_partkey"), lit(4))
    val jitter = (pmod(col("p_partkey") * 13.0, lit(100.0)) / 100.0 - 0.5) * 4.0
    val angleDeg = family * 90.0 + jitter
    val vertical = pmod(col("p_partkey") * 29.0, lit(100.0)) < 12.0 // ~12% roof-ish cells
    val angleRad = radians(angleDeg)
    p.select(
      col("p_partkey").as("cell_id"),
      (cos(angleRad) * when(vertical, 0.3).otherwise(1.0)).as("nx"),
      (sin(angleRad) * when(vertical, 0.3).otherwise(1.0)).as("ny"),
      when(vertical, 0.95).otherwise(pmod(col("p_partkey") * 3.0, lit(100.0)) / 1000.0).as("nz"),
      (family * 50.0 + pmod(col("p_partkey") * 7.0, lit(200.0)) / 100.0).as("cx"),
      (family * -30.0 + pmod(col("p_partkey") * 11.0, lit(150.0)) / 100.0).as("cy"),
      (pmod(col("p_partkey") * 5.0, lit(300.0)) / 10.0).as("cz"))
  }
}
