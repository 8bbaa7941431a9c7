package graft.functions

/** DuckDB spelling of the seam-aware cylindrical IoU (SURVEY.md §2 M11/U1;
  * heritage-guard/heritage_guard/entities/bbox.py:16-109) for oracle SQL,
  * split like a staged pair join: per-box invariants once per row, the
  * pair-side remainder per pair. Operation-for-operation mirror of
  * [[org.apache.spark.sql.graft.IouKernel]], so double-precision results
  * are bitwise identical (the driver compares floats exactly).
  */
object GeoSql {

  /** SELECT-list fragment computing the per-box invariants (t_min,
    * t_max, area) from raw x1/y1/x2/y2, the >95%-span seam swap applied.
    */
  def boxInvariantsSelect(w: Double): String = {
    // Exact float mirror of the kernel's python-style modulo: a negative
    // remainder gets +m (an exact op since the result lands in [0, m));
    // a positive one is untouched — unlike ((x%m)+m)%m, whose positive
    // branch drifts by an ulp.
    def pm(e: String, m: String) =
      s"(CASE WHEN (($e) % $m) < 0 THEN (($e) % $m) + $m ELSE (($e) % $m) END)"
    val xMin = s"(CASE WHEN (x2 - x1) > $w*0.95 THEN x2 ELSE x1 END)"
    val xMax = s"(CASE WHEN (x2 - x1) > $w*0.95 THEN x1 ELSE x2 END)"
    s"""${pm(s"$xMin / $w * 360.0", "360.0")} AS t_min,
        ${pm(s"$xMax / $w * 360.0", "360.0")} AS t_max,
        (${pm(s"$xMax - $xMin", s"$w")} * (y2 - y1)) AS area"""
  }

  /** Pair IoU from [[boxInvariantsSelect]]'s columns; `a`/`b` must
    * expose t_min, t_max, area, y1, y2.
    */
  def iouFromInvariantsExpr(a: String, b: String): String = {
    def ov(p: String, q: String, r: String, s: String) =
      s"greatest(0.0, least($q, $s) - greatest($p, $r))"
    val cross1 = s"($a.t_max < $a.t_min)"
    val cross2 = s"($b.t_max < $b.t_min)"
    val adj1 = s"(CASE WHEN $cross1 THEN $a.t_max + 360.0 ELSE $a.t_max END)"
    val adj2 = s"(CASE WHEN $cross2 THEN $b.t_max + 360.0 ELSE $b.t_max END)"
    val thetaOv =
      s"""(CASE WHEN NOT $cross1 AND NOT $cross2
               THEN ${ov(s"$a.t_min", s"$a.t_max", s"$b.t_min", s"$b.t_max")}
               ELSE least(${ov(s"$a.t_min", adj1, s"$b.t_min", adj2)}, 360.0) END)"""
    val yOv = s"greatest(0.0, least($a.y2, $b.y2) - greatest($a.y1, $b.y1))"
    val inter = s"($thetaOv * $yOv)"
    val union = s"($a.area + $b.area - $inter)"
    s"(CASE WHEN $union = 0.0 THEN 0.0 ELSE $inter / $union END)"
  }
}
