package graft.geo

/** Pure-Scala 3×3 matrix/vector helpers for the projection math. Row-major
  * `Array[Double]` of length 9 — small, allocation-light, no deps.
  */
object Mat3 {
  type M = Array[Double]
  type V3 = (Double, Double, Double)

  val identity: M = Array(1, 0, 0, 0, 1, 0, 0, 0, 1)

  def mul(a: M, b: M): M = {
    val r = new Array[Double](9)
    var i = 0
    while (i < 3) {
      var j = 0
      while (j < 3) {
        r(i * 3 + j) = a(i * 3) * b(j) + a(i * 3 + 1) * b(3 + j) + a(i * 3 + 2) * b(6 + j)
        j += 1
      }
      i += 1
    }
    r
  }

  def apply(m: M, v: V3): V3 = (
    m(0) * v._1 + m(1) * v._2 + m(2) * v._3,
    m(3) * v._1 + m(4) * v._2 + m(5) * v._3,
    m(6) * v._1 + m(7) * v._2 + m(8) * v._3)

  /** Rodrigues rotation from an axis-angle vector (angle = |v|, axis =
    * v/|v|): R = I cosθ + (1−cosθ) k kᵀ + sinθ [k]× — the same formula
    * cv2.Rodrigues implements for the reference's view rotations
    * (heritage-guard/heritage_guard/helpers/Equirec2Perspec.py:50-57,
    * SURVEY.md §2 M8).
    */
  def rodrigues(vx: Double, vy: Double, vz: Double): M = {
    val theta = math.sqrt(vx * vx + vy * vy + vz * vz)
    if (theta < 1e-15) identity
    else {
      val (kx, ky, kz) = (vx / theta, vy / theta, vz / theta)
      val c = math.cos(theta); val s = math.sin(theta); val t = 1 - c
      Array(
        c + kx * kx * t, kx * ky * t - kz * s, kx * kz * t + ky * s,
        ky * kx * t + kz * s, c + ky * ky * t, ky * kz * t - kx * s,
        kz * kx * t - ky * s, kz * ky * t + kx * s, c + kz * kz * t)
    }
  }
}

/** Camera orientation in degrees with the reference's pose fixups applied
  * by the caller (roll negated, heading +90 — SURVEY §2 P7;
  * heritage-guard/heritage_guard/assets/street_level_grouping/street_level_grouping.py:185-188).
  * Port of heritage-guard/heritage_guard/entities/orientation.py:6-24.
  */
final case class Orientation(roll: Double, pitch: Double, heading: Double, rad: Boolean = false) {
  def rads: Orientation =
    Orientation(math.toRadians(roll), math.toRadians(pitch), math.toRadians(heading), rad = true)
}

/** Equirectangular↔perspective projection math (SURVEY.md §2 M1-M9).
  * Pure functions, no Spark; wrapped as UDFs in [[graft.pipeline]].
  */
object Projection {
  import Mat3.{M, V3}

  /** Pixel on the 360 image → 3D ray endpoint: spherical conversion,
    * roll/pitch/heading rotation (R = Rz·Ry·Rx with the reference's
    * transposed-yaw convention), optional length scale, translate to the
    * camera origin. Port of `point_to_3d_line`
    * (street_level_grouping.py:257-299, SURVEY §2 U2/M1-M4).
    */
  def pointTo3dLine(
      x: Double, y: Double,
      o: Orientation,
      origin: V3,
      imageWidth: Double, imageHeight: Double,
      length: Double = 1.0): V3 = {
    require(o.rad, "orientation must be in radians (call .rads)")
    val theta = 2 * math.Pi * (imageWidth - x) / imageWidth
    val phi = math.Pi * y / imageHeight

    val xc = math.sin(phi) * math.cos(theta)
    val yc = math.sin(phi) * math.sin(theta)
    val zc = math.cos(phi)

    val cr = math.cos(o.roll); val sr = math.sin(o.roll)
    val cp = math.cos(o.pitch); val sp = math.sin(o.pitch)
    val ch = math.cos(o.heading); val sh = math.sin(o.heading)
    val rx: M = Array(1, 0, 0, 0, cr, -sr, 0, sr, cr)
    val ry: M = Array(cp, 0, sp, 0, 1, 0, -sp, 0, cp)
    val rz: M = Array(ch, sh, 0, -sh, ch, 0, 0, 0, 1)
    val r = Mat3.mul(rz, Mat3.mul(ry, rx))

    val (vx, vy, vz) = Mat3.apply(r, (xc, yc, zc))
    val (sx, sy, sz) = if (length != 1.0) (vx * length, vy * length, vz * length) else (vx, vy, vz)
    (sx + origin._1, sy + origin._2, sz + origin._3)
  }

  /** Pinhole calibration matrix K and its inverse for a perspective view
    * (Equirec2Perspec.py:36-47, SURVEY §2 M7). K⁻¹ computed in closed
    * form for the upper-triangular pinhole shape.
    */
  def calibMatrix(width: Double, height: Double, fovDeg: Double): (M, M) = {
    val f = 0.5 * width / math.tan(0.5 * math.toRadians(fovDeg))
    val cx = (width - 1) / 2.0
    val cy = (height - 1) / 2.0
    val k: M = Array(f, 0, cx, 0, f, cy, 0, 0, 1)
    val kInv: M = Array(1 / f, 0, -cx / f, 0, 1 / f, -cy / f, 0, 0, 1)
    (k, kInv)
  }

  /** View rotation for a perspective slice at (θ, φ) degrees: two composed
    * Rodrigues rotations (Equirec2Perspec.py:50-57, SURVEY §2 M8).
    */
  def viewRotation(thetaDeg: Double, phiDeg: Double): M = {
    val r1 = Mat3.rodrigues(0.0, math.toRadians(-thetaDeg), 0.0)
    val (ax, ay, az) = Mat3.apply(r1, (1.0, 0.0, 0.0))
    val a = math.toRadians(-phiDeg)
    val r2 = Mat3.rodrigues(ax * a, ay * a, az * a)
    Mat3.mul(r2, r1)
  }

  /** Normalized 3D direction → (lon, lat): lon = atan2(x, z), lat =
    * asin(y) (Equirec2Perspec.py:10-25, SURVEY §2 M5).
    */
  def xyzToLonLat(x: Double, y: Double, z: Double): (Double, Double) = {
    val n = math.sqrt(x * x + y * y + z * z)
    (math.atan2(x / n, z / n), math.asin(y / n))
  }

  /** (lon, lat) → pixel XY on a W×H equirectangular image
    * (Equirec2Perspec.py:27-33, SURVEY §2 M6).
    */
  def lonLatToXY(lon: Double, lat: Double, imgWidth: Double, imgHeight: Double): (Double, Double) =
    ((lon / (2 * math.Pi) + 0.5) * (imgWidth - 1), (lat / math.Pi + 0.5) * (imgHeight - 1))

  /** Perspective-view bbox → 360-image bbox: the min/max of its 4 corners
    * mapped by [[polygonTo360]]. Port of `GetBboxInverse`
    * (Equirec2Perspec.py:93-119, SURVEY §2 M9/U3).
    */
  def bboxTo360(
      fovDeg: Double, thetaDeg: Double, phiDeg: Double,
      viewHeight: Double, viewWidth: Double,
      bbox: (Double, Double, Double, Double),
      imgWidth: Double, imgHeight: Double): (Int, Int, Int, Int) = {
    val corners = Seq(
      (bbox._1, bbox._2), (bbox._3, bbox._2), (bbox._1, bbox._4), (bbox._3, bbox._4))
    val projected = polygonTo360(fovDeg, thetaDeg, phiDeg, viewHeight, viewWidth, corners,
      imgWidth, imgHeight)
    (projected.map(_._1).min, projected.map(_._2).min,
      projected.map(_._1).max, projected.map(_._2).max)
  }

  /** Polygon vertices in a perspective view → vertices on the 360 image:
    * each through K⁻¹ then the view rotation, to lon/lat, to pixels,
    * truncated to int (numpy astype int32 truncates toward zero) — the
    * coordinate-mapping core of `GetPolygonInverse`
    * (Equirec2Perspec.py:128-140, SURVEY §2 M14; the upstream RLE/contour
    * extraction is [[Rle]]).
    */
  def polygonTo360(
      fovDeg: Double, thetaDeg: Double, phiDeg: Double,
      viewHeight: Double, viewWidth: Double,
      vertices: Seq[(Double, Double)],
      imgWidth: Double, imgHeight: Double): Seq[(Int, Int)] = {
    val (_, kInv) = calibMatrix(viewWidth, viewHeight, fovDeg)
    val r = viewRotation(thetaDeg, phiDeg)
    vertices.map { case (px, py) =>
      val cam = Mat3.apply(kInv, (px, py, 1.0))
      val (wx, wy, wz) = Mat3.apply(r, cam)
      val (lon, lat) = xyzToLonLat(wx, wy, wz)
      val (ix, iy) = lonLatToXY(lon, lat, imgWidth, imgHeight)
      (ix.toInt, iy.toInt)
    }
  }

  /** Azimuthal angle of a surface normal in degrees, wrapped to [0, 360)
    * (MeshWallExtractror.py:30-32, SURVEY §2 M17).
    */
  def azimuthalAngle(nx: Double, ny: Double): Double =
    BBox.pmod(math.toDegrees(math.atan2(ny, nx)), 360.0)
}
