package graft.geo

/** Triangle mesh with a BVH for first-hit ray queries (SURVEY.md §2 M21).
  *
  * The reference batches all rays through embree
  * (`mesh.multi_ray_trace(origins, directions, first_point=True)`,
  * street_level_grouping.py:216-218). The port is a pure-JVM BVH
  * (median-split on the longest centroid axis, slab AABB tests) over
  * Möller–Trumbore triangle intersection — no native deps, serializable,
  * built once on the driver and BROADCAST to executors; rays stream
  * through `mapPartitions` (graft.pipeline.RayMesh), so the mesh ships
  * once per executor, not per task.
  *
  * Note on ray semantics: the reference passes each polygon vertex's 3D
  * point as pyvista's `direction` argument verbatim — an accident of the
  * call site (the geometric intent is a ray THROUGH the vertex). Ported
  * as intent: direction = point − origin (SURVEY §2 J6 guidance).
  */
final class TriMesh private (
    // Triangle soup, 9 doubles per triangle (ax ay az bx by bz cx cy cz).
    val tris: Array[Double],
    // BVH flat arrays: per node, AABB bounds (6 doubles) + (left, right)
    // child indices or (-leafStart-1, count) for leaves over triIdx.
    bounds: Array[Double],
    childL: Array[Int],
    childR: Array[Int],
    triIdx: Array[Int]) extends Serializable {

  /** First (nearest-t) intersection of ray origin+t·dir, t > eps.
    * @return Some((px, py, pz, t)) or None.
    */
  def firstHit(ox: Double, oy: Double, oz: Double,
      dx: Double, dy: Double, dz: Double): Option[(Double, Double, Double, Double)] = {
    var bestT = Double.PositiveInfinity
    val invX = 1.0 / dx; val invY = 1.0 / dy; val invZ = 1.0 / dz
    val stack = new Array[Int](64)
    var sp = 0
    stack(sp) = 0; sp += 1
    while (sp > 0) {
      sp -= 1
      val n = stack(sp)
      if (aabbHit(n, ox, oy, oz, invX, invY, invZ, bestT)) {
        val l = childL(n)
        if (l < 0) { // leaf: triangles triIdx[-l-1 until -l-1+childR(n)]
          val start = -l - 1
          var i = 0
          while (i < childR(n)) {
            val t = triHit(triIdx(start + i), ox, oy, oz, dx, dy, dz)
            if (t < bestT) bestT = t
            i += 1
          }
        } else {
          stack(sp) = l; sp += 1
          stack(sp) = childR(n); sp += 1
        }
      }
    }
    if (bestT.isInfinite) None
    else Some((ox + bestT * dx, oy + bestT * dy, oz + bestT * dz, bestT))
  }

  private def aabbHit(n: Int, ox: Double, oy: Double, oz: Double,
      invX: Double, invY: Double, invZ: Double, tMax: Double): Boolean = {
    val b = n * 6
    var t0 = (bounds(b) - ox) * invX; var t1 = (bounds(b + 3) - ox) * invX
    if (t0 > t1) { val tmp = t0; t0 = t1; t1 = tmp }
    var tmin = t0; var tmax = t1
    t0 = (bounds(b + 1) - oy) * invY; t1 = (bounds(b + 4) - oy) * invY
    if (t0 > t1) { val tmp = t0; t0 = t1; t1 = tmp }
    if (t0 > tmin) tmin = t0; if (t1 < tmax) tmax = t1
    t0 = (bounds(b + 2) - oz) * invZ; t1 = (bounds(b + 5) - oz) * invZ
    if (t0 > t1) { val tmp = t0; t0 = t1; t1 = tmp }
    if (t0 > tmin) tmin = t0; if (t1 < tmax) tmax = t1
    tmax >= math.max(tmin, 0.0) && tmin < tMax
  }

  /** Möller–Trumbore; returns t or +Inf. Culling disabled (double-sided
    * walls, matching embree defaults).
    */
  private def triHit(tri: Int, ox: Double, oy: Double, oz: Double,
      dx: Double, dy: Double, dz: Double): Double = {
    val o = tri * 9
    val e1x = tris(o + 3) - tris(o); val e1y = tris(o + 4) - tris(o + 1); val e1z = tris(o + 5) - tris(o + 2)
    val e2x = tris(o + 6) - tris(o); val e2y = tris(o + 7) - tris(o + 1); val e2z = tris(o + 8) - tris(o + 2)
    val px = dy * e2z - dz * e2y
    val py = dz * e2x - dx * e2z
    val pz = dx * e2y - dy * e2x
    val det = e1x * px + e1y * py + e1z * pz
    if (math.abs(det) < 1e-12) return Double.PositiveInfinity
    val inv = 1.0 / det
    val tx = ox - tris(o); val ty = oy - tris(o + 1); val tz = oz - tris(o + 2)
    val u = (tx * px + ty * py + tz * pz) * inv
    if (u < 0.0 || u > 1.0) return Double.PositiveInfinity
    val qx = ty * e1z - tz * e1y
    val qy = tz * e1x - tx * e1z
    val qz = tx * e1y - ty * e1x
    val v = (dx * qx + dy * qy + dz * qz) * inv
    if (v < 0.0 || u + v > 1.0) return Double.PositiveInfinity
    val t = (e2x * qx + e2y * qy + e2z * qz) * inv
    if (t > 1e-9) t else Double.PositiveInfinity
  }
}

object TriMesh {

  /** Build from a triangle soup: flat (x,y,z)×3 per triangle. */
  def build(triangles: Array[Double], leafSize: Int = 4): TriMesh = {
    require(triangles.length % 9 == 0, "9 doubles per triangle")
    val n = triangles.length / 9
    val cent = Array.tabulate(n) { i =>
      val o = i * 9
      Array((triangles(o) + triangles(o + 3) + triangles(o + 6)) / 3,
        (triangles(o + 1) + triangles(o + 4) + triangles(o + 7)) / 3,
        (triangles(o + 2) + triangles(o + 5) + triangles(o + 8)) / 3)
    }
    val idx = (0 until n).toArray
    val boundsBuf = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lBuf = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rBuf = scala.collection.mutable.ArrayBuffer.empty[Int]

    def triBounds(i: Int): Array[Double] = {
      val o = i * 9
      Array(
        math.min(triangles(o), math.min(triangles(o + 3), triangles(o + 6))),
        math.min(triangles(o + 1), math.min(triangles(o + 4), triangles(o + 7))),
        math.min(triangles(o + 2), math.min(triangles(o + 5), triangles(o + 8))),
        math.max(triangles(o), math.max(triangles(o + 3), triangles(o + 6))),
        math.max(triangles(o + 1), math.max(triangles(o + 4), triangles(o + 7))),
        math.max(triangles(o + 2), math.max(triangles(o + 5), triangles(o + 8))))
    }

    def buildNode(start: Int, end: Int): Int = {
      val node = lBuf.length
      lBuf += 0; rBuf += 0
      val bb = Array(Double.MaxValue, Double.MaxValue, Double.MaxValue,
        Double.MinValue, Double.MinValue, Double.MinValue)
      var i = start
      while (i < end) {
        val tb = triBounds(idx(i))
        var d = 0
        while (d < 3) {
          if (tb(d) < bb(d)) bb(d) = tb(d)
          if (tb(d + 3) > bb(d + 3)) bb(d + 3) = tb(d + 3)
          d += 1
        }
        i += 1
      }
      boundsBuf ++= bb
      if (end - start <= leafSize) {
        lBuf(node) = -start - 1
        rBuf(node) = end - start
      } else {
        // Split on the longest axis at the centroid median.
        val axis = Seq(0, 1, 2).maxBy(d => bb(d + 3) - bb(d))
        val sorted = idx.slice(start, end).sortBy(i => cent(i)(axis))
        System.arraycopy(sorted, 0, idx, start, sorted.length)
        val mid = (start + end) / 2
        val l = buildNode(start, mid)
        val r = buildNode(mid, end)
        lBuf(node) = l
        rBuf(node) = r
      }
      node
    }

    if (n > 0) buildNode(0, n)
    else { lBuf += -1; rBuf += 0; boundsBuf ++= Array.fill(6)(0.0) }
    new TriMesh(triangles, boundsBuf.toArray, lBuf.toArray, rBuf.toArray, idx)
  }

  /** Axis-aligned vertical quad wall → two triangles (helper for fixtures
    * and the synthetic building mesh).
    */
  def wallQuad(x0: Double, y0: Double, x1: Double, y1: Double,
      zBottom: Double, zTop: Double): Array[Double] =
    Array(
      x0, y0, zBottom, x1, y1, zBottom, x1, y1, zTop,
      x0, y0, zBottom, x1, y1, zTop, x0, y0, zTop)

  /** Wavefront OBJ → triangle soup for [[build]] (VERDICT r10 #5 — the
    * real INGESTION path for SURVEY.md §2 M21/M22; the reference loads
    * its LiDAR meshes with pyvista `pv.read(...)`,
    * hg/helpers/MeshWallExtractror.py:36, and OBJ is the interchange
    * format those exports use). Geometry subset a building mesh needs:
    * `v x y z` vertices; `f` faces with 1-based `v`, `v/vt`, `v//vn`,
    * `v/vt/vn` references and OBJ's negative (relative-to-end) indices;
    * polygons fan-triangulate from the first vertex — a quad
    * [b0 b1 t1 t0] yields exactly [[wallQuad]]'s two triangles.
    * Normals/texcoords/groups/materials are skipped (the BVH derives
    * geometry from positions alone); decimation stays upstream
    * input-prep, per SURVEY §2's M22 scope. Malformed vertex or face
    * lines throw — a torn mesh file must fail the load, not silently
    * drop walls from every downstream ray query.
    */
  def fromObj(lines: IterableOnce[String]): Array[Double] = {
    val vx = scala.collection.mutable.ArrayBuffer.empty[Double]
    val vy = scala.collection.mutable.ArrayBuffer.empty[Double]
    val vz = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tris = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (raw <- lines.iterator) {
      val line = raw.trim
      // Dispatch on the first whitespace-delimited token, not a "v "
      // prefix: real exporters emit tab-delimited geometry lines, and a
      // prefix test would silently skip them — the exact silent-wall-
      // loss mode this parser must turn into a load failure instead.
      val kw = line.takeWhile(!_.isWhitespace)
      if (kw == "v") {
        val p = line.split("\\s+")
        require(p.length >= 4, s"malformed vertex line: '$line'")
        vx += p(1).toDouble; vy += p(2).toDouble; vz += p(3).toDouble
      } else if (kw == "f") {
        val refs = line.split("\\s+").drop(1).map { tok =>
          val viStr = tok.takeWhile(_ != '/')
          val vi = viStr.toInt
          require(vi != 0, s"OBJ indices are 1-based, got 0 in '$line'")
          val i = if (vi > 0) vi - 1 else vx.length + vi
          require(i >= 0 && i < vx.length,
            s"face references vertex ${vi} of ${vx.length} in '$line'")
          i
        }
        require(refs.length >= 3, s"face with <3 vertices: '$line'")
        var i = 1
        while (i + 1 < refs.length) {
          for (j <- Seq(refs(0), refs(i), refs(i + 1))) {
            tris += vx(j); tris += vy(j); tris += vz(j)
          }
          i += 1
        }
      }
      // vn/vt/vp/g/o/s/usemtl/mtllib/# — no geometry, skipped.
    }
    tris.toArray
  }
}
