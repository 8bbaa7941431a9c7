package graft.geo

/** Seam-aware cylindrical bounding box on an equirectangular 360° panorama.
  *
  * Pure-Scala port of the reference semantics (SURVEY.md §2 M11):
  * heritage-guard/heritage_guard/entities/bbox.py:4-109. A bbox whose raw
  * x-span exceeds 95% of the image width is interpreted as crossing the
  * horizontal seam, so its x coordinates are swapped on construction
  * (bbox.py:16-20). Width/area/center are computed mod image width
  * (bbox.py:31-60); the θ overlap handles wraparound by a +360 adjust
  * (bbox.py:72-96).
  *
  * Units quirk preserved from the reference: IoU's intersection is
  * θ-overlap (degrees) × y-overlap (pixels) while areas use pixel widths —
  * consistent because union is built from the same product (bbox.py:98-109).
  *
  * Zero Spark dependencies — usable inside `flatMapGroups` kernels, plain
  * UDFs, and unit tests without a session.
  */
final case class BBox(
    xMin: Double,
    yMin: Double,
    xMax: Double,
    yMax: Double,
    score: Double,
    objectClass: Int,
    imageWidth: Double,
    imageHeight: Double) {

  /** θ range in degrees (bbox.py:23-28). */
  val thetaMin: Double = xMin / imageWidth * 360.0
  val thetaMax: Double = xMax / imageWidth * 360.0

  /** Python-style modulo (sign of divisor) — bbox.py:31-33. Hoisted to
    * vals: `area` is read once per IoU call and the grouping kernel makes
    * O(n²) of those per panorama — same bits, computed once per box.
    */
  val width: Double = BBox.pmod(xMax - xMin, imageWidth)
  def height: Double = yMax - yMin
  val area: Double = width * height

  /** θ range normalized mod 360 (the first step of bbox.py:72-96's
    * overlap), hoisted for the same reason as `area`: the pmods depend
    * only on this box, so computing them per IoU CALL repeated the same
    * four modulos O(n²) times per panorama. Same inputs, same pmod, same
    * bits — only computed once per box.
    */
  private[geo] val thetaMinNorm: Double = BBox.pmod(thetaMin, 360.0)
  private[geo] val thetaMaxNorm: Double = BBox.pmod(thetaMax, 360.0)

  def crossesSeam: Boolean = xMax < xMin

  /** Center wrapped back into the image (bbox.py:46-60). */
  def center: (Double, Double) = {
    val adjustedXMin = if (crossesSeam) xMin - imageWidth else xMin
    val cx = BBox.pmod((adjustedXMin + xMax) / 2.0, imageWidth)
    (math.rint(cx), yMin + height / 2.0)
  }

  /** Seam-aware IoU against another box (bbox.py:98-109). */
  def iou(other: BBox): Double = {
    val thetaOverlap = BBox.thetaOverlapNormalized(
      thetaMinNorm, thetaMaxNorm, other.thetaMinNorm, other.thetaMaxNorm)
    val yOverlap = BBox.overlap(yMin, yMax, other.yMin, other.yMax)
    val intersection = thetaOverlap * yOverlap
    val union = area + other.area - intersection
    if (union == 0.0) 0.0 else intersection / union
  }
}

object BBox {

  /** Python-style modulo: result carries the sign of the divisor. */
  def pmod(a: Double, m: Double): Double = { val r = a % m; if (r != 0 && (r < 0) != (m < 0)) r + m else r }

  /** Construct from a raw `[x1, y1, x2, y2]` detection, applying the
    * seam-crossing swap when the raw span exceeds 95% of the image width
    * (bbox.py:15-20).
    */
  def apply(
      bbox: (Double, Double, Double, Double),
      score: Double = 0.0,
      objectClass: Int = 0,
      imageWidth: Double = 8000,
      imageHeight: Double = 4000): BBox = {
    val (x1, y1, x2, y2) = bbox
    val span = x2 - x1
    if (span > imageWidth * 0.95)
      new BBox(x2, y1, x1, y2, score, objectClass, imageWidth, imageHeight)
    else
      new BBox(x1, y1, x2, y2, score, objectClass, imageWidth, imageHeight)
  }

  /** 1-D interval overlap (bbox.py:68-69). */
  def overlap(min1: Double, max1: Double, min2: Double, max2: Double): Double =
    math.max(0.0, math.min(max1, max2) - math.max(min1, min2))

  /** θ-range overlap in degrees with seam wraparound (bbox.py:72-96):
    * normalize all angles mod 360; a range whose max < min crosses the
    * seam and gets +360 on its max; overlap is then capped at 360.
    */
  def thetaOverlap(tMin1: Double, tMax1: Double, tMin2: Double, tMax2: Double): Double =
    thetaOverlapNormalized(
      pmod(tMin1, 360.0), pmod(tMax1, 360.0), pmod(tMin2, 360.0), pmod(tMax2, 360.0))

  /** [[thetaOverlap]] after normalization — the per-pair remainder once
    * the per-box pmods are hoisted (BBox.thetaMinNorm/thetaMaxNorm).
    */
  def thetaOverlapNormalized(n1: Double, x1: Double, n2: Double, x2: Double): Double = {
    val crosses1 = x1 < n1
    val crosses2 = x2 < n2
    if (!crosses1 && !crosses2) overlap(n1, x1, n2, x2)
    else {
      val ax1 = if (crosses1) x1 + 360.0 else x1
      val ax2 = if (crosses2) x2 + 360.0 else x2
      math.min(overlap(n1, ax1, n2, ax2), 360.0)
    }
  }

  /** Horizontal seam shift `(x + shift) % W` (SURVEY §2 M12;
    * heritage-guard/heritage_guard/entities/panorama_photo.py:95-97).
    */
  def shiftSeam(x: Double, shift: Double, imageWidth: Double): Double =
    pmod(x + shift, imageWidth)
}

/** Greedy seed-first IoU grouping — port of
  * heritage-guard/heritage_guard/entities/bbox_grouping.py:14-53
  * (SURVEY.md §2 A5).
  *
  * NOT transitive-closure connected components: the reference's loop is
  * order-dependent (a box absorbed later does not trigger a re-scan of
  * earlier indices), so groups depend on input order. Ported verbatim:
  *   1. every box with no positive-IoU neighbor becomes a singleton group;
  *   2. for each still-ungrouped seed i in index order, scan j in index
  *      order once, absorbing j when IoU(k, j) ≥ threshold for any current
  *      member k.
  *
  * Runs partition-locally inside `flatMapGroups` over one panorama's
  * detections — the similarity structure is per-panorama, never global,
  * and is held SPARSE: a y1-sorted sweep enumerates only y-overlapping
  * pairs (the only pairs that can score IoU > 0), so per-task cost is the
  * overlapping-pair count rather than n²/2. Scales with the number of
  * panoramas, not detections².
  */
object BBoxGrouping {

  /** Pair-IoU adjacency abstraction: `get` returns the stored IoU or
    * 0.0 (the exact-zero an unenumerated pair would have computed — see
    * [[positiveIouAdjacency]]), `anyPositive` the standalone-box test.
    * Two layouts, identical stored bits, so the order-dependent greedy
    * loops cannot tell them apart (DenseVsSparseAdjacencySpec races them
    * on random corpora):
    *  - dense n×n double matrix for n ≤ [[denseAdjacencyMax]] — one
    *    array store per enumerated pair, one array read per greedy
    *    probe. The r19 profile showed the LongMap's per-pair hash
    *    insert/lookup dominating the grouping kernel's CPU (~65M
    *    enumerated pairs per sf0.1 sweep at ~770 ns/pair all-in).
    *  - sparse LongMap rows beyond the bound — the r14 scale shape:
    *    adjacency memory tracks the enumerated-pair count, not n².
    */
  private sealed trait Adj {
    def put(i: Int, j: Int, v: Double): Unit
    def get(i: Int, j: Int): Double
    def anyPositive(i: Int): Boolean
  }

  /** Dense cutoff: 1024² doubles = 8 MB per in-flight panorama — bounded
    * per task at any corpus scale (panorama box counts are a property of
    * the capture, not the corpus size; measured max 204 on the harness
    * corpora). Above it, the sparse layout keeps memory at the
    * enumerated-pair count.
    */
  private[geo] val denseAdjacencyMax = 1024

  private final class DenseAdj(n: Int) extends Adj {
    private val m = new Array[Double](n * n)
    def put(i: Int, j: Int, v: Double): Unit = { m(i * n + j) = v; m(j * n + i) = v }
    def get(i: Int, j: Int): Double = m(i * n + j)
    def anyPositive(i: Int): Boolean = {
      val base = i * n
      var j = 0
      while (j < n) {
        if (m(base + j) > 0) return true
        j += 1
      }
      false
    }
  }

  private final class SparseAdj(n: Int) extends Adj {
    private val rows = Array.fill(n)(new scala.collection.mutable.LongMap[Double]())
    def put(i: Int, j: Int, v: Double): Unit = {
      rows(i)(j.toLong) = v; rows(j)(i.toLong) = v
    }
    def get(i: Int, j: Int): Double = rows(i).getOrElse(j.toLong, 0.0)
    def anyPositive(i: Int): Boolean = {
      val it = rows(i).valuesIterator
      while (it.hasNext) { if (it.next() > 0) return true }
      false
    }
  }

  /** Sparse positive-IoU adjacency built by a y1-sorted sweep (the same
    * enumeration as the q81 sweep-line join kernel): sort indices by yMin
    * and, for each box in that order, scan forward only while
    * yMin(j) < yMax(i) — exactly the pairs whose y-intervals strictly
    * overlap. Any pair the sweep skips has yOverlap ≤ 0, hence
    * intersection = θOverlap × yOverlap ≤ 0 and IoU == ±0.0, so omitting
    * it from the map is indistinguishable from storing a zero for BOTH
    * loop tests below (`> 0` standalone, `≥ threshold` absorption with a
    * positive threshold). Entries that ARE stored hold the identical
    * [[BBox.iou]] bits the dense matrix held — the greedy result cannot
    * differ. Cost drops from n²/2 kernel calls per panorama to the
    * y-overlapping pair count (measured ~½ on the harness detections).
    *
    * `keepZeros` (the iouThreshold ≤ 0 fallback) disables the sweep
    * cutoff and stores every pair, zeros included, because a
    * non-positive threshold makes `0 ≥ threshold` absorb — only then is
    * an absent pair semantically different from a stored zero. Both
    * layouts receive identical `put` calls, and an un-put dense slot
    * reads 0.0 — exactly the sparse layout's getOrElse default.
    */
  private def positiveIouAdjacency(
      bboxes: IndexedSeq[BBox],
      keepZeros: Boolean,
      denseMax: Int = denseAdjacencyMax): (Adj, Long) = {
    val n = bboxes.length
    val adj: Adj = if (n <= denseMax) new DenseAdj(n) else new SparseAdj(n)
    val ord = Array.range(0, n).sortBy(i => bboxes(i).yMin)
    var pairs = 0L
    var a = 0
    while (a < n) {
      pairs += adjacencyRow(a, bboxes, ord, adj, keepZeros)
      a += 1
    }
    (adj, pairs)
  }

  /** One outer-row step of the adjacency sweep — a SEPARATE small method
    * for the same measured JIT-shape reason as Domain.sweepRowBoth: with
    * the whole n² sweep inside one activation, a hot
    * panorama's task runs start-to-finish on whatever code the JIT had at
    * loop entry (on fresh executors, a tier-3 OSR compilation that
    * inlines the kernel WITH profiling counters). Called once per outer
    * row, the method tiers up over thousands of standard invocations and
    * every call runs the best available compilation.
    */
  private def adjacencyRow(
      a: Int, bboxes: IndexedSeq[BBox], ord: Array[Int],
      adj: Adj,
      keepZeros: Boolean): Long = {
    val n = bboxes.length
    val i = ord(a)
    val bi = bboxes(i)
    var pairs = 0L
    var b = a + 1
    while (b < n && (keepZeros || bboxes(ord(b)).yMin < bi.yMax)) {
      pairs += 1
      val j = ord(b)
      val v = bi.iou(bboxes(j))
      if (v > 0 || keepZeros) adj.put(i, j, v)
      b += 1
    }
    pairs
  }

  /** @return groups as lists of input indices, in reference emit order.
    * @param onStats skew-diagnosability hook, called once with (box
    *   count, enumerated pair count) — pair count is both the kernel's
    *   work AND its adjacency memory bound, so the caller (a Spark task
    *   at scale) can surface a pathological group instead of stalling
    *   silently. A plain function keeps this object Spark-free.
    */
  def group(
      bboxes: IndexedSeq[BBox], iouThreshold: Double,
      onStats: (Int, Long) => Unit = (_, _) => ()): Vector[Vector[Int]] =
    groupImpl(bboxes, iouThreshold, onStats, denseAdjacencyMax)

  /** [[group]] with the dense/sparse layout cutoff exposed, so the
    * equivalence spec can force BOTH layouts on the same corpus.
    */
  private[geo] def groupImpl(
      bboxes: IndexedSeq[BBox], iouThreshold: Double,
      onStats: (Int, Long) => Unit, denseMax: Int): Vector[Vector[Int]] = {
    val n = bboxes.length
    // Adjacency lookup: absent ⇒ IoU == 0 (see positiveIouAdjacency for
    // why that is exact). Values present are bit-identical to the dense
    // matrix this replaced, so the order-dependent loops below are
    // untouched ports of bbox_grouping.py.
    val (adj, pairsEnumerated) =
      positiveIouAdjacency(bboxes, keepZeros = iouThreshold <= 0.0, denseMax)
    onStats(n, pairsEnumerated)

    val grouped = Array.fill(n)(false)
    val groups = Vector.newBuilder[Vector[Int]]

    // Standalone boxes first (bbox_grouping.py:34-37): note the strict
    // `> 0` test — ANY positive overlap disqualifies, not the threshold.
    var i = 0
    while (i < n) {
      if (!adj.anyPositive(i)) {
        groups += Vector(i)
        grouped(i) = true
      }
      i += 1
    }

    // Greedy absorption (bbox_grouping.py:39-52). Member scan is a while
    // loop in insertion order — identical short-circuit order to the
    // reference's any() over the growing member list.
    i = 0
    while (i < n) {
      if (!grouped(i)) {
        val current = scala.collection.mutable.ArrayBuffer(i)
        grouped(i) = true
        var j = 0
        while (j < n) {
          if (!grouped(j)) {
            var hit = false
            var m = 0
            while (m < current.length && !hit) {
              if (adj.get(current(m), j) >= iouThreshold) hit = true
              m += 1
            }
            if (hit) {
              current += j
              grouped(j) = true
            }
          }
          j += 1
        }
        groups += current.toVector
      }
      i += 1
    }
    groups.result()
  }

  /** Flat index→group map, the shape the pipeline joins back
    * (street_level_grouping.py:118-124).
    */
  def groupIndex(
      bboxes: IndexedSeq[BBox], iouThreshold: Double,
      onStats: (Int, Long) => Unit = (_, _) => ()): Map[Int, Int] =
    group(bboxes, iouThreshold, onStats).zipWithIndex
      .flatMap { case (members, gid) => members.map(_ -> gid) }.toMap
}
