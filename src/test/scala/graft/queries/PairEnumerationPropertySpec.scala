package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Property guard for the pair sweep q81 and q88/q89/q94 read
  * (`Domain.sweepCombinedKernel`: y-sorted sweep, exact y-overlap prune,
  * plain-pair θ-interval precondition): on ADVERSARIAL boxes — 512-
  * multiple y edges, zero-width touching intervals, seam wraps
  * (x2 < x1), >95%-span giants, tall boxes — it must return exactly the
  * pair set of the naive all-pairs formulation, and its partner marking
  * exactly the endpoints of the naive positive-IoU pairs. The real-data
  * oracle can't probe these edges densely; this generator does.
  */
class PairEnumerationPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val W = 8000.0
  private val H = 4000.0

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Deterministic adversarial boxes: mixes exact 512-multiples (band
    * boundaries), touching y-intervals, wrapped boxes, giants, and
    * pseudo-random fill, across 4 panoramas.
    */
  private def boxes: Seq[(String, Long, Double, Double, Double, Double)] = {
    def pr(i: Int, m: Int) = ((i * 2654435761L) % m + m) % m
    (0 until 240).map { i =>
      val pano = s"p${i % 4}"
      val kind = i % 6
      val (x1, x2) = kind match {
        case 0 => (pr(i, 7000).toDouble, pr(i, 7000) + 200.0)             // plain
        case 1 => (7800.0 + pr(i, 150), pr(i + 1, 300).toDouble)          // wrapped: x2 < x1
        case 2 => (pr(i, 100).toDouble, pr(i, 100) + 7700.0)              // giant: span > 0.95W
        case 3 => (pr(i, 7000).toDouble, pr(i, 7000) + 7600.0)            // exactly at the swap boundary span
        case _ => (pr(i * 3 + 1, 7500).toDouble, (pr(i * 3 + 1, 7500) + 100 + pr(i, 400)).toDouble)
      }
      val y1 = kind match {
        case 4 => (pr(i, 7) * 512).toDouble          // exact band boundary
        case 5 => pr(i - 1, 3400).toDouble           // shares y1 with a neighbor sometimes
        case _ => pr(i * 7 + 3, 3400).toDouble
      }
      val y2 = y1 + (if (kind == 4) 512.0 else 50.0 + pr(i, 550))  // may span 2+ bands
      (pano, i.toLong, x1, y1, math.min(x2, W - 0.001), y2)
    }
  }

  private def df: DataFrame = {
    val s = spark; import s.implicits._
    boxes.toDF("file_name", "det_idx", "x1", "y1", "x2", "y2")
  }

  private def iouCol = org.apache.spark.sql.graft.CylindricalIou.column(
    col("ax1"), col("ay1"), col("ax2"), col("ay2"),
    col("bx1"), col("by1"), col("bx2"), col("by2"), lit(W), lit(H))

  private def sides(d: DataFrame): (DataFrame, DataFrame) = (
    d.select(col("file_name"), col("det_idx").as("a_idx"), col("x1").as("ax1"),
      col("y1").as("ay1"), col("x2").as("ax2"), col("y2").as("ay2")),
    d.select(col("file_name").as("fn_b"), col("det_idx").as("b_idx"), col("x1").as("bx1"),
      col("y1").as("by1"), col("x2").as("bx2"), col("y2").as("by2")))

  /** Naive spec: all within-panorama pairs, kernel on every one. */
  private def naivePairs(threshold: Double): Set[(Long, Long)] = {
    val (a, b) = sides(df)
    a.join(b, col("file_name") === col("fn_b") && col("a_idx") < col("b_idx"))
      .withColumn("iou", iouCol).filter(col("iou") >= threshold)
      .select("a_idx", "b_idx").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** The production pair sweep; `kind` 0 rows are its pairs at `threshold`,
    * `kind` 1 rows its partner marks.
    */
  private def sweep(threshold: Double, kind: Int): DataFrame =
    Domain.sweepCombinedKernel(df, W, H, threshold).filter(col("kind") === kind)

  private def sweepPairs(threshold: Double): Set[(Long, Long)] =
    sweep(threshold, 0)
      .select("a_idx", "b_idx").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("sweep-line kernel ≡ naive all-pairs on adversarial boxes (t = 0.02)") {
    val n = naivePairs(0.02); val s = sweepPairs(0.02)
    info(s"naive=${n.size} sweep=${s.size}")
    assert(n == s, s"missing: ${n -- s}; spurious: ${s -- n}")
  }

  test("sweep-line kernel ≡ naive all-pairs at the iou > 0 slice threshold") {
    // Double.MinPositiveValue makes `iou >= t` exactly `iou > 0` — the
    // isolated-slice rule; any pruned positive-IoU pair would corrupt
    // the slice feeding q88/q89/q94. The oracle uses the SAME boundary
    // (not some epsilon like 1e-12), so a kernel missing a
    // positive-but-tiny-IoU pair cannot slip through.
    val n = naivePairs(java.lang.Double.MIN_VALUE)
    val s = sweepPairs(java.lang.Double.MIN_VALUE)
    assert(n == s, s"missing: ${n -- s}; spurious: ${s -- n}")
  }

  test("marking kernel ≡ endpoints of the naive iou > 0 pair set") {
    // The sweep's kind-1 marks must equal exploding the strictly-positive
    // pair relation to both endpoints — the isolated-slice feed for
    // q88/q89/q94. The marks are taken at q81's 0.02 pair threshold, so
    // a mark gated on the pair threshold instead of `iou > 0` fails
    // here; adversarial boxes probe every seam class.
    val want = naivePairs(java.lang.Double.MIN_VALUE).flatMap(p => Seq(p._1, p._2))
    val got = sweep(0.02, 1)
      .select("a_idx").collect().map(_.getLong(0)).toSet
    assert(got == want, s"missing: ${want -- got}; spurious: ${got -- want}")
  }

  test("the generator actually covers the edge classes") {
    val all = boxes
    assert(all.exists { case (_, _, x1, _, x2, _) => x2 < x1 }, "wrapped boxes present")
    assert(all.exists { case (_, _, x1, _, x2, _) => x2 - x1 > W * 0.95 }, "giants present")
    assert(all.exists { case (_, _, _, y1, _, _) => y1 % 512.0 == 0.0 }, "band-boundary y present")
    assert(all.exists { case (_, _, _, y1, _, y2) => y2 - y1 > 512.0 }, "multi-band spans present")
  }
}
