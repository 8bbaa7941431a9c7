package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r5 ask #5: one pathological panorama (all boxes y-overlapping)
  * makes a single sweep task O(n²) — inherent to the order-dependent
  * semantics. This spec plants exactly that panorama with a lowered
  * `graft.sweep.denseGroupThreshold` and asserts the kernels surface it
  * through the SweepStats accumulators instead of stalling silently.
  */
class SweepStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // 30 boxes in ONE panorama, all sharing y ∈ [0, 100): every pair
  // y-overlaps, so the sweep enumerates the full 30·29/2 = 435 pairs —
  // the worst case the guard exists to flag.
  private def denseDetections = (0 until 30).map(i =>
    Detection("pano_dense.jpg", i.toLong,
      x1 = i * 10.0, y1 = 0.0, x2 = i * 10.0 + 50.0, y2 = 100.0,
      score = 0.5, cls = 1))

  test("grouping kernel reports a planted dense panorama through the accumulators") {
    val s = spark; import s.implicits._
    val h = SweepStats.forSession(spark)
    h.maxGroupBoxes.reset(); h.pairsEnumerated.reset(); h.denseGroups.reset()
    spark.conf.set(SweepStats.ThresholdConfKey, "10")
    try {
      StreetLevel.groupedDetections(denseDetections.toDS(), 0.01).collect()
      assert(h.maxGroupBoxes.value == 30L, "worst group size is the planted panorama")
      assert(h.pairsEnumerated.value == 435L, "all 30·29/2 pairs y-overlap")
      assert(h.denseGroups.value == 1L, "the panorama exceeds the lowered threshold")
      // A normal-sized group (threshold back at default) adds no dense hit.
      spark.conf.unset(SweepStats.ThresholdConfKey)
      StreetLevel.groupedDetections(denseDetections.toDS(), 0.01).collect()
      assert(h.denseGroups.value == 1L, "default threshold does not flag 30 boxes")
      assert(h.maxGroupBoxes.value == 30L)
    } finally spark.conf.unset(SweepStats.ThresholdConfKey)
  }

  test("the fused sweep records one enumeration bound") {
    val s = spark; import s.implicits._
    val h = SweepStats.forSession(spark)
    h.maxGroupBoxes.reset(); h.pairsEnumerated.reset(); h.denseGroups.reset()
    spark.conf.set(SweepStats.ThresholdConfKey, "10")
    try {
      val det = denseDetections.toDF()
      val marks = graft.queries.Domain.sweepCombinedKernel(det, 8000.0, 4000.0, 0.02)
        .filter("kind = 1").count()
      // One enumeration also marks partners: every box x-overlaps a neighbour.
      assert(marks == 30L)
      assert(h.pairsEnumerated.value == 435L && h.denseGroups.value == 1L)
      assert(h.maxGroupBoxes.value == 30L)
    } finally spark.conf.unset(SweepStats.ThresholdConfKey)
  }
}
