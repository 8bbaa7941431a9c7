package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DetectionReaders
import graft.geo.BBox

/** End-to-end street-level chain over the reference-shaped fixtures
  * (FIXTURES.md §B): S1 JSON scan → grouping → pose join → rays, plus a
  * cross-check that the codegen'd Column IoU equals the pure-Scala kernel.
  */
class StreetLevelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  test("S1: results.json explodes to one row per detection with parent file_name") {
    val df = DetectionReaders.resultsJson(spark, fixture("results.json"))
    assert(df.count() == 5)
    assert(df.columns.toSeq == Seq("file_name", "det_idx", "bbox", "polygon", "score", "class"))
    // Degenerate polygon arrives as null struct (the reference's '') — F1.
    assert(df.filter(col("polygon").isNull).count() == 1)
    val first = df.filter(col("file_name") === "pano_0001.jpg" && col("det_idx") === 0).head()
    assert(first.getAs[scala.collection.Seq[Int]]("bbox").toSeq == Seq(120, 340, 480, 900))
  }

  test("S2: pose TSV reads with explicit schema") {
    val poses = DetectionReaders.poseTsv(spark, fixture("reference.csv"))
    assert(poses.count() == 2)
    val r = poses.filter(col("file_name") === "pano_0001").head()
    assert(r.getAs[Double]("roll[deg]") == 1.25)
    assert(r.getAs[Double]("projectedX[m]") == 581234.10)
  }

  test("S5/J2: per-view prediction scan recovers theta and photo stem from the path") {
    val preds = DetectionReaders.predictionsJson(spark,
      getClass.getResource("/fixtures/predictions").getPath)
    assert(preds.count() == 2)
    val rows = preds.select("theta", "photo_stem").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows == Set((0, "pano_0001"), (90, "pano_0001")))
    // J3 positional zip: bboxes[i] ↔ labels[i] ↔ scores[i] survive explode.
    val z = preds.filter(col("theta") === 0)
      .select(posexplode(arrays_zip(col("bboxes"), col("labels"), col("scores"))))
      .select(col("pos"), col("col.labels").as("label"), col("col.scores").as("score"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    assert(z == Set((0, 3, 0.91), (1, 1, 0.77)))
  }

  test("grouping kernel: the two overlapping window boxes share a group") {
    val s = spark; import s.implicits._
    val det = DetectionReaders.resultsJson(spark, fixture("results.json"))
      .select(col("file_name"), col("det_idx").cast("long").as("det_idx"),
        element_at(col("bbox"), 1).cast("double").as("x1"),
        element_at(col("bbox"), 2).cast("double").as("y1"),
        element_at(col("bbox"), 3).cast("double").as("x2"),
        element_at(col("bbox"), 4).cast("double").as("y2"),
        col("score"), col("class").as("cls"))
      .as[Detection]
    val grouped = StreetLevel.groupedDetections(det, 0.01)
      .collect().map(g => (g.file_name, g.det_idx) -> g.group_idx).toMap
    assert(grouped(("pano_0001.jpg", 0L)) == grouped(("pano_0001.jpg", 1L)),
      "near-duplicate windows grouped")
    assert(grouped(("pano_0001.jpg", 0L)) != grouped(("pano_0001.jpg", 2L)),
      "distant door separate")
    assert(grouped(("pano_0002.jpg", 0L)) == 0, "solo detection is its own group 0")
  }

  test("full chain: best-per-group rays against the fixture poses") {
    val s = spark; import s.implicits._
    val det = DetectionReaders.resultsJson(spark, fixture("results.json"))
      .select(col("file_name"), col("det_idx").cast("long").as("det_idx"),
        element_at(col("bbox"), 1).cast("double").as("x1"),
        element_at(col("bbox"), 2).cast("double").as("y1"),
        element_at(col("bbox"), 3).cast("double").as("x2"),
        element_at(col("bbox"), 4).cast("double").as("y2"),
        col("score"), col("class").as("cls"))
      .as[Detection]
    val grouped = StreetLevel.groupedDetections(det, 0.01).toDF()
    val poses = DetectionReaders.poseTsv(spark, fixture("reference.csv"))
      .select(concat(col("file_name"), lit(".jpg")).as("file_name"),
        col("roll[deg]").as("roll"), col("pitch[deg]").as("pitch"),
        col("heading[deg]").as("heading"),
        col("projectedX[m]").as("ox"), col("projectedY[m]").as("oy"),
        col("projectedZ[m]").as("oz"))
    val rays = StreetLevel.vertexRays(grouped, poses, spacing = 1)
    // 3 groups in pano_0001 + 1 in pano_0002, 5 ring vertices each.
    assert(rays.count() == 4 * 5)
    // Each ray endpoint sits on the unit sphere around its origin
    // (length=1 — SURVEY §5.3 invariant).
    // vertexRays carries its origin columns, no pose re-join needed.
    val offOrigin = rays
      .withColumn("d", sqrt(
        pow(col("rx") - col("ox"), 2) + pow(col("ry") - col("oy"), 2) +
          pow(col("rz") - col("oz"), 2)))
      .filter(abs(col("d") - 1.0) > 1e-9)
    assert(offOrigin.count() == 0)
  }

  test("Column-expression IoU equals the pure-Scala kernel on the synthetic corpus") {
    val det = Synthetic.detections(spark, "/root/testdata/sf0.001")
    val a = det.select(col("file_name"), col("det_idx").as("a_idx"),
      col("x1").as("ax1"), col("y1").as("ay1"), col("x2").as("ax2"), col("y2").as("ay2"))
    val b = det.select(col("file_name").as("fn_b"), col("det_idx").as("b_idx"),
      col("x1").as("bx1"), col("y1").as("by1"), col("x2").as("bx2"), col("y2").as("by2"))
    val pairs = a.join(b, col("file_name") === col("fn_b") && col("a_idx") < col("b_idx"))
      .withColumn("iou", org.apache.spark.sql.graft.CylindricalIou.column(
        col("ax1"), col("ay1"), col("ax2"), col("ay2"),
        col("bx1"), col("by1"), col("bx2"), col("by2"), lit(8000.0), lit(4000.0)))
      .filter(col("iou") > 0)
      .limit(2000)
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val ba = BBox((r.getAs[Double]("ax1"), r.getAs[Double]("ay1"),
        r.getAs[Double]("ax2"), r.getAs[Double]("ay2")), 0, 0, 8000, 4000)
      val bb = BBox((r.getAs[Double]("bx1"), r.getAs[Double]("by1"),
        r.getAs[Double]("bx2"), r.getAs[Double]("by2")), 0, 0, 8000, 4000)
      assert(math.abs(ba.iou(bb) - r.getAs[Double]("iou")) <= 1e-12)
    }
  }
}
