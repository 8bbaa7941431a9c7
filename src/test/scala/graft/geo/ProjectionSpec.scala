package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import Golden._

/** Projection-math port vs the reference's executed code. bboxTo360 golden
  * values were produced with a float64 Rodrigues while the reference mixes
  * float32 matrices, so integer pixel coords are allowed ±1 for
  * truncation-boundary flips; the ray math is float64 end-to-end in both
  * and gets a tight tolerance.
  */
class ProjectionSpec extends AnyFunSuite {

  test("pointTo3dLine matches the reference on 60 golden rays") {
    Golden.load("ray_cases").foreach { c =>
      // Reference pose fixups applied identically to the fixture generator:
      // roll negated, heading +90, then deg→rad (street_level_grouping.py:185-188).
      val o = Orientation(roll = -c.d("roll"), pitch = c.d("pitch"), heading = c.d("heading") + 90).rads
      val org = c.darr("origin")
      val got = Projection.pointTo3dLine(
        c.d("x"), c.d("y"), o, (org(0), org(1), org(2)), c.d("W"), c.d("H"), c.d("length"))
      val want = c.darr("result")
      val scale = math.max(1.0, want.map(math.abs).max)
      assert(math.abs(got._1 - want(0)) / scale <= 1e-12, s"x in $c")
      assert(math.abs(got._2 - want(1)) / scale <= 1e-12, s"y in $c")
      assert(math.abs(got._3 - want(2)) / scale <= 1e-12, s"z in $c")
    }
  }

  test("bboxTo360 matches the reference on 60 golden views (±1 px truncation)") {
    Golden.load("bbox360_cases").foreach { c =>
      val b = c.darr("bbox")
      val got = Projection.bboxTo360(
        c.d("fov"), c.d("theta"), c.d("phi"), c.d("vh"), c.d("vw"),
        (b(0), b(1), b(2), b(3)), c.d("img_w"), c.d("img_h"))
      val want = c.darr("result").map(_.toInt)
      val gotSeq = Seq(got._1, got._2, got._3, got._4)
      gotSeq.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1, s"got $gotSeq want $want in $c")
      }
    }
  }

  test("polygonTo360 maps a rectangle's corners onto the golden 360 bbox (±1 px truncation)") {
    Golden.load("bbox360_cases").foreach { c =>
      val b = c.darr("bbox")
      val got = Projection.polygonTo360(
        c.d("fov"), c.d("theta"), c.d("phi"), c.d("vh"), c.d("vw"),
        Seq((b(0), b(1)), (b(2), b(1)), (b(2), b(3)), (b(0), b(3))), c.d("img_w"), c.d("img_h"))
      assert(got.size == 4)
      val (xs, ys) = got.unzip
      val gotSeq = Seq(xs.min, ys.min, xs.max, ys.max)
      val want = c.darr("result").map(_.toInt)
      gotSeq.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1, s"got $gotSeq want $want in $c")
      }
    }
  }

  test("Rodrigues of zero vector is identity; of axis-aligned angles matches closed form") {
    assert(Mat3.rodrigues(0, 0, 0).sameElements(Mat3.identity))
    val r = Mat3.rodrigues(0, math.Pi / 2, 0) // 90° about y
    val (x, y, z) = Mat3.apply(r, (1.0, 0.0, 0.0))
    assert(math.abs(x) <= 1e-12 && math.abs(y) <= 1e-12 && math.abs(z + 1) <= 1e-12)
  }

  test("xyzToLonLat/lonLatToXY round-trip the image domain") {
    val (w, h) = (8000.0, 4000.0)
    for (lon <- Seq(-3.0, -1.0, 0.0, 1.0, 3.0); lat <- Seq(-1.5, -0.5, 0.0, 0.5, 1.5)) {
      val (x, yv) = Projection.lonLatToXY(lon, lat, w, h)
      assert(x >= -1 && x <= w && yv >= -1 && yv <= h)
    }
    val (lon, lat) = Projection.xyzToLonLat(0, 0, 5)
    assert(lon == 0.0 && lat == 0.0)
  }

  test("azimuthalAngle wraps into [0, 360)") {
    assert(Projection.azimuthalAngle(1, 0) == 0.0)
    assert(Projection.azimuthalAngle(0, 1) == 90.0)
    assert(Projection.azimuthalAngle(-1, 0) == 180.0)
    assert(Projection.azimuthalAngle(0, -1) == 270.0)
  }

  test("calibMatrix inverse is the true inverse") {
    val (k, kInv) = Projection.calibMatrix(1000, 1000, 60)
    val prod = Mat3.mul(k, kInv)
    Mat3.identity.zip(prod).foreach { case (want, got) => assert(math.abs(want - got) <= 1e-9) }
  }
}
