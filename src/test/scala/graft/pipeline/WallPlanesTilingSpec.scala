package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The tiled margin-merge DBSCAN must reproduce the global kernel exactly
  * on the wall-plane pipeline's data: same clusters, same seed-scan
  * numbering, same borders and noise — so declaring q83 with tiles>1
  * changes the plan (multi-task clustering stage) but not one row of
  * output.
  */
class WallPlanesTilingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("tiled wallPlanes(tiles=8) == global wallPlanes(tiles=1) at sf0.01") {
    val cells = Synthetic.meshCells(spark, "/root/testdata/sf0.01")
    val global = WallPlanes.wallPlanes(cells, tiles = 1).collect()
    val tiled = WallPlanes.wallPlanes(cells, tiles = 8).collect()
    assert(global.length == tiled.length)
    global.zip(tiled).foreach { case (g, t) => assert(g == t) }
  }

  test("tiled path releases every cache it creates (no storage leak)") {
    val cells = Synthetic.meshCells(spark, "/root/testdata/sf0.01")
    // Warm run: any session-scoped caches upstream (SessionCache inputs)
    // build once here and are excluded from the delta.
    WallPlanes.wallPlanes(cells, tiles = 8).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    WallPlanes.wallPlanes(cells, tiles = 8).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"tiled wallPlanes leaked persisted RDDs: $leaked")
  }

  test("coincident-point stacks don't change labels (and cost distinct geometry, not stack²)") {
    // The r12 sf100 rehearsal corpus replicates mesh geometry
    // bit-identically per copy (every jitter modulus divides the copy
    // key stride), so clusters held ~1000 coincident copies of each
    // point and the cross-box ∃-edge scan went quadratic in stack
    // depth. The fix scans one representative per DISTINCT position;
    // this pins its exactness: with every base point already core,
    // stacking k coincident copies (at strictly higher cell_ids) must
    // leave every base point's cluster label untouched and give each
    // copy its base point's label.
    val s = spark; import s.implicits._
    // Three separated dense blobs; every point has ≥ minSamples
    // neighbors within eps before any stacking.
    val base = for {
      (cx, cy, cz, blob) <- Seq((0.0, 0.0, 0.0, 0), (2.0, 2.0, 0.0, 1), (-2.0, 1.0, 2.0, 2))
      i <- 0 until 12
    } yield (blob * 12L + i, cx + (i % 4) * 0.03, cy + (i / 4) * 0.03, cz + (i % 3) * 0.03)
    val k = 40
    val stacked = base ++ base.flatMap { case (id, x, y, z) =>
      (1 to k).map(c => (1000L * c + id, x, y, z)) }
    def labels(rows: Seq[(Long, Double, Double, Double)]): Map[Long, Long] = {
      val (out, finish) = WallPlanes.tiledClusters(rows.toDF("cell_id", "f0", "f1", "f2"),
        eps = 0.2, minSamples = 4, tiles = 4)
      try out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally { finish(); out.unpersist(blocking = false) }
    }
    val lb = labels(base)
    val ls = labels(stacked)
    assert(lb.values.toSet.size == 3 && !lb.values.exists(_ == -1L))
    base.foreach { case (id, _, _, _) =>
      assert(ls(id) == lb(id), s"stacking changed base label of $id")
      (1 to k).foreach(c => assert(ls(1000L * c + id) == lb(id),
        s"copy $c of $id diverged from its base label"))
    }
  }

  test("many tiny tiles still merge to the global answer (stress the bridges)") {
    val cells = Synthetic.meshCells(spark, "/root/testdata/sf0.001")
    val global = WallPlanes.wallPlanes(cells, tiles = 1).collect()
    val tiled = WallPlanes.wallPlanes(cells, tiles = 64).collect()
    assert(global.length == tiled.length)
    global.zip(tiled).foreach { case (g, t) => assert(g == t) }
  }
}
