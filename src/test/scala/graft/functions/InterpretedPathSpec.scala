package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every native kernel must produce identical results through the
  * INTERPRETED expression path (nullSafeEval) — the path Spark silently
  * takes when whole-stage codegen falls back (the q81 blowup class). A
  * divergence between doGenCode and nullSafeEval would otherwise only
  * surface in production fallbacks.
  */
class InterpretedPathSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def bothPaths[A](f: => A): (A, A) = {
    val codegen = f
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try { (codegen, f) }
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("all native kernels agree between codegen and interpreted eval") {
    val s = spark; import s.implicits._
    def run(): Seq[Seq[Any]] = {
      val vecs = Seq(
        (1L, Seq(0.5f, 0.25f, -0.75f), Seq("a", "b", "c")),
        (2L, Seq(-1.0f, 2.0f, 0.125f), Seq("b", "c", "d")),
        (3L, Seq(0.0f, 0.0f, 1.0f), Seq("a", "d", "e"))).toDF("id", "v", "arr")
      val anchors = Seq((10L, Seq(1f, 0f, 0f), 1.0), (20L, Seq(0f, 1f, 0f), 1.0))
      val planes = (0 until 8).map(p => VectorFunctions.srpPlane(p, 3))
      vecs.select(
        col("id"),
        VectorFunctions.dot(col("v"), col("v")).as("dot"),
        org.apache.spark.sql.graft.NearestCellsTwoLevel.column(
          col("v"), sqrt(VectorFunctions.dot(col("v"), col("v"))), anchors, kc = 1, nf = 2)
          .as("cells"),
        org.apache.spark.sql.graft.SrpSignature.column(col("v"), planes).as("sig"),
        org.apache.spark.sql.graft.SortedIntersectCount.column(
          array_sort(col("arr")), array_sort(col("arr"))).as("inter"),
        org.apache.spark.sql.graft.CylindricalIou.column(
          lit(100.0), lit(200.0), lit(300.0), lit(400.0),
          col("id") * 50.0 + 100.0, lit(250.0), col("id") * 50.0 + 300.0, lit(450.0),
          lit(8000.0), lit(4000.0)).as("iou"))
        .orderBy(col("id"))
        .collect().toSeq.map(_.toSeq)
    }
    val (gen, interp) = bothPaths(run())
    assert(gen == interp)
  }

  test("bloom_might_contain agrees between paths and with the builder's hashing") {
    val s = spark; import s.implicits._
    val corpus = (1 to 200).map(i => s"digest_$i").toDF("d")
    val bloom = corpus.stat.bloomFilter("d", 200, 0.01)
    def run(): Seq[(String, Boolean)] = {
      (Seq("digest_1", "digest_200", "absent_a", "absent_b", "")).toDF("d")
        .select(col("d"),
          org.apache.spark.sql.graft.BloomMightContain.column(col("d"), bloom).as("m"))
        .orderBy(col("d"))
        .collect().toSeq.map(r => (r.getString(0), r.getBoolean(1)))
    }
    val (gen, interp) = bothPaths(run())
    assert(gen == interp)
    // No false negatives by construction: every inserted digest probes true.
    assert(gen.toMap.apply("digest_1") && gen.toMap.apply("digest_200"))
  }

  test("vector_avg aggregate agrees between paths") {
    val s = spark; import s.implicits._
    def run(): Seq[(Int, Seq[Double])] = {
      Seq((0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 6.0f)), (1, Seq(5.0f, 5.0f)))
        .toDF("k", "v")
        .groupBy(col("k"))
        .agg(org.apache.spark.sql.graft.VectorAvg.column(col("v")).as("cv"))
        .orderBy(col("k"))
        .collect().toSeq.map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
    }
    val (gen, interp) = bothPaths(run())
    assert(gen == interp && gen == Seq(0 -> Seq(2.0, 4.0), 1 -> Seq(5.0, 5.0)))
  }
}
