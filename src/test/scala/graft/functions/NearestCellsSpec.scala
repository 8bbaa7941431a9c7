package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NearestCellsTwoLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The flat map-side IVF cell assignment — [[NearestCellsTwoLevel]] at
  * kc = 1, nf = k — must reproduce the declarative ranking it replaced:
  * row_number() OVER (ORDER BY dot/(nrm*anrm) DESC, a_id ASC) —
  * including tie-breaks and k>1 ordering.
  */
class NearestCellsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // Unit-norm anchors along axes: cosine with v picks the axis with the
  // largest component.
  private val anchors: Seq[(Long, Seq[Float], Double)] = Seq(
    (10L, Seq(1f, 0f, 0f), 1.0),
    (20L, Seq(0f, 1f, 0f), 1.0),
    (30L, Seq(0f, 0f, 1f), 1.0))

  private def flat(v: Column, nrm: Column, as: Seq[(Long, Seq[Float], Double)], k: Int) =
    NearestCellsTwoLevel.column(v, nrm, as, kc = 1, nf = k)

  private def assign(v: Seq[Float], k: Int,
      as: Seq[(Long, Seq[Float], Double)] = anchors): Seq[Long] = {
    val s = spark; import s.implicits._
    val df = Seq(Tuple1(v)).toDF("embedding")
      .withColumn("nrm", sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))))
    df.select(flat(col("embedding"), col("nrm"), as, k).as("c"))
      .head().getSeq[Long](0).toSeq
  }

  test("k=1 picks the nearest anchor") {
    assert(assign(Seq(0.1f, 0.9f, 0.2f), 1) == Seq(20L))
  }

  test("k=2 returns cells in score-descending order") {
    assert(assign(Seq(0.1f, 0.9f, 0.5f), 2) == Seq(20L, 30L))
  }

  test("exact score tie breaks by ascending anchor id (row_number semantics)") {
    // Equal components toward anchors 10 and 30 → identical scores.
    assert(assign(Seq(0.5f, 0.1f, 0.5f), 2) == Seq(10L, 30L))
    assert(assign(Seq(0.5f, 0.5f, 0.5f), 3) == Seq(10L, 20L, 30L))
  }

  test("a zero-norm anchor ranks last, even with the lowest id (first in hash rank too)") {
    // Its score is 0/0 = NaN, which the kernel ranks lowest — as the
    // DuckDB oracle ranks x/0 = NULL last. As the first anchor it is
    // also the one coarse cell, whose own score must not matter.
    val withZero = (5L, Seq(0f, 0f, 0f), 0.0) +: anchors
    assert(assign(Seq(0.1f, 0.9f, 0.2f), 4, withZero) == Seq(20L, 30L, 10L, 5L))
    assert(assign(Seq(0.1f, 0.9f, 0.2f), 1, withZero) == Seq(20L))
  }

  test("matches the crossJoin+window ranking on random-ish vectors") {
    val s = spark; import s.implicits._
    // 40 deterministic pseudo-vectors; compare kernel top-2 against the
    // declarative window formulation it replaced.
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(3)(d => (((i * 31 + d * 17) % 13) - 6) / 6.0f))
    }.filter(_._2.exists(_ != 0f)).toSeq
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))))
    val kernel = df.select(col("vec_id"),
        flat(col("embedding"), col("nrm"), anchors, 2).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val a = anchors.toDF("a_id", "av", "anrm")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
      .orderBy((VectorFunctions.dot(col("embedding"), col("av")) / (col("nrm") * col("anrm"))).desc,
        col("a_id"))
    val windowed = df.crossJoin(a)
      .withColumn("arnk", row_number().over(w))
      .filter(col("arnk") <= 2)
      .orderBy(col("vec_id"), col("arnk"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getAs[Long]("a_id")).toSeq }
    assert(kernel == windowed)
  }
}
