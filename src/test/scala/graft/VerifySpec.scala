package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Verify's dump loop over planted queries: an ordinary failure is logged
  * and skipped while the other queries are still dumped; a fatal VM error
  * aborts the dump instead of leaving a partial sweep that the oracle
  * compare would read as complete.
  */
class VerifySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  // The planted queries read no input; the dir only keys cache releases.
  private val sf = "verify-spec"

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val pass: (SparkSession, String) => DataFrame =
    (s, _) => s.range(10).selectExpr("id", "id * 2 AS twice")

  test("a query that throws is logged and skipped; the others are dumped") {
    val out = java.nio.file.Files.createTempDirectory("verify-dump").toString
    val planted: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "zz_planted_a" -> pass,
      "zz_planted_fail" -> ((_: SparkSession, _: String) =>
        throw new RuntimeException("planted failure")),
      "zz_planted_z" -> pass)
    Verify.dump(spark, sf, out, planted)
    Seq("zz_planted_a", "zz_planted_z").foreach { q =>
      assert(spark.read.parquet(s"$out/$q").count() == 10, s"$q must be dumped")
    }
    assert(!new java.io.File(s"$out/zz_planted_fail").exists())
    graft.Fs.rmTree(new java.io.File(out))
  }

  test("a fatal error aborts the dump") {
    val out = java.nio.file.Files.createTempDirectory("verify-dump").toString
    val planted: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "zz_planted_fatal" -> ((_: SparkSession, _: String) =>
        throw new LinkageError("planted fatal error")),
      "zz_planted_z" -> pass)
    assertThrows[LinkageError](Verify.dump(spark, sf, out, planted))
    assert(!new java.io.File(s"$out/zz_planted_z").exists(),
      "no query runs after a fatal error")
    graft.Fs.rmTree(new java.io.File(out))
  }
}
