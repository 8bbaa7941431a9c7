package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryDef

class QuerySweepSpec extends AnyFunSuite {
  test("a planted throwing query is recorded as an error with no row count") {
    val work = java.nio.file.Files.createTempDirectory("perfbench-spec").toString
    val spark = graft.Sessions.builder("2").config("spark.local.dir", work).getOrCreate()
    try {
      val h = new Harness(spark, s"$work/data", work)
      val boom = QueryDef("q_boom", None, noOracleReason = Some("planted"))(
        (_, _) => throw new RuntimeException("planted"))
      val ok = QueryDef("q_ok", None, noOracleReason = Some("planted"))(
        (s, _) => s.range(5).toDF())
      val ops = new QuerySweep(h, Seq(boom, ok)).round(0, new Tracer(false), 0)
      assert(ops.map(o => (o.name, o.error.map(_.take(26)), o.rows)) == Seq(
        ("q_boom", Some("RuntimeException: planted"), None),
        ("q_ok", None, Some(5L))))
    } finally {
      spark.stop()
      scala.reflect.io.Directory(new java.io.File(work)).deleteRecursively()
    }
  }

  test("pinned query names resolve in sorted order; a missing one is an error") {
    assert(QuerySweep.resolve(Seq("q11_distinct", "q07_argmax_per_group")).map(_.name) ==
      Seq("q07_argmax_per_group", "q11_distinct"))
    val e = intercept[IllegalArgumentException](QuerySweep.resolve(Seq("q11_distinct", "q_gone")))
    assert(e.getMessage.contains("q_gone"))
  }
}
