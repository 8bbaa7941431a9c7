package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's artifact contracts: a throwing query is reported,
  * never read as a fast pass; the contract line fits the driver's stdout
  * tail; per-query job tallies attribute to the query that ran them and
  * never reach the contract line.
  */
class BenchHarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a planted failing query surfaces in the errors object, a passing one does not") {
    val planted: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "zz_planted_pass" -> ((s: SparkSession, _: String) =>
        s.range(10).selectExpr("id", "id * 2 AS twice")),
      "zz_planted_fail" -> ((s: SparkSession, _: String) =>
        s.range(10).selectExpr("assert_true(id < 5, 'boom') AS a", "id")))
    val runs = Bench.runSweep(spark, "/root/testdata/sf0.001", planted)
    val byName = runs.map(r => r.name -> r).toMap
    assert(byName("zz_planted_pass").error.isEmpty)
    assert(byName("zz_planted_fail").error.isDefined,
      "a throwing query must not read as a pass")
    val json = Bench.renderJson(runs, "/root/testdata/sf0.001", sweeps = 1)
    assert(json.contains(""""errors":{"""))
    assert(json.contains("zz_planted_fail") &&
      json.indexOf("zz_planted_fail", json.indexOf("\"errors\"")) > 0,
      s"the failing query must appear inside the errors object: $json")
    // The errors object never mentions the clean query.
    val errsPart = json.substring(json.indexOf("\"errors\""))
    assert(!errsPart.substring(0, errsPart.indexOf("}") + 1).contains("zz_planted_pass"))
    // The line must stay a SINGLE parseable JSON object for the driver —
    // exception messages can carry quotes/newlines; quoting must hold.
    assert(!json.contains("\n"))
    // With skew accumulators attached, the stats object rides along.
    val withStats = Bench.renderJson(runs, "/root/testdata/sf0.001", 1, Some((150L, 9000L, 0L)))
    assert(withStats.contains(
      """"sweep_stats":{"max_group_boxes":150,"pairs_enumerated":9000,"dense_groups":0}"""))
    assert(!withStats.contains("\n"))
    // Rehearsal exclusions surface in the artifact; absent, no field.
    val withSkip = Bench.renderJson(runs, "/x", 1, None, Set("q44_embedding_neardup"))
    assert(withSkip.contains(""""skipped":["q44_embedding_neardup"]"""))
    assert(!json.contains("\"skipped\""), "driver line must be unchanged when nothing is skipped")
  }

  test("per-query tallies attribute to the query that ran them") {
    val planted: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "zz_tally_plain" -> ((s: SparkSession, _: String) => s.range(10).selectExpr("id * 2 AS twice")),
      "zz_tally_eager" -> ((s: SparkSession, _: String) => {
        s.sparkContext.parallelize(1 to 10).count()
        s.range(10).selectExpr("id * 2 AS twice")
      }))
    val runs = Bench.runSweep(spark, "/root/testdata/sf0.001", planted)
    val byName = runs.map(r => r.name -> r).toMap
    val (plain, eager) = (byName("zz_tally_plain").jobs, byName("zz_tally_eager").jobs)
    assert(plain.jobs > 0 && plain.stages > 0 && plain.tasks > 0, plain)
    assert(eager.jobs - plain.jobs == 1, s"plain $plain, eager $eager")
    val line = Bench.renderJson(runs, "/x", sweeps = 1)
    assert(line == Bench.renderJson(runs.map(_.copy(jobs = JobTally.Counts())), "/x", sweeps = 1))
    assert(Bench.renderDetailJson(runs, "/x")
      .contains(s""""zz_tally_plain":{"jobs":${plain.jobs},"stages":${plain.stages},"""))
    // run_meta records the codegen cache size the session really runs with.
    assert(Bench.renderRunMetaJson(spark, 1).contains(""""codegen_cache_max_entries":"4096""""))
  }

  test("the contract line fits the driver's 2000-char stdout tail with every registry query") {
    // The driver stores only the LAST 2000 chars of bench stdout; a
    // ~3.5 KB full-name line loses its start off that tail and parses as
    // null. Worst-case render: every query at a 4-digit-seconds time, plus a
    // large sweep_stats payload — the whole line must leave room for the
    // ~100-char sbt "[success]" epilogue inside 2000.
    val names = graft.queries.Registry.all.map(_.name)
    val runs = names.map(n => Bench.QueryRun(n, 8888.888888888, None))
    val line = Bench.renderJson(runs, "/root/testdata/sf0.1", sweeps = 2,
      Some((Long.MaxValue, Long.MaxValue, Long.MaxValue)),
      recall = Some((Long.MaxValue, Long.MaxValue, 13)),
      calibrationS = Some(8888.88),
      host = Some((8888.88, 999999L)))
    assert(line.startsWith("""{"metric":"""), line.take(40))
    assert(!line.contains("\n"))
    assert(line.length <= 1850, s"contract line ${line.length} chars overflows the tail budget")
    // The canary must live ON the driver-kept contract line, not only
    // in run_meta (which falls off the 2000-char tail).
    assert(line.contains(""","cal":8888.88"""), line.takeRight(200))
    // Host context (loadavg/mem) rides the contract line next to cal and
    // is never degraded away, for the same reason.
    assert(line.contains(""","loadavg_1m":8888.88,"mem_available_mb":999999"""),
      line.takeRight(200))
    // Short keys must be unique over the registry or the render silently
    // falls back to full names and re-breaks the budget.
    val shorts = names.map(Bench.shortKey)
    assert(shorts.distinct.size == names.size,
      s"duplicate short keys: ${shorts.diff(shorts.distinct).distinct.mkString(",")}")
    assert(line.contains("\"" + Bench.shortKey(names.head) + "\":"))
  }

  test("short-key collisions fall back to full names; fmt renders plain fixed-point") {
    val collide = Seq(Bench.QueryRun("zz_one", 1.23456, None), Bench.QueryRun("zz_two", 2.0, None))
    val line = Bench.renderJson(collide, "/x", sweeps = 1)
    assert(line.contains("\"zz_one\":1.235") && line.contains("\"zz_two\":2"),
      s"collision must fall back to full names: $line")
    assert(Bench.fmt(0.0000004, 3) == "0")
    assert(Bench.fmt(12.3999, 3) == "12.4")
    assert(Bench.fmt(1e-9, 3) == "0" && !Bench.fmt(1e-9, 3).contains("E"))
    // Non-finite timings render as the -1 sentinel instead of crashing
    // the contract line.
    assert(Bench.fmt(Double.NaN, 3) == "-1")
    assert(Bench.fmt(Double.PositiveInfinity, 3) == "-1")
    // The detail line leads with a non-"metric" key so a tail scanner
    // can never latch onto it, and carries full precision.
    val detail = Bench.renderDetailJson(collide, "/x")
    assert(detail.startsWith("""{"detail":"""))
    assert(detail.contains("\"zz_one\":1.23456"))
    assert(!detail.contains("\n"))
  }

  test("every registry query declares oracle XOR noOracleReason; exclusions surface in SparkEntry") {
    val qs = graft.queries.Registry.all
    assert(qs.forall(q => q.oracle.isDefined != q.noOracleReason.isDefined))
    val excl = SparkEntry.oracleExclusions
    assert(excl.keySet == SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
    assert(excl.values.forall(_.nonEmpty))
  }

  test("a failure round cannot regrow the contract line past the tail budget") {
    // Error entries are largest exactly when the artifact matters most
    // (a failing run). Plant
    // the worst case — every registry query failed with a long message
    // at 4-digit seconds — and require the budget to hold via the
    // degradation cascade, with the failure count still visible.
    val names = graft.queries.Registry.all.map(_.name)
    val allFail = names.map(n =>
      Bench.QueryRun(n, 8888.888888, Some("X" * 300 + "\"quote\nnewline")))
    val line = Bench.renderJson(allFail, "/root/testdata/sf0.1", sweeps = 2,
      Some((Long.MaxValue, Long.MaxValue, Long.MaxValue)),
      calibrationS = Some(8888.88), host = Some((8888.88, 999999L)))
    assert(line.length <= Bench.ContractLineBudget,
      s"degraded line still ${line.length} chars")
    assert(!line.contains("\n") && line.startsWith("""{"metric":"""))
    // cal + host survive even a full-failure degradation cascade.
    assert(line.contains(""","cal":""") && line.contains(""","loadavg_1m":"""),
      line.takeRight(200))
    assert(line.contains(s""""_n":${names.size}""") || line.contains("\"_truncated\":"),
      s"failure count must survive degradation: ${line.takeRight(200)}")
    // A few failures keep their messages (no degradation needed).
    val fewFail = names.map(n => Bench.QueryRun(n, 1.234, None)).updated(0,
      Bench.QueryRun(names.head, 1.234, Some("boom-message")))
    val line2 = Bench.renderJson(fewFail, "/root/testdata/sf0.1", sweeps = 2)
    assert(line2.length <= Bench.ContractLineBudget)
    assert(line2.contains("boom-message"))
  }

  test("cache builds attribute to the paying query; zero bills leave the line unchanged") {
    // cache_build_ms separates one-time SessionCache construction from
    // kernel time in the artifact.
    val runs = Seq(Bench.QueryRun("zz_a", 1.0, None, 1234L), Bench.QueryRun("zz_b", 2.0, None))
    val line = Bench.renderJson(runs, "/x", 1, Some((1L, 2L, 3L)))
    assert(line.contains(""""cache_build_ms_total":1234"""), line)
    assert(line.contains(""""cache_build_ms":{"zz_a":1234}"""), line)
    // Zero builds: no cache_build fields at all.
    val zero = Bench.renderJson(runs.map(_.copy(cacheBuildMs = 0L)), "/x", 1, Some((1L, 2L, 3L)))
    assert(!zero.contains("cache_build_ms"), zero)
    // The merge pairs the CHOSEN run's own build bill with its time —
    // never sweep 1's bill against sweep 2's warm kernel time.
    val merged = Bench.mergeSweeps(Seq(
      Seq(Bench.QueryRun("q", 5.0, None, 1000L)),
      Seq(Bench.QueryRun("q", 1.0, None, 0L))))
    assert(merged.head.seconds == 1.0 && merged.head.cacheBuildMs == 0L)
    // Detail line always carries the full-name map.
    assert(Bench.renderDetailJson(runs, "/x").contains(""""cache_build_ms":{"zz_a":1234}"""))
  }

  test("best-of-N merge takes per-query minima and never launders a flaky failure") {
    def run(n: String, s: Double, e: Option[String]) = Bench.QueryRun(n, s, e)
    val merged = Bench.mergeSweeps(Seq(
      Seq(run("a", 5.0, None), run("b", 1.0, None),
        run("c", 0.2, Some("boom")), run("d", 0.3, Some("dead"))),
      Seq(run("a", 1.5, None), run("b", 9.0, None),
        run("c", 3.0, None), run("d", 0.4, Some("dead")))))
    assert(merged.map(r => r.name -> r.seconds) ==
      Seq("a" -> 1.5, "b" -> 1.0, "c" -> 3.0, "d" -> 0.3))
    // c: the fast time-to-FAILURE (0.2 s) must not beat the real passing
    // time; d: failed everywhere, so time-to-failure is all there is.
    assert(merged.find(_.name == "c").get.error.contains("boom"),
      "a failure in any sweep must survive the merge")
    assert(merged.find(_.name == "d").get.error.contains("dead"))
    assert(merged.filterNot(r => r.name == "c" || r.name == "d").forall(_.error.isEmpty))
  }
}
