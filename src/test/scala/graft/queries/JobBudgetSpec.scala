package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Job budget of the benchmark's query sweep: each pinned query's Spark
  * job count at sf0.001, in the steady state a timed sweep round starts
  * from (input tables committed and seeded, one warm-up sweep run), may
  * not rise. The sweep is latency-bound: every job costs ~10 ms of
  * scheduling before it does any work. Lower a budget when a change
  * saves jobs; raising one needs a reason in the change's notes.
  */
class JobBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"
  private val repoRoot = new java.io.File(sys.props("user.dir"))

  // Jobs per query, counted by job group through graft.JobTally (132 in
  // all before small sorts ran in one task, cache builds in one job and
  // the ANN index read its table through the Tables memo; 91 after).
  private val budget = Map(
    "q07_argmax_per_group" -> 2, "q105_obj_normals" -> 2, "q11_distinct" -> 2,
    "q19_case_when" -> 2, "q27_count_distinct" -> 3, "q35_tfidf_top" -> 10,
    "q43_simhash" -> 6, "q51_ivf_knn" -> 6, "q59_decontaminate" -> 6,
    "q67_mix_weights" -> 4, "q75_view_sums" -> 5, "q83_wall_planes" -> 15,
    "q91_media_features" -> 5, "q99_curation_pipeline" -> 23)

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The query_sweep workload's pinned names, from the benchmark's expected file. */
  private def sweepQueries: Seq[String] = {
    val json = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(repoRoot, "perfbench/expected.json").toPath), "UTF-8")
    val list = "\"queries\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      .getOrElse(fail("perfbench/expected.json lacks query_sweep queries")).group(1)
    "\"(\\w+)\"".r.findAllMatchIn(list).map(_.group(1)).toSeq.sorted
  }

  /** One sweep as a benchmark round runs it; returns jobs per query. */
  private def sweep(names: Seq[String], tag: String): Map[String, Int] = {
    val tally = graft.JobTally.of(spark)
    Registry.sweep(spark, dir, names) { name =>
      val group = s"$tag:$name"
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try Registry.byName(name).build(spark, dir).write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.clearJobGroup()
    }
    val counts = tally.snapshot()
    names.map(n => n -> counts.get(s"$tag:$n").map(_.jobs).getOrElse(0)).toMap
  }

  test("each pinned sweep query runs within its job budget") {
    val names = sweepQueries
    assert(names.toSet == budget.keySet, s"budget must name exactly the pinned queries: $names")
    Registry.prepare(spark, dir, Registry.inputTables, seed = true)
    sweep(names, "warmup")
    val jobs = sweep(names, "budget")
    val over = names.filter(n => jobs(n) > budget(n))
    assert(over.isEmpty, over.map(n => s"$n: ${jobs(n)} jobs > budget ${budget(n)}").mkString("\n")
      + s"\nall: ${names.map(n => s"$n=${jobs(n)}").mkString(", ")}")
  }
}
