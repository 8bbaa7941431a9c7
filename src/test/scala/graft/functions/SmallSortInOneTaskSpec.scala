package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** SmallSortInOneTask: under AQE a global sort over a small materialized
  * aggregate runs in one task (2 jobs, not 4: no range-partitioner
  * sampling job, no range map stage), with the rows and their order of
  * the same query planned with AQE off; everywhere else the range
  * exchange stays.
  */
class SmallSortInOneTaskSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"
  private var groups = 0

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  /** Collects `build()` under AQE in a job group of its own; returns the
    * rows, the jobs the group ran and the final adaptive plan.
    */
  private def runAdaptive(build: () => DataFrame): (Seq[Row], Int, SparkPlan) = {
    groups += 1
    val g = s"small-sort-$groups"
    val tally = graft.JobTally.of(spark)
    val df = build()
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    val rows = try df.collect().toSeq finally spark.sparkContext.clearJobGroup()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => fail(s"expected an adaptive plan:\n$p")
    }
    (rows, tally.snapshot().get(g).map(_.jobs).getOrElse(0), plan)
  }

  private def runStatic(build: () => DataFrame): Seq[Row] = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try build().collect().toSeq finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def fired(plan: SparkPlan): Boolean = collect(plan) { case c: CoalesceExec => c }.nonEmpty

  private def rangeExchanges(plan: SparkPlan): Int = collect(plan) {
    case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }.size

  private val sortedAggregates: Seq[(String, () => DataFrame)] = Seq(
    "q11 distinct" -> (() => table("customer").select("c_nationkey", "c_mktsegment").distinct()
      .orderBy("c_nationkey", "c_mktsegment")),
    "q07 argmax per group" -> (() => table("lineitem").groupBy("l_orderkey")
      .agg(min(struct(-col("l_extendedprice"), col("l_linenumber"), col("l_partkey"))).as("best"))
      .select(col("l_orderkey"), col("best.l_partkey"))
      .orderBy("l_orderkey")),
    "q19 case when" -> (() => table("orders")
      .select(when(col("o_totalprice") < 50000, "small").when(col("o_totalprice") < 200000, "medium")
        .otherwise("large").as("bucket"), col("o_orderstatus"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), count(when(col("o_orderstatus") === "F", 1)).as("n_filled"))
      .orderBy("bucket")))

  for ((label, build) <- sortedAggregates)
    test(s"$label: the sort runs in one task, in 2 jobs, rows and order unchanged") {
      val (rows, jobs, plan) = runAdaptive(build)
      assert(fired(plan), s"rule did not fire:\n$plan")
      assert(rangeExchanges(plan) == 0, s"range exchange left:\n$plan")
      assert(jobs == 2, s"jobs=$jobs:\n$plan")
      assert(rows.nonEmpty && rows == runStatic(build))
    }

  test("a left-semi broadcast join between the stages and the sort still fires") {
    val build = () => table("lineitem").groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      .join(broadcast(table("orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"))), Seq("l_orderkey"), "left_semi")
      .orderBy("l_orderkey")
    val (rows, _, plan) = runAdaptive(build)
    assert(fired(plan), s"rule did not fire:\n$plan")
    assert(rows.nonEmpty && rows == runStatic(build))
  }

  /** The range exchange must survive, with the values of the static plan. */
  private def assertUntouched(build: () => DataFrame): Unit = {
    val (rows, _, plan) = runAdaptive(build)
    assert(!fired(plan), s"rule fired:\n$plan")
    assert(rangeExchanges(plan) == 1, s"range exchange missing:\n$plan")
    assert(rows.nonEmpty && rows == runStatic(build))
  }

  test("an input above the advisory partition size keeps its range exchange") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "64b")
    try {
      val (label, build) = sortedAggregates.head
      val (_, jobs, plan) = runAdaptive(build)
      assert(!fired(plan) && jobs == 4, s"$label: jobs=$jobs:\n$plan")
      assertUntouched(build)
    } finally spark.conf.set(key, prior)
  }

  test("an explode between the stages and the sort keeps the range exchange") {
    assertUntouched(() => table("customer").groupBy("c_nationkey")
      .agg(collect_set("c_mktsegment").as("segs"))
      .select(col("c_nationkey"), explode(col("segs")).as("seg"))
      .orderBy("c_nationkey", "seg"))
  }

  test("an inner join between the stages and the sort keeps the range exchange") {
    val byNation = table("customer").groupBy("c_nationkey").agg(count(lit(1)).as("n"))
    assertUntouched(() => byNation
      .join(table("supplier").groupBy(col("s_nationkey").as("c_nationkey")).agg(count(lit(1)).as("m")),
        "c_nationkey")
      .orderBy("c_nationkey"))
  }

  test("a user repartitionByRange is never replaced") {
    assertUntouched(() => table("customer").select("c_nationkey", "c_mktsegment").distinct()
      .repartitionByRange(3, col("c_nationkey"), col("c_mktsegment"))
      .orderBy("c_nationkey", "c_mktsegment"))
  }
}
