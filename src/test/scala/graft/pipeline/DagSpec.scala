package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DagSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("topoSort orders by dependencies and rejects cycles") {
    val order = Dag.topoSort(Dag.streetLevelDag("/root/testdata/sf0.001")).map(_.name)
    def before(a: String, b: String) = order.indexOf(a) < order.indexOf(b)
    assert(before("detections", "grouped") && before("grouped", "rays") &&
      before("poses", "rays") && before("rays", "hits") && before("hits", "summary"))
    val cyclic = Seq(
      Dag.Stage("a", Seq("b"), (_, _) => null),
      Dag.Stage("b", Seq("a"), (_, _) => null))
    val e = intercept[IllegalArgumentException](Dag.topoSort(cyclic))
    assert(e.getMessage.contains("cycle"))
    val unknown = Seq(Dag.Stage("a", Seq("nope"), (_, _) => null))
    assert(intercept[IllegalArgumentException](
      Dag.topoSort(unknown)).getMessage.contains("unknown"))
  }

  test("street-level DAG materializes end-to-end with parquet handoffs") {
    val dir = java.nio.file.Files.createTempDirectory("dag").toString
    val runs = Dag.materialize(spark, Dag.streetLevelDag("/root/testdata/sf0.001"), dir)
    assert(runs.map(_.name) ==
      Seq("detections", "poses", "grouped", "rays", "hits", "summary"))
    assert(runs.forall(r => r.rows > 0 && !r.skipped))
    // Every stage persisted its table — the inter-job handoff.
    runs.foreach(r => assert(new java.io.File(s"$dir/${r.name}.parquet").exists()))
    // A second tick without refresh reuses everything (incremental
    // scheduling); rows still report from the persisted outputs.
    val again = Dag.materialize(spark, Dag.streetLevelDag("/root/testdata/sf0.001"),
      dir, refresh = false)
    assert(again.forall(_.skipped))
    assert(again.map(_.rows) == runs.map(_.rows))
  }

  test("an empty stage output stays readable by its dependents (schema backfill)") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dag-empty").toString
    val stages = Seq(
      // A filter no row survives → a zero-partition write that would
      // otherwise commit a part-file-less table no dependent can read.
      Dag.Stage("src", Nil, (sp, _) => {
        import sp.implicits._
        Seq(1L, 2L).toDF("id").filter("id > 99")
      }),
      Dag.Stage("consume", Seq("src"), (_, up) => up("src").selectExpr("id * 2 AS twice")))
    val runs = Dag.materialize(spark, stages, dir)
    assert(runs.map(_.rows) == Seq(0L, 0L), s"got $runs")
    // The committed empty table must also survive a reuse tick's read.
    val again = Dag.materialize(spark, stages, dir, refresh = false)
    assert(again.forall(_.skipped))
    assert(spark.read.parquet(s"$dir/src.parquet").schema.fieldNames.sameElements(Array("id")))
  }

  test("an upstream rebuild cascades downstream under refresh=false (stamp chain)") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dag-chain").toString
    val stages = Seq(
      Dag.Stage("a", Nil, (sp, _) => { import sp.implicits._; Seq(1L, 2L).toDF("id") }),
      Dag.Stage("b", Seq("a"), (_, up) => up("a").selectExpr("id * 10 AS id")),
      Dag.Stage("c", Seq("b"), (_, up) => up("b").selectExpr("id + 1 AS id")))
    assert(Dag.materialize(spark, stages, dir).forall(!_.skipped))
    // Quiet tick: everything reuses.
    assert(Dag.materialize(spark, stages, dir, refresh = false).forall(_.skipped))
    // Upstream a is invalidated (deleted): the refresh=false tick must
    // rebuild a AND cascade to b and c — their persisted tables were
    // built from the old a, and reusing them would serve stale data.
    graft.Fs.rmTree(new java.io.File(s"$dir/a.parquet"))
    val tick = Dag.materialize(spark, stages, dir, refresh = false)
    assert(tick.forall(!_.skipped), s"expected full cascade, got $tick")
    // And the system quiesces again.
    assert(Dag.materialize(spark, stages, dir, refresh = false).forall(_.skipped))
    graft.Fs.rmTree(new java.io.File(dir))
  }

  test("a torn stage (no _SUCCESS) and stale tmp dirs are rebuilt, never reused") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dag-torn").toString
    val stage = Seq(Dag.Stage("t", Nil, (sp, _) => {
      import sp.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }))
    // Plant a torn table (files but no commit marker — a crash
    // mid-write) and a stale tmp from the same crashed tick.
    val torn = new java.io.File(s"$dir/t.parquet"); torn.mkdirs()
    java.nio.file.Files.writeString(torn.toPath.resolve("part-junk.parquet"), "junk")
    // Owner pid beyond the kernel's pid range: provably dead, so the
    // owner-aware sweep (live siblings' tmps survive) must reclaim it.
    val staleTmp = new java.io.File(s"$dir/t.parquet.tmp-4999999999-67890"); staleTmp.mkdirs()
    java.nio.file.Files.writeString(staleTmp.toPath.resolve("part-old.parquet"), "old")
    // A LIVE sibling process's in-flight tmp (owner pid alive — pid 1
    // always exists) must SURVIVE the sweep: deleting it would fail
    // that process's mid-write.
    val liveTmp = new java.io.File(s"$dir/t.parquet.tmp-1-1"); liveTmp.mkdirs()
    // refresh=false must NOT reuse the torn dir — no marker, no trust.
    val runs = Dag.materialize(spark, stage, dir, refresh = false)
    assert(!runs.head.skipped && runs.head.rows == 2)
    assert(new java.io.File(s"$dir/t.parquet", Dag.CommitMarker).exists())
    assert(!staleTmp.exists(), "stale tmp swept before the rebuild")
    assert(liveTmp.exists(), "a live process's tmp is never swept")
    graft.Fs.rmTree(liveTmp)
    assert(spark.read.parquet(s"$dir/t.parquet").count() == 2)
    // Now committed: the next tick reuses it.
    assert(Dag.materialize(spark, stage, dir, refresh = false).head.skipped)
  }

  test("independent ready stages materialize concurrently (bounded pool)") {
    // Both roots rendezvous on a barrier INSIDE their build functions:
    // serial materialization would block the first build forever, so a
    // timed-out barrier (→ materialize throws) is the failure signal.
    val dir = java.nio.file.Files.createTempDirectory("dag-par").toString
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def gated(n: Long) = (sp: SparkSession, up: Map[String, org.apache.spark.sql.DataFrame]) => {
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      sp.range(n).toDF()
    }
    val runs = Dag.materialize(spark, Seq(
      Dag.Stage("x", Nil, gated(3)),
      Dag.Stage("y", Nil, gated(4)),
      // A dependent of both still sees committed upstreams.
      Dag.Stage("z", Seq("x", "y"), (_, up) => up("x").union(up("y")))), dir)
    assert(runs.map(r => r.name -> r.rows) == Seq("x" -> 3L, "y" -> 4L, "z" -> 7L))
    graft.Fs.rmTree(new java.io.File(dir))
  }

  test("a refresh=false tick over reused stages runs ZERO Spark jobs (footer row counts)") {
    val dir = java.nio.file.Files.createTempDirectory("dag-zerojobs").toString
    val stages = Seq(
      Dag.Stage("a", Nil, (sp, _) => sp.range(5).toDF()),
      Dag.Stage("b", Seq("a"), (_, up) => up("a").selectExpr("id * 2 AS id")))
    val first = Dag.materialize(spark, stages, dir)
    assert(first.map(_.rows) == Seq(5L, 5L))
    val tally = graft.JobTally.of(spark)
    val before = tally.total().jobs
    val tick = Dag.materialize(spark, stages, dir, refresh = false)
    assert(tick.forall(_.skipped) && tick.map(_.rows) == Seq(5L, 5L))
    val jobs = tally.total().jobs - before
    assert(jobs == 0,
      s"a reused tick must not launch jobs (row counts come from parquet footers), saw $jobs")
    graft.Fs.rmTree(new java.io.File(dir))
  }

  test("a same-call upstream reads with its built schema: one job fewer per read, inferred schema") {
    import org.apache.spark.sql.types.StructType
    import scala.jdk.CollectionConverters._
    // Schema each build sees of each upstream, keyed "stage<-dep".
    val seen = new java.util.concurrent.ConcurrentHashMap[String, StructType]()
    def saw(stage: String, up: Map[String, org.apache.spark.sql.DataFrame]): Unit =
      up.foreach { case (d, df) => seen.put(s"$stage<-$d", df.schema) }
    val stages = Seq(
      // Non-nullable, nested, decimal and map columns: the types and the
      // nullability parquet inference could disagree on.
      Dag.Stage("a", Nil, (sp, _) => sp.range(6).selectExpr(
        "id", "CAST(id AS INT) AS i", "concat('s', id) AS s", "array(id, id + 1) AS arr",
        "named_struct('k', id, 'v', CAST(id AS DOUBLE)) AS st", "map(id, 's') AS m",
        "CAST(id AS DECIMAL(12, 3)) AS dec", "id % 2 = 0 AS even")),
      Dag.Stage("b", Seq("a"), (_, up) => { saw("b", up); up("a").selectExpr("*", "id * 2 AS twice") }),
      // The CurationDag `split` shape: hive-partitioned by a leading
      // column, which reads back last and keeps inference.
      Dag.Stage("split", Seq("b"), (_, up) => {
        saw("split", up)
        up("b").selectExpr("CASE WHEN id < 4 THEN 'train' ELSE 'eval' END AS split", "id", "s")
      }, partitionBy = Seq("split")),
      Dag.Stage("c", Seq("b", "split"), (_, up) => {
        saw("c", up)
        up("b").join(up("split").select("id", "split"), "id")
      }),
      // An incremental stage over an upstream it is not partitioned by:
      // `b` joins its static chain whole and reads like any other input.
      Dag.Stage("inc", Seq("b"), (_, up) => {
        saw("inc", up)
        up("b").selectExpr("CASE WHEN id < 3 THEN 'lo' ELSE 'hi' END AS half", "id")
      }, partitionBy = Seq("half"), incrementalOn = Some("half")))
    def jobsOf(body: => Unit): Int = {
      val started = new java.util.concurrent.atomic.AtomicInteger(0)
      val ended = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          started.incrementAndGet(): Unit
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          ended.incrementAndGet(): Unit
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        // Every job's end event is posted before its action returns;
        // settle until the asynchronous bus has delivered them all.
        var last = -1
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while ((started.get != ended.get || started.get != last) && System.nanoTime() < deadline) {
          last = started.get; Thread.sleep(500)
        }
        started.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // Hand-off: every stage built in one call.
    val handOff = java.nio.file.Files.createTempDirectory("dag-handoff").toString
    val handOffJobs = jobsOf(Dag.materialize(spark, stages, handOff))
    val handOffSeen = seen.asScala.toMap
    seen.clear()
    // Inference: the same builds, each upstream reused from an earlier call.
    val inferred = java.nio.file.Files.createTempDirectory("dag-infer").toString
    val inferJobs = jobsOf((1 to stages.size).foreach(n =>
      Dag.materialize(spark, stages.take(n), inferred, refresh = false)))
    val inferSeen = seen.asScala.toMap
    // b<-a, split<-b, c<-b, inc<-b; c<-split is partitioned and infers
    // in both.
    assert(inferJobs - handOffJobs == 4, s"hand-off $handOffJobs jobs, inference $inferJobs")
    assert(handOffSeen.keySet == Set("b<-a", "split<-b", "c<-b", "c<-split", "inc<-b"))
    assert(handOffSeen == inferSeen)
    handOffSeen.foreach { case (k, schema) =>
      val dep = k.split("<-")(1)
      assert(schema == spark.read.parquet(s"$handOff/$dep.parquet").schema, k)
    }
    assert(handOffSeen("b<-a").forall(_.nullable))
    assert(handOffSeen("c<-split").fieldNames.toSeq == Seq("id", "s", "split"))
    Seq(handOff, inferred).foreach(d => graft.Fs.rmTree(new java.io.File(d)))
  }

  test("a failing stage fails the run; its dependents never build") {
    val dir = java.nio.file.Files.createTempDirectory("dag-fail").toString
    val downstreamRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[RuntimeException](Dag.materialize(spark, Seq(
      Dag.Stage("ok", Nil, (sp, _) => sp.range(2).toDF()),
      Dag.Stage("boom", Seq("ok"), (_, _) => throw new RuntimeException("stage boom")),
      Dag.Stage("after", Seq("boom"), (sp, _) => {
        downstreamRan.set(true); sp.range(1).toDF()
      })), dir))
    assert(e.getMessage == "stage boom")
    assert(!downstreamRan.get(), "a dependent of a failed stage must never start")
    // The independent upstream still committed — a retry tick resumes
    // from it instead of rebuilding the world.
    assert(Dag.isCommitted(new java.io.File(s"$dir/ok.parquet")))
    assert(!new java.io.File(s"$dir/boom.parquet").exists())
    graft.Fs.rmTree(new java.io.File(dir))
  }

  test("a poisoned batch fails its quality gate and cannot replace the good committed table") {
    import org.apache.spark.sql.functions._
    import graft.quality.DataQuality
    val dir = java.nio.file.Files.createTempDirectory("dag-dq").toString
    // The fail-closed contract: the gate judges the
    // written candidate; pass=false aborts BEFORE the commit swap.
    val gate: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
      DataQuality.run(_, Seq(DataQuality.NotNull("v"))),
      DataQuality.uniqueness(_, Seq("id")))
    def tick(rows: org.apache.spark.sql.DataFrame, refresh: Boolean) =
      Dag.materialize(spark, Seq(
        Dag.Stage("manifest", Nil, (_, _) => rows, requireChecks = gate),
        Dag.Stage("consumer", Seq("manifest"), (sp, up) =>
          up("manifest").agg(count(lit(1)).as("n")))), dir, refresh)

    // Tick 1: a healthy batch commits through the gate.
    val good = spark.range(5).select(col("id"), lit("x").as("v"))
    val first = tick(good, refresh = true)
    assert(first.forall(r => !r.skipped && r.rows > 0))
    val goodStamp = Dag.commitStamp(new java.io.File(s"$dir/manifest.parquet"))
    assert(goodStamp.isDefined)

    // Tick 2: a poisoned batch — one null v, duplicated ids — must
    // abort with BOTH failing checks named, and the dependent must
    // never rebuild over it.
    val poisoned = spark.range(5).select((col("id") % 2).as("id"),
      when(col("id") === 3, lit(null)).otherwise(lit("x")).as("v"))
    val e = intercept[Dag.QualityGateException](tick(poisoned, refresh = true))
    assert(e.stage == "manifest")
    assert(e.failed.exists(_.startsWith("not_null:v")), e.failed.mkString("; "))
    assert(e.failed.exists(_.startsWith("unique:id")), e.failed.mkString("; "))

    // The good table is still live: same commit stamp, same contents,
    // and no tmp residue from the quarantined batch.
    assert(Dag.commitStamp(new java.io.File(s"$dir/manifest.parquet")) == goodStamp)
    assert(spark.read.parquet(s"$dir/manifest.parquet")
      .filter(col("v").isNull).count() == 0)
    assert(spark.read.parquet(s"$dir/manifest.parquet").count() == 5)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.contains(".tmp-")),
      "quarantined batch must not leave tmp residue")

    // The rejected batch is PARKED for triage, not destroyed:
    // `_quarantine/<stage>-<pid>-<nanos>` holds the exact
    // bytes the gate judged — readable, with the violations intact.
    val qdirs = Option(new java.io.File(dir, "_quarantine").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("manifest-"))
    assert(qdirs.length == 1, s"exactly one quarantined batch expected: ${qdirs.mkString(",")}")
    val parked = spark.read.parquet(qdirs.head.getAbsolutePath)
    assert(parked.count() == 5 && parked.filter(col("v").isNull).count() == 1,
      "the parked batch must be the poisoned candidate, violations intact")

    // Tick 3 (refresh=false): the scheduler's next incremental tick
    // keeps serving yesterday's good manifest.
    val again = tick(good, refresh = false)
    assert(again.forall(_.skipped) && again.head.rows == 5)

    // Retention is bounded: QuarantineKeep rejects live at once, the
    // oldest evicted — a flapping upstream ages out its own rejects
    // instead of filling the disk the live tables need.
    (1 to Dag.QuarantineKeep + 2).foreach { i =>
      intercept[Dag.QualityGateException](tick(
        poisoned.withColumn("tag", lit(i)), refresh = true))
    }
    val after = Option(new java.io.File(dir, "_quarantine").listFiles())
      .getOrElse(Array.empty)
    assert(after.length == Dag.QuarantineKeep,
      s"retention bound violated: ${after.length} parked batches")
    graft.Fs.rmTree(new java.io.File(dir))
  }

  test("quality gates judge partition-column values as built, not as directory-name inference") {
    import org.apache.spark.sql.functions._
    import graft.quality.DataQuality
    // A partitioned stage's candidate reads back through
    // partition-directory inference, so a numeric-looking STRING value
    // ("01") re-infers as an integer (1) and an AcceptedValues gate on
    // it judges values the build never produced. The gate read must see
    // "01" — the built value — and pass.
    val dir = java.nio.file.Files.createTempDirectory("dag-dq-part").toString
    val rows = spark.range(6).select(col("id"),
      when(col("id") % 2 === 0, lit("01")).otherwise(lit("07")).as("bucket"))
    val gate: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
      DataQuality.run(_, Seq(DataQuality.AcceptedValues("bucket", Seq("01", "07")))))
    val runs = Dag.materialize(spark, Seq(
      Dag.Stage("parted", Nil, (_, _) => rows,
        partitionBy = Seq("bucket"), requireChecks = gate)), dir, refresh = true)
    assert(runs.head.rows == 6, "a healthy partitioned batch must commit through its gate")
    // And the committed table serves the built values to plain readers
    // via the same directory names the gate judged.
    val back = spark.read.parquet(s"$dir/parted.parquet")
      .select(col("bucket").cast("string")).distinct().collect().map(_.getString(0)).sorted
    assert(back.sameElements(Array("01", "07")) || back.sameElements(Array("1", "7")),
      s"unexpected partition read-back: ${back.mkString(",")}")
    graft.Fs.rmTree(new java.io.File(dir))
  }

  test("incremental stages: a day-2 tick builds ONLY the new partition, zero jobs over day-1") {
    import org.apache.spark.sql.functions._
    // The Dagster-partitioned-assets shape: an
    // append-only corpus, a daily tick, and proof that day-1 work never
    // re-runs. Day 1 is 20× day 2 so a single accidental day-1 scan is
    // unmissable in the task input metrics.
    val evDir = java.nio.file.Files.createTempDirectory("dag-inc-events").toString
    val dir = java.nio.file.Files.createTempDirectory("dag-inc").toString
    def day(ds: String, n: Int, base: Int): org.apache.spark.sql.DataFrame =
      spark.range(n).select(col("id") + base, lit(ds).as("ds"), (col("id") % 7).as("user_id"),
        (col("id") * 1.5).as("value")).toDF("id", "ds", "user_id", "value")
    day("2024-01-01", 200, 0).write.mode("append").partitionBy("ds").parquet(evDir)

    val stages = Seq(
      Dag.Stage("ingest", Nil, (_, up) =>
        up("events").withColumn("v2", col("value") * 2),
        partitionBy = Seq("ds"), incrementalOn = Some("ds"),
        externalInputs = Map("events" -> evDir),
        requireChecks = Seq(graft.quality.DataQuality.run(_,
          Seq(graft.quality.DataQuality.NotNull("v2"))))),
      Dag.Stage("daily", Seq("ingest"), (_, up) =>
        up("ingest").groupBy(col("ds"), col("user_id"))
          .agg(round(sum(col("v2")), 6).as("total")),
        partitionBy = Seq("ds"), incrementalOn = Some("ds")))
    def tick() = Dag.materialize(spark, stages, dir, refresh = false)

    val first = tick()
    assert(first.map(_.rows) == Seq(200L, 7L) && first.forall(!_.skipped))

    // Day 2 arrives (append-only corpus growth).
    day("2024-01-02", 10, 1000).write.mode("append").partitionBy("ds").parquet(evDir)
    val day1IngestFiles = Option(new java.io.File(s"$dir/ingest.parquet/ds=2024-01-01")
      .listFiles()).getOrElse(Array.empty).map(f => (f.getName, f.lastModified)).toSet
    assert(day1IngestFiles.nonEmpty)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    val second = try {
      val r = tick()
      // Listener events post asynchronously — settle until the counters
      // stop moving before asserting.
      var last = -1L
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (recordsRead.get() != last && System.nanoTime() < deadline) {
        last = recordsRead.get(); Thread.sleep(200)
      }
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(second.forall(!_.skipped) && second.map(_.rows) == Seq(210L, 14L))
    // The delta tick scanned day-2 data only: ingest reads 10 corpus
    // rows, its gate reads the 10-row candidate, daily reads ingest's
    // 10 day-2 rows (+ small shuffle-side counts). A day-1 rescan would
    // add >=200 input records — assert well under that.
    assert(jobs.get() > 0, "a delta tick does run jobs (over the delta)")
    assert(recordsRead.get() < 120,
      s"day-2 tick read ${recordsRead.get()} records — day-1 partitions were rescanned")
    val day1After = Option(new java.io.File(s"$dir/ingest.parquet/ds=2024-01-01")
      .listFiles()).getOrElse(Array.empty).map(f => (f.getName, f.lastModified)).toSet
    assert(day1After == day1IngestFiles, "day-1 output files must be untouched by a day-2 tick")

    // Tick 3, nothing new: pure skip, ZERO jobs (fingerprints are file
    // stats; row counts come from parquet footers).
    val tally = graft.JobTally.of(spark)
    val before3 = tally.total().jobs
    val third = tick()
    assert(third.forall(_.skipped) && third.map(_.rows) == Seq(210L, 14L))
    val jobs3 = tally.total().jobs - before3
    assert(jobs3 == 0, s"an all-fresh incremental tick launched $jobs3 jobs")

    // The incrementally-grown table equals a from-scratch build.
    def snapshot(path: String) = spark.read.parquet(path)
      .select(col("ds").cast("string"), col("user_id"), col("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val scratch = java.nio.file.Files.createTempDirectory("dag-inc-scratch").toString
    Dag.materialize(spark, stages.map(_.copy()), scratch, refresh = true)
    assert(snapshot(s"$dir/daily.parquet") == snapshot(s"$scratch/daily.parquet"),
      "incremental result must equal the from-scratch build")

    // Backfill: day-1 corpus data CHANGES (late-arriving file) — only
    // day-1 rebuilds; day-2 output files stay untouched.
    val day2Files = Option(new java.io.File(s"$dir/ingest.parquet/ds=2024-01-02")
      .listFiles()).getOrElse(Array.empty).map(f => (f.getName, f.lastModified)).toSet
    day("2024-01-01", 5, 5000).write.mode("append").partitionBy("ds").parquet(evDir)
    val fourth = tick()
    assert(fourth.map(_.rows) == Seq(215L, 14L))
    val day2After = Option(new java.io.File(s"$dir/ingest.parquet/ds=2024-01-02")
      .listFiles()).getOrElse(Array.empty).map(f => (f.getName, f.lastModified)).toSet
    assert(day2After == day2Files, "a day-1 backfill must not touch day-2 partitions")
    val scratch2 = java.nio.file.Files.createTempDirectory("dag-inc-scratch2").toString
    Dag.materialize(spark, stages.map(_.copy()), scratch2, refresh = true)
    assert(snapshot(s"$dir/daily.parquet") == snapshot(s"$scratch2/daily.parquet"))

    // Retention/removal: a corpus partition disappears — the tick drops
    // the derived partitions and the table again equals from-scratch.
    graft.Fs.rmTree(new java.io.File(s"$evDir/ds=2024-01-02"))
    val fifth = tick()
    assert(fifth.map(_.rows) == Seq(205L, 7L))
    assert(!new java.io.File(s"$dir/daily.parquet/ds=2024-01-02").exists())

    Seq(evDir, dir, scratch, scratch2).foreach(d => graft.Fs.rmTree(new java.io.File(d)))
  }

  test("incremental stages: a crash between partition swap and stamp rewrite self-heals") {
    import org.apache.spark.sql.functions._
    // The delta commit's crash story (Stage.incrementalOn doc): the
    // partition dirs rename first, the stamp rewrites LAST — so a crash
    // in between leaves the new partition live but unrecorded, and the
    // next tick must re-detect exactly that value as stale, rebuild
    // only it, and converge to the from-scratch answer. Simulated by
    // restoring the pre-tick stamp file after a successful day-2 tick.
    val evDir = java.nio.file.Files.createTempDirectory("dag-crash-ev").toString
    val dir = java.nio.file.Files.createTempDirectory("dag-crash").toString
    def day(ds: String, base: Int) = spark.range(8).select(
      (col("id") + base).as("id"), lit(ds).as("ds"), (col("id") * 2.0).as("v"))
    day("2024-01-01", 0).write.mode("append").partitionBy("ds").parquet(evDir)
    val stages = Seq(Dag.Stage("ingest", Nil, (_, up) => up("events"),
      partitionBy = Seq("ds"), incrementalOn = Some("ds"),
      externalInputs = Map("events" -> evDir)))
    def tick() = Dag.materialize(spark, stages, dir, refresh = false)
    assert(tick().head.rows == 8)
    val stamp = java.nio.file.Paths.get(s"$dir/ingest.parquet/_graft_stamp")
    val preTick = java.nio.file.Files.readAllBytes(stamp)

    day("2024-01-02", 100).write.mode("append").partitionBy("ds").parquet(evDir)
    assert(tick().head.rows == 16)
    // "Crash" before the stamp landed: the day-2 dir exists, the stamp
    // still records day 1 only.
    java.nio.file.Files.write(stamp, preTick)
    val day1Files = Option(new java.io.File(s"$dir/ingest.parquet/ds=2024-01-01")
      .listFiles()).getOrElse(Array.empty).map(f => (f.getName, f.lastModified)).toSet
    val healed = tick()
    assert(!healed.head.skipped && healed.head.rows == 16,
      "the unrecorded partition must re-detect as stale and rebuild")
    val day1After = Option(new java.io.File(s"$dir/ingest.parquet/ds=2024-01-01")
      .listFiles()).getOrElse(Array.empty).map(f => (f.getName, f.lastModified)).toSet
    assert(day1After == day1Files, "healing day 2 must not touch day 1")
    // Converged: a further tick is a pure skip and the table equals the
    // corpus.
    val again = tick()
    assert(again.head.skipped && again.head.rows == 16)
    assert(spark.read.parquet(s"$dir/ingest.parquet").count() == 16)
    Seq(evDir, dir).foreach(d => graft.Fs.rmTree(new java.io.File(d)))
  }

  test("incremental stages: a poisoned delta is quarantined; committed days keep serving") {
    import org.apache.spark.sql.functions._
    val evDir = java.nio.file.Files.createTempDirectory("dag-incq-ev").toString
    val dir = java.nio.file.Files.createTempDirectory("dag-incq").toString
    def day(ds: String, poison: Boolean): org.apache.spark.sql.DataFrame =
      spark.range(10).select(col("id"), lit(ds).as("ds"),
        (if (poison) when(col("id") === 3, lit(null)).otherwise(col("id") * 1.5)
         else col("id") * 1.5).as("value"))
    day("2024-01-01", poison = false).write.mode("append").partitionBy("ds").parquet(evDir)
    val stages = Seq(
      Dag.Stage("ingest", Nil, (_, up) => up("events"),
        partitionBy = Seq("ds"), incrementalOn = Some("ds"),
        externalInputs = Map("events" -> evDir),
        requireChecks = Seq(graft.quality.DataQuality.run(_,
          Seq(graft.quality.DataQuality.NotNull("value"))))))
    def tick() = Dag.materialize(spark, stages, dir, refresh = false)
    assert(tick().head.rows == 10)

    day("2024-01-02", poison = true).write.mode("append").partitionBy("ds").parquet(evDir)
    val e = intercept[Dag.QualityGateException](tick())
    assert(e.stage == "ingest" && e.failed.exists(_.startsWith("not_null:value")))
    // Day 1 still committed and served; the poisoned day never landed;
    // the DELTA (10 rows, day-2 only) is parked for triage.
    assert(spark.read.parquet(s"$dir/ingest.parquet").count() == 10)
    assert(!new java.io.File(s"$dir/ingest.parquet/ds=2024-01-02").exists())
    val parked = Option(new java.io.File(dir, "_quarantine").listFiles())
      .getOrElse(Array.empty)
    assert(parked.length == 1)
    val pdf = spark.read.parquet(parked.head.getAbsolutePath)
    assert(pdf.count() == 10 && pdf.filter(col("value").isNull).count() == 1,
      "quarantine must hold the DELTA candidate with its violation intact")
    // The fix arrives upstream: the repaired day-2 commits through.
    graft.Fs.rmTree(new java.io.File(s"$evDir/ds=2024-01-02"))
    day("2024-01-02", poison = false).write.mode("append").partitionBy("ds").parquet(evDir)
    assert(tick().head.rows == 20)
    Seq(evDir, dir).foreach(d => graft.Fs.rmTree(new java.io.File(d)))
  }

  test("incremental delta whose tokens do not round-trip degrades to a full rebuild, never loses the delta") {
    import org.apache.spark.sql.functions._
    // An external input written with ds=01 (string token)
    // is re-typed by partition-dir inference on read (Spark 4 probes:
    // '01' → int 1), so the delta build writes ds=1 while the stale
    // stamp key is 01 — a token-keyed swap would move nothing, delete
    // nothing it should, and stamp the value fresh: the delta silently
    // lost, stale data served forever. The fix detects tmp tokens
    // outside the stale set BEFORE touching the target and degrades the
    // tick to a whole-table rebuild.
    val evDir = java.nio.file.Files.createTempDirectory("dag-drift-ev").toString
    val dir = java.nio.file.Files.createTempDirectory("dag-drift").toString
    def rows(ds: String, n: Int, base: Int) =
      spark.range(n).select((col("id") + base).as("id"), lit(ds).as("ds"))
    rows("01", 4, 0).write.mode("append").partitionBy("ds").parquet(evDir)
    val stages = Seq(Dag.Stage("ing", Nil,
      (_, up) => up("events").withColumn("v", col("id") * 2),
      partitionBy = Seq("ds"), incrementalOn = Some("ds"),
      externalInputs = Map("events" -> evDir)))
    def tick() = Dag.materialize(spark, stages, dir, refresh = false)
    tick()
    // Precondition of the hazard: inference re-typed the token.
    assert(new java.io.File(s"$dir/ing.parquet/ds=1").exists(),
      "precondition: partition inference re-types 01 -> 1")

    // Day-1 backfill: the ds=01 partition gains rows; only it is stale.
    rows("01", 3, 100).write.mode("append").partitionBy("ds").parquet(evDir)
    val second = tick()
    assert(second.forall(!_.skipped))
    val got = spark.read.parquet(s"$dir/ing.parquet")
      .select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ((0L until 4L) ++ (100L until 103L)).map(i => (i, i * 2)).toSet
    assert(got == want, "the backfilled delta must never be silently lost")
    // No orphaned tmp survives the degraded tick; the tick stays
    // idempotent afterwards (the degraded full build stamped the
    // INPUT-token fingerprints, so an unchanged corpus skips).
    assert(!new java.io.File(dir).listFiles().exists(_.getName.contains(".tmp-")))
    val third = tick()
    assert(third.forall(_.skipped), "post-degradation tick over unchanged corpus must skip")
    Seq(evDir, dir).foreach(d => graft.Fs.rmTree(new java.io.File(d)))
  }

  test("quarantine retention: a sixth rejection evicts exactly the oldest entry") {
    import org.apache.spark.sql.functions._
    // _quarantine/ keeps the QuarantineKeep (5) most recent rejected
    // batches.
    val dir = java.nio.file.Files.createTempDirectory("dag-quar").toString
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val poisoned = Seq(Dag.Stage("bad", Nil,
      (sp, _) => sp.range(3).select(col("id"), lit(null: String).as("must")),
      requireChecks = Seq(graft.quality.DataQuality.run(_,
        Seq(graft.quality.DataQuality.NotNull("must"))))))
    def reject(): Unit = {
      counter.incrementAndGet()
      intercept[Dag.QualityGateException] {
        Dag.materialize(spark, poisoned, dir, refresh = true)
      }
      // mtime-ordered eviction needs distinct mtimes on coarse clocks.
      Thread.sleep(15)
    }
    val qroot = new java.io.File(dir, "_quarantine")
    def names = Option(qroot.listFiles()).getOrElse(Array.empty).map(_.getName).toSet
    reject()
    val first = names
    assert(first.size == 1, "first rejection parks one batch")
    (2 to 6).foreach(_ => reject())
    val entries = names
    assert(entries.size == Dag.QuarantineKeep,
      s"6 rejections must leave exactly ${Dag.QuarantineKeep} quarantined batches, " +
        s"got ${entries.size}")
    assert(!entries.contains(first.head),
      "the evicted batch must be the OLDEST (the first rejection)")
    // A seventh rejection still leaves 5 (steady state, bounded disk).
    reject()
    assert(Option(qroot.listFiles()).getOrElse(Array.empty).length == Dag.QuarantineKeep)
    graft.Fs.rmTree(new java.io.File(dir))
  }

  test("a partition-layout change rebuilds a committed stage once under refresh=false") {
    val dir = java.nio.file.Files.createTempDirectory("dag-layout").toString
    def stages(pb: Seq[String]) = Seq(Dag.Stage("m", Nil, (sp, _) =>
      sp.range(6).selectExpr("id", "CAST(id % 2 AS STRING) AS par"), partitionBy = pb))
    assert(!Dag.materialize(spark, stages(Nil), dir).head.skipped)
    assert(Dag.materialize(spark, stages(Nil), dir, refresh = false).head.skipped)
    // The layout edit is part of the stamp contract: the committed
    // unpartitioned table rebuilds ONCE into the declared hive layout…
    val tick = Dag.materialize(spark, stages(Seq("par")), dir, refresh = false)
    assert(!tick.head.skipped && tick.head.rows == 6)
    assert(new java.io.File(s"$dir/m.parquet/par=0").isDirectory)
    // …then quiesces.
    assert(Dag.materialize(spark, stages(Seq("par")), dir, refresh = false).head.skipped)
    graft.Fs.rmTree(new java.io.File(dir))
  }

  test("two same-JVM materialize calls racing one stage both succeed; one table commits") {
    // The liveTmps registry + racedWinner/rename-catch resolution: two
    // threads build the same stage over one workDir with refresh=true;
    // neither may sweep the other's in-flight tmp, and both must
    // return a consistent committed table.
    val dir = java.nio.file.Files.createTempDirectory("dag-race").toString
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val stage = Seq(Dag.Stage("r", Nil, (sp, _) => {
      gate.await(30, java.util.concurrent.TimeUnit.SECONDS) // both in-flight at once
      sp.range(9).toDF()
    }))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val runs = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(
          scala.concurrent.Future(Dag.materialize(spark, stage, dir)),
          scala.concurrent.Future(Dag.materialize(spark, stage, dir)))),
        scala.concurrent.duration.Duration(60, "s"))
      assert(runs.flatten.forall(r => r.rows == 9 && !r.skipped))
      assert(Dag.isCommitted(new java.io.File(s"$dir/r.parquet")))
      assert(spark.read.parquet(s"$dir/r.parquet").count() == 9)
      // No orphaned tmps survive the race.
      assert(!new java.io.File(dir).listFiles().exists(_.getName.contains(".tmp-")))
    } finally pool.shutdown()
    graft.Fs.rmTree(new java.io.File(dir))
  }

  test("an incremental stage's whole build that loses a race reuses the winner's commit") {
    import org.apache.spark.sql.functions._
    // Two materialize calls build the incremental stage whole from an
    // empty work dir. The first stalls in its build until the second has
    // committed; its commit must then find the winner's table (same
    // chain, a stamp it never saw) and drop its own candidate, leaving
    // the winner's stamp in place.
    val evDir = java.nio.file.Files.createTempDirectory("dag-inc-race-ev").toString
    val dir = java.nio.file.Files.createTempDirectory("dag-inc-race").toString
    Seq("2024-01-01", "2024-01-02").foreach(ds =>
      spark.range(5).select(col("id"), lit(ds).as("ds"))
        .write.mode("append").partitionBy("ds").parquet(evDir))
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val started = new java.util.concurrent.CountDownLatch(1)
    val go = new java.util.concurrent.CountDownLatch(1)
    val stages = Seq(Dag.Stage("ing", Nil, (_, up) => {
      if (builds.getAndIncrement() == 0) {
        started.countDown()
        assert(go.await(60, java.util.concurrent.TimeUnit.SECONDS))
      }
      up("events").withColumn("v", col("id") * 2)
    }, partitionBy = Seq("ds"), incrementalOn = Some("ds"),
      externalInputs = Map("events" -> evDir)))
    val stamp = java.nio.file.Paths.get(s"$dir/ing.parquet/_graft_stamp")
    def owner() = java.nio.file.Files.readAllLines(stamp).get(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val loser = scala.concurrent.Future(Dag.materialize(spark, stages, dir, refresh = false))
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val winner = Dag.materialize(spark, stages, dir, refresh = false)
      assert(!winner.head.skipped && winner.head.rows == 10)
      val won = owner()
      go.countDown()
      val lost = scala.concurrent.Await.result(loser, scala.concurrent.duration.Duration(60, "s"))
      assert(!lost.head.skipped && lost.head.rows == 10)
      assert(owner() == won, "the losing whole build replaced the winner's committed table")
      assert(!new java.io.File(dir).listFiles().exists(_.getName.contains(".tmp-")))
      assert(Dag.materialize(spark, stages, dir, refresh = false).head.skipped)
    } finally { go.countDown(); pool.shutdown() }
    Seq(evDir, dir).foreach(d => graft.Fs.rmTree(new java.io.File(d)))
  }

  test("detections replace-in-place drops the SessionCache table scan automatically") {
    val sf = "/root/testdata/sf0.001"
    DetectionsTable.invalidate(sf)
    DetectionsTable.ensure(spark, sf)
    val n = Synthetic.detectionsCached(spark, sf).count()
    assert(SessionCache.liveKeys(spark).contains(s"detections:$sf"))
    // invalidate drops the cached scan in every session…
    DetectionsTable.invalidate(sf)
    assert(!SessionCache.liveKeys(spark).contains(s"detections:$sf"),
      "a removed table must not leave a cached plan over its files")
    // …and after the rebuild (same fingerprint path, FRESH part files)
    // the consumer reads the new table — without the eviction hooks the
    // old entry would recompute over deleted files and throw.
    DetectionsTable.ensure(spark, sf)
    assert(Synthetic.detectionsCached(spark, sf).count() == n)
    SessionCache.release(spark, s"detections:$sf")
    DetectionsTable.invalidate(sf)
  }

  test("wall-features input table: ensure materializes, consumers read it bit-identically") {
    val sf = "/root/testdata/sf0.001"
    WallFeaturesTable.invalidate(sf)
    assert(WallFeaturesTable.materializedPath(sf).isEmpty)
    // No table committed: the resolver serves the live derivation.
    val derivedPlan = Synthetic.wallFeatures(spark, sf)
    assert(!derivedPlan.inputFiles.exists(_.contains("graft_dag")))
    val p = WallFeaturesTable.ensure(spark, sf)
    assert(WallFeaturesTable.materializedPath(sf).contains(p))
    // Committed: the resolver becomes a scan of the persisted table…
    val cached = Synthetic.wallFeatures(spark, sf)
    assert(cached.inputFiles.nonEmpty && cached.inputFiles.forall(_.contains("graft_dag")),
      s"expected a parquet scan of the materialized table, got inputs: ${cached.inputFiles.toSeq}")
    // …bit-identical to the live derivation (doubles included), so the
    // q93 oracle is unaffected by which path serves a given run.
    val live = Synthetic.wallFeaturesDerived(spark, sf)
    assert(cached.exceptAll(live).count() == 0 && live.exceptAll(cached).count() == 0)
    // invalidate → re-ensure rebuilds at the SAME fingerprint path with
    // fresh part-file names: the path memo must evict, or this read
    // would plan over the deleted files and fail at execution.
    WallFeaturesTable.invalidate(sf)
    WallFeaturesTable.ensure(spark, sf)
    assert(Synthetic.wallFeatures(spark, sf).count() == live.count())
    WallFeaturesTable.invalidate(sf)
  }

  test("input tables and RunDag's default work dir resolve under Fs.stateRoot") {
    val sf = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("state-root").toString
    val prior = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", root)
    try {
      assert(graft.Fs.stateRoot == root)
      assert(graft.RunDag.defaultWorkDir("street") == s"$root/graft_dag_street")
      val p = DetectionsTable.ensure(spark, sf)
      assert(p.startsWith(s"$root/graft_dag/detections/"), p)
      assert(Dag.isCommitted(new java.io.File(p)))
      assert(DetectionsTable.materializedPath(sf).contains(p))
    } finally {
      // Invalidate while the root still resolves to the temporary dir, so
      // cached plans are evicted before their files are deleted.
      DetectionsTable.invalidate(sf)
      System.setProperty("java.io.tmpdir", prior)
    }
    graft.Fs.rmTree(new java.io.File(root))
  }

  test("detections input table: ensure materializes once, consumers read it bit-identically") {
    val sf = "/root/testdata/sf0.001"
    DetectionsTable.invalidate(sf)
    assert(DetectionsTable.materializedPath(sf).isEmpty)
    val p = DetectionsTable.ensure(spark, sf)
    assert(DetectionsTable.materializedPath(sf).contains(p))
    val success = new java.io.File(p, "_SUCCESS")
    val stamp = success.lastModified()
    // Second ensure reuses the committed table (incremental tick).
    assert(DetectionsTable.ensure(spark, sf) == p)
    assert(success.lastModified() == stamp, "a reuse tick must not rewrite")
    // detectionsCached now resolves to a SCAN of the persisted table…
    SessionCache.release(spark, s"detections:$sf")
    val cached = Synthetic.detectionsCached(spark, sf)
    val leaves = cached.queryExecution.optimizedPlan.collectLeaves().map(_.toString)
    assert(leaves.exists(_.contains("graft_dag")),
      s"expected a parquet scan of the materialized table, got leaves: $leaves")
    // …and the table round-trips the derivation bit-exactly (doubles
    // included), so every downstream oracle is unaffected.
    val live = Synthetic.detections(spark, sf)
    assert(cached.exceptAll(live).count() == 0 && live.exceptAll(cached).count() == 0)
    SessionCache.release(spark, s"detections:$sf")
    // A torn materialization (neither commit marker) is cleared and
    // rebuilt — Dag stamps its own marker AND the committer's _SUCCESS
    // is accepted, so both must go to simulate the crash window.
    success.delete()
    new java.io.File(p, Dag.CommitMarker).delete()
    assert(DetectionsTable.materializedPath(sf).isEmpty, "no commit marker ⇒ not a table")
    val p2 = DetectionsTable.ensure(spark, sf)
    assert(new java.io.File(p2, Dag.CommitMarker).exists())
    // A stale sibling materialization (different fingerprint — e.g.
    // regenerated testdata) is swept by the next ensure ONCE it has
    // been quiet past the grace window; a FRESH sibling survives (a
    // concurrently-running process may still scan it), and a non-hex
    // suffix (a DIFFERENT corpus whose sanitized name extends this
    // one) is never touched.
    val dagRoot = new java.io.File(p2).getParentFile.getParentFile
    // Build sibling names from the COMMITTED dir's own prefix (the
    // sanitized corpus path now carries a raw-path digest, so a
    // hand-spelled sanitized name would silently stop matching).
    val committedName = new java.io.File(p2).getParentFile.getName
    val prefix = committedName.substring(0, committedName.lastIndexOf('_') + 1)
    val old = new java.io.File(dagRoot, prefix + "deadbeef")
    new java.io.File(old, "detections.parquet").mkdirs()
    old.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000)
    val fresh = new java.io.File(dagRoot, prefix + "cafebabe")
    new java.io.File(fresh, "detections.parquet").mkdirs()
    val otherCorpus = new java.io.File(dagRoot, prefix + "v2_aaaa")
    new java.io.File(otherCorpus, "detections.parquet").mkdirs()
    otherCorpus.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000)
    // PRE-DIGEST layout dirs — "<lossy-sanitized>_<fp>" with NO digest
    // segment — are unreachable by any current reader and must be swept
    // by their corpus's lossy prefix even though the digest-carrying
    // prefix can never match them (a digest change once silently
    // orphaned them).
    val lossyPrefix = prefix.substring(0, {
      val d = prefix.stripSuffix("_"); d.lastIndexOf('_') + 1
    })
    val preDigest = new java.io.File(dagRoot, lossyPrefix + "beefbeef")
    new java.io.File(preDigest, "detections.parquet").mkdirs()
    preDigest.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000)
    DetectionsTable.ensure(spark, sf)
    assert(!old.exists(), "quiet stale fingerprint dirs are swept")
    assert(fresh.exists(), "fresh sibling survives the grace window")
    assert(otherCorpus.exists(), "a different corpus's dir is never swept")
    assert(!preDigest.exists(), "quiet pre-digest legacy dirs are swept")
    assert(new java.io.File(p2, Dag.CommitMarker).exists(),
      "the live digest-layout table itself survives the lossy-prefix sweep")
    graft.Fs.rmTree(fresh); graft.Fs.rmTree(otherCorpus)
    DetectionsTable.invalidate(sf)
  }
}
