package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.pipeline.{Dag, SessionCache, SweepStats}
import graft.queries.{QueryDef, Registry}

/** Epoch milliseconds with the monotonic clock's resolution. Spans and the
  * scheduler's job events (epoch ms) share this time base.
  */
object Clock {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6
}

/** Minimal JSON rendering for the result file. */
object Js {
  def s(x: String): String = graft.Jsons.quote(x)
  def n(x: Double): String = if (java.lang.Double.isFinite(x)) x.toString else "null"
  def n(x: Long): String = x.toString
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** Every Spark job the session runs, with its completed stages' task
  * metrics rolled up. Job group and DAG-stage tag come from the local
  * properties the harness sets on the submitting thread.
  */
final class JobLedger extends SparkListener {
  final class Job(val id: Int, val group: String, val dagStage: String, val startMs: Long) {
    var endMs: Long = -1L
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spillDisk = 0L
    var inputBytes, inputRecords, outputBytes = 0L
    def toJson: String = Js.obj(Seq(
      "id" -> Js.n(id.toLong), "group" -> Js.s(group), "dag_stage" -> Js.s(dagStage),
      "start_ms" -> Js.n(startMs), "end_ms" -> Js.n(endMs),
      "stages" -> Js.n(stages.toLong), "tasks" -> Js.n(tasks.toLong),
      "run_ms" -> Js.n(runMs), "cpu_ms" -> Js.n(cpuNs / 1e6), "gc_ms" -> Js.n(gcMs),
      "shuffle_read_bytes" -> Js.n(shuffleRead), "shuffle_write_bytes" -> Js.n(shuffleWrite),
      "spill_disk_bytes" -> Js.n(spillDisk), "input_bytes" -> Js.n(inputBytes),
      "input_records" -> Js.n(inputRecords), "output_bytes" -> Js.n(outputBytes)))
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOwner = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new Job(e.jobId, prop("spark.jobGroup.id"), prop(Harness.DagStageProp), e.time)
    jobs(e.jobId) = j
    // A stage shared by several jobs runs once, in the first job that needs it.
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOwner.get(si.stageId).foreach { j =>
      j.stages += 1
      j.tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spillDisk += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)
}

/** Rows each sink write committed, read from the finished write plan, so
  * an output check never executes a query a second time.
  */
final class CommitLedger extends org.apache.spark.sql.util.QueryExecutionListener {
  private var last: Option[Long] = None
  def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
    qe.executedPlan match {
      case w: org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec =>
        synchronized { last = w.commitProgress.map(_.numOutputRows) }
      case _ => ()
    }
  def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  def take(): Option[Long] = synchronized { val r = last; last = None; r }
}

final case class Span(id: Int, parent: Int, name: String, layer: String, start: Double, end: Double) {
  def toJson: String = Js.obj(Seq("id" -> Js.n(id.toLong), "parent" -> Js.n(parent.toLong),
    "name" -> Js.s(name), "layer" -> Js.s(layer), "start_ms" -> Js.n(start), "end_ms" -> Js.n(end)))
}

/** In-memory span recorder; records nothing when tracing is off. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 1
  def span[T](parent: Int, name: String, layer: String)(body: Int => T): T = {
    val id = next
    next += 1
    val t0 = Clock.nowMs
    try body(id) finally if (on) spans += Span(id, parent, name, layer, t0, Clock.nowMs)
  }
  def add(parent: Int, name: String, layer: String, start: Double, end: Double): Unit =
    if (on) { spans += Span(next, parent, name, layer, start, end); next += 1 }
}

/** One timed operation. A failed operation keeps its time-to-failure for
  * the record, but the report never counts it as a latency sample.
  */
final case class OpRecord(
    round: Int, name: String, family: String, group: String, span: Int,
    start: Double, end: Double, buildMs: Double = 0, planMs: Double = 0, actionMs: Double = 0,
    error: Option[String] = None, rows: Option[Long] = None,
    stages: Seq[Dag.StageRun] = Nil, cacheBuildMs: Long = 0, cacheBuilds: Int = 0) {
  def toJson: String = Js.obj(Seq(
    "round" -> Js.n(round.toLong), "name" -> Js.s(name),
    "family" -> Js.s(family), "group" -> Js.s(group), "span" -> Js.n(span.toLong), "start_ms" -> Js.n(start),
    "end_ms" -> Js.n(end), "build_ms" -> Js.n(buildMs), "plan_ms" -> Js.n(planMs),
    "action_ms" -> Js.n(actionMs), "error" -> error.map(Js.s).getOrElse("null"),
    "rows" -> rows.map(Js.n).getOrElse("null"),
    "stages" -> Js.arr(stages.map(r => Js.obj(Seq("name" -> Js.s(r.name),
      "rows" -> Js.n(r.rows), "ms" -> Js.n(r.millis), "reused" -> r.skipped.toString)))),
    "cache_build_ms" -> Js.n(cacheBuildMs), "cache_builds" -> Js.n(cacheBuilds.toLong)))
}

/** What one workload does inside the harness's fixed frame: set-up, then
  * timed rounds until the run's seconds are spent, then output facts for
  * the checks (gathered after every timed window has closed).
  */
abstract class Workload(val h: Harness) {
  /** Set-up after the session exists; returns its named parts in ms. */
  def setUp(): Seq[(String, Double)]
  /** One round of operations; returns its records. */
  def round(r: Int, tr: Tracer, parent: Int): Seq[OpRecord]
  /** JSON fields the output checks read. */
  def facts(): Seq[(String, String)]
}

final class Harness(val spark: SparkSession, val dataDir: String, val workDir: String) {
  val jobs = new JobLedger
  val commits = new CommitLedger
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(commits)
  private var groups = 0

  /** Runs `body` under a fresh job group so its jobs attribute to it. */
  def inGroup[T](body: String => T): T = {
    groups += 1
    val g = s"perfbench-$groups"
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    try body(g) finally spark.sparkContext.clearJobGroup()
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

object Harness {
  val DagStageProp = "perfbench.dagStage"

  /** Query families for the per-family split: the Registry module that
    * declares a query names its family; modules not listed are "other".
    */
  lazy val familyOf: Map[String, String] = Seq(
    "relational" -> graft.queries.Relational.all,
    "text" -> graft.queries.TextAnalysis.all,
    "dedup" -> graft.queries.Dedup.all,
    "similarity" -> graft.queries.Similarity.all,
    "domain" -> (graft.queries.Domain.all ++ graft.queries.DomainOracles.all),
    "curation" -> graft.queries.Curation.all,
  ).flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  def family(q: String): String = familyOf.getOrElse(q, "other")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val out = arg("out")
    val cpus = a.getOrElse("cpus", "4")
    val workDir = arg("work")

    val setup = mutable.LinkedHashMap.empty[String, Double]
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = graft.Sessions.builder(cpus)
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val h = new Harness(spark, arg("data"), workDir)
    setup("session_ms") = Clock.nowMs - jvmStart

    val w: Workload = workload match {
      case "street_dag" => new StreetDag(h)
      case "dag_tick" => new DagTick(h)
      case "query_sweep" => new QuerySweep(h, QuerySweep.resolve(arg("queries").split(',').toSeq))
      case other => sys.error(s"unknown workload $other")
    }
    setup ++= w.setUp()
    // SessionCache builds made in set-up, reported next to the rounds'. A
    // warm-up sweep's operations have drained their own builds already.
    val setupBuilt = SessionCache.drainBuildLog(spark)
    setup("session_cache_build_ms") =
      setup.getOrElse("session_cache_build_ms", 0.0) + setupBuilt.map(_._2).sum
    setup("session_cache_builds") = setup.getOrElse("session_cache_builds", 0.0) + setupBuilt.size
    setup("total_ms") = Clock.nowMs - jvmStart

    // Rounds run until the run's seconds are spent (at least one). A traced
    // run does the same work with spans on; its wall against an untraced
    // run's wall is the tracing overhead.
    val stats = SweepStats.forSession(spark)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    val tr = new Tracer(traced)
    stats.maxGroupBoxes.reset(); stats.pairsEnumerated.reset(); stats.denseGroups.reset()
    val t0 = Clock.nowMs
    tr.span(0, workload, "workload") { root =>
      while (roundWalls.isEmpty || Clock.nowMs - t0 < seconds * 1000) {
        val rs = Clock.nowMs
        ops ++= w.round(roundWalls.size, tr, root)
        roundWalls += Clock.nowMs - rs
      }
    }
    h.drain()
    val grouping = Js.obj(Seq(
      "max_group_boxes" -> Js.n(stats.maxGroupBoxes.value),
      "pairs_enumerated" -> Js.n(stats.pairsEnumerated.value),
      "dense_groups" -> Js.n(stats.denseGroups.value)))

    // Output facts: gathered only now, after every timed window.
    val facts = w.facts()
    h.drain()
    val meta = Seq(
      "workload" -> Js.s(workload), "nproc" -> Js.n(Runtime.getRuntime.availableProcessors().toLong),
      "cpus" -> Js.s(cpus), "heap_mb" -> Js.n(Runtime.getRuntime.maxMemory() >> 20),
      "java" -> Js.s(System.getProperty("java.version")), "traced" -> traced.toString)
    val rssPeakKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(-1L)
    val json = Js.obj(Seq(
      "meta" -> Js.obj(meta),
      "setup" -> Js.obj(setup.map { case (k, v) => k -> Js.n(v) }),
      "round_ms" -> Js.arr(roundWalls.map(Js.n)),
      "grouping" -> grouping,
      "ops" -> Js.arr(ops.map(_.toJson)),
      "jobs" -> Js.arr(h.jobs.snapshot.map(_.toJson)),
      "spans" -> Js.arr(tr.spans.map(_.toJson)),
      "facts" -> Js.obj(facts),
      "rss_peak_mb" -> Js.n(rssPeakKb / 1024.0)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    spark.stop()
  }
}

/** Shared DAG plumbing for the two street-level workloads. */
trait StreetStages { self: Workload =>
  /** The street-level stages, each tagging its jobs with the stage name
    * and recording when its build was called (the stage span's start).
    */
  def stages: Seq[Dag.Stage] =
    Dag.streetLevelDag(h.dataDir).map(st => st.copy(build = (sp, up) => {
      sp.sparkContext.setLocalProperty(Harness.DagStageProp, st.name)
      buildStarts.put(st.name, Clock.nowMs)
      st.build(sp, up)
    }))
  val buildStarts = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def materialize(r: Int, tr: Tracer, parent: Int, dir: String,
      refresh: Boolean, opName: String): OpRecord = h.inGroup { g =>
    buildStarts.clear()
    tr.span(parent, opName, "op") { opId =>
      val t0 = Clock.nowMs
      val (runs, err) =
        try (Dag.materialize(h.spark, stages, dir, refresh), None)
        catch { case scala.util.control.NonFatal(e) => (Nil, Some(h.errorText(e))) }
      val t1 = Clock.nowMs
      runs.foreach { sr =>
        val st = Option(buildStarts.get(sr.name))
        st.foreach(s => tr.add(opId, sr.name, "dag_stage", s, s + sr.millis))
      }
      OpRecord(r, opName, "dag", g, if (tr.on) opId else 0, t0, t1,
        actionMs = t1 - t0, error = err, stages = runs)
    }
  }

  /** The stage graph, for the critical path. */
  def deps: (String, String) =
    "deps" -> Js.obj(Dag.streetLevelDag(h.dataDir).map(s => s.name -> Js.arr(s.deps.map(Js.s))))
}

/** Each operation is one from-scratch materialization of the street-level
  * DAG into a fresh work dir.
  */
final class StreetDag(h: Harness) extends Workload(h) with StreetStages {
  private val dirs = mutable.ArrayBuffer.empty[String]

  /** JIT warm-up: one whole materialization of the measured input into a
    * dir of its own, so the timed rounds all run compiled code (a smaller
    * input left the first round half again as slow as the later ones).
    */
  def setUp(): Seq[(String, Double)] = {
    val t0 = Clock.nowMs
    Dag.materialize(h.spark, Dag.streetLevelDag(h.dataDir), s"${h.workDir}/warm-dag")
    Seq("warmup_ms" -> (Clock.nowMs - t0))
  }

  def round(r: Int, tr: Tracer, parent: Int): Seq[OpRecord] = {
    val dir = s"${h.workDir}/street-$r"
    dirs += dir
    Seq(materialize(r, tr, parent, dir, refresh = true, "materialize"))
  }

  def facts(): Seq[(String, String)] =
    Seq(deps, "output_dirs" -> Js.arr(dirs.map(Js.s)))
}

/** Set-up materializes the DAG once; each operation is then one reuse
  * tick over the committed stages.
  */
final class DagTick(h: Harness) extends Workload(h) with StreetStages {
  private lazy val dir = s"${h.workDir}/tick"
  private var initial: Seq[Dag.StageRun] = Nil

  def setUp(): Seq[(String, Double)] = {
    val t0 = Clock.nowMs
    initial = Dag.materialize(h.spark, Dag.streetLevelDag(h.dataDir), dir)
    val t1 = Clock.nowMs
    // Warm-up: the first ticks of a JVM load the footer reader and the
    // stamp-chain code paths.
    (1 to 3).foreach(_ => Dag.materialize(h.spark, Dag.streetLevelDag(h.dataDir), dir, refresh = false))
    Seq("dag_initial_ms" -> (t1 - t0), "warmup_ms" -> (Clock.nowMs - t1))
  }

  def round(r: Int, tr: Tracer, parent: Int): Seq[OpRecord] =
    Seq(materialize(r, tr, parent, dir, refresh = false, "tick"))

  def facts(): Seq[(String, String)] = Seq(deps,
    "initial_stages" -> Js.arr(initial.map(r => Js.obj(Seq(
      "name" -> Js.s(r.name), "rows" -> Js.n(r.rows), "ms" -> Js.n(r.millis))))),
    "output_dirs" -> Js.arr(Seq(Js.s(dir))))
}

/** Each operation is one registry query, built and materialized to the
  * noop sink in sorted-name order, with its declared SessionCache releases
  * fired after it (as the program's own sweep does).
  */
final class QuerySweep(h: Harness, val selected: Seq[QueryDef]) extends Workload(h) {

  /** The input tables the program's sweep ensures before it is timed. */
  private val inputTables = Seq(graft.pipeline.DetectionsTable, graft.pipeline.WallFeaturesTable,
    graft.queries.ShinglesTable, graft.queries.DedupClustersTable,
    graft.queries.GroupedDetectionsTable, graft.queries.AnnIndexTable)

  def setUp(): Seq[(String, Double)] = {
    val t0 = Clock.nowMs
    val each = inputTables.map { t =>
      val ts = Clock.nowMs
      t.ensure(h.spark, h.dataDir)
      t.seedSessionCaches(h.spark, h.dataDir)
      s"input_table.${t.tableName}_ms" -> (Clock.nowMs - ts)
    }
    val t1 = Clock.nowMs
    // JIT warm-up: one untimed sweep, so the timed rounds run compiled code
    // from the cache state every later round starts from.
    val warm = round(-1, new Tracer(false), 0)
    Seq("input_tables_ms" -> (t1 - t0), "warmup_ms" -> (Clock.nowMs - t1),
      "session_cache_build_ms" -> warm.map(_.cacheBuildMs).sum.toDouble,
      "session_cache_builds" -> warm.map(_.cacheBuilds).sum.toDouble) ++ each
  }

  def round(r: Int, tr: Tracer, parent: Int): Seq[OpRecord] = {
    val ops = selected.map { q =>
      h.inGroup { g =>
        val (opId, t0, t1, t2, t3, err) = tr.span(parent, q.name, "op") { opId =>
          val t0 = Clock.nowMs
          var t1, t2 = t0
          val err =
            try {
              val df = tr.span(opId, "build", "queries")(_ => q.build(h.spark, h.dataDir))
              t1 = Clock.nowMs
              // Traced only: force Catalyst planning ahead of the action so
              // its cost is measured on its own.
              if (tr.on) tr.span(opId, "plan", "catalyst")(_ => df.queryExecution.executedPlan)
              t2 = Clock.nowMs
              tr.span(opId, "action", "action")(_ =>
                df.write.format("noop").mode("overwrite").save())
              None
            } catch { case scala.util.control.NonFatal(e) => Some(h.errorText(e)) }
          (opId, t0, t1, t2, Clock.nowMs, err)
        }
        q.releases.foreach(k => SessionCache.release(h.spark, s"$k:${h.dataDir}"))
        val built = SessionCache.drainBuildLog(h.spark)
        h.drain()
        val rows = h.commits.take()
        OpRecord(r, q.name, Harness.family(q.name), g, if (tr.on) opId else 0,
          t0, t3, buildMs = t1 - t0, planMs = t2 - t1, actionMs = t3 - t2, error = err,
          rows = if (err.isEmpty) rows else None,
          cacheBuildMs = built.map(_._2).sum, cacheBuilds = built.size)
      }
    }
    // Release points declared on queries outside the subset, so the next
    // round starts from the cache state a full sweep would leave.
    val names = selected.map(_.name).toSet
    Registry.all.filterNot(q => names(q.name)).flatMap(_.releases).distinct
      .foreach(k => SessionCache.release(h.spark, s"$k:${h.dataDir}"))
    ops
  }

  private def bytesUnder(f: java.io.File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).getOrElse(Array.empty).map(bytesUnder).sum

  def facts(): Seq[(String, String)] = Seq(
    "input_table_bytes" -> Js.obj(inputTables.map(t =>
      t.tableName -> Js.n(t.materializedPath(h.dataDir)
        .map(p => bytesUnder(new java.io.File(p))).getOrElse(0L)))),
    "families" -> Js.obj(selected.map(q => q.name -> Js.s(Harness.family(q.name)))))
}

object QuerySweep {
  /** The named registry queries, in sorted-name order. The names are pinned
    * by the caller, so a query the program adds or renames never changes
    * the workload; a pinned name the registry lacks is an error.
    */
  def resolve(names: Seq[String]): Seq[QueryDef] = {
    val byName = Registry.all.map(q => q.name -> q).toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(", ")}")
    names.sorted.map(byName)
  }
}
