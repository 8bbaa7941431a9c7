package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Registry
object Bench {

  /** One timed result: a query either materialized cleanly (error = None)
    * or threw — in which case `seconds` is time-to-failure and the error
    * message rides along so the JSON line can surface it; a swallowed
    * throwable would read as a fast pass. `jobs` is the Spark work its
    * job group ran.
    */
  final case class QueryRun(name: String, seconds: Double, error: Option[String],
      cacheBuildMs: Long = 0L, jobs: JobTally.Counts = JobTally.Counts())

  /** The timed sweep, factored out of main so BenchHarnessSpec can run it
    * over planted queries. Runs through [[graft.queries.Registry.sweep]]:
    * deterministic name order (per-query numbers comparable across runs),
    * and each query's declared releases fire after its timer. Each query
    * runs under its own job group, `sweep<n>:<name>`, and prints one
    * stderr line: a sweep that dies mid-run still says where it was.
    */
  private[graft] def runSweep(
      spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sweep: Int = 1): Seq[QueryRun] = {
    val fns = queries.toMap
    val tally = JobTally.of(spark)
    Registry.sweep(spark, sfDir, queries.map(_._1)) { name =>
      val group = s"sweep$sweep:$name"
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = System.nanoTime()
      // Honest materialization: the noop sink evaluates EVERY column of
      // every row (unlike count(), which lets Catalyst prune unreferenced
      // projections and drop final sorts) without paying file-write I/O.
      // NonFatal only: a fatal VM error (OOME, StackOverflow) must kill
      // the sweep loudly — recording it as an ordinary query error and
      // continuing on a corrupted JVM would manufacture garbage timings
      // for every later query (the same rationale as Registry.prepare).
      val err =
        try { fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case scala.util.control.NonFatal(e) =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      // SessionCache entries built DURING this query (eagerly
      // materialized and timed at the build site) attribute here: the
      // artifact's cache_build_ms separates one-time cache construction
      // from kernel time, so a cost that merely RELOCATES between
      // queries no longer reads as a plan change.
      val builtMs = graft.pipeline.SessionCache.drainBuildLog(spark).map(_._2).sum
      val jobs = tally.snapshot().getOrElse(group, JobTally.Counts())
      System.err.println(f"[bench] $group $dt%.3fs jobs=${jobs.jobs} stages=${jobs.stages} " +
        s"cpu_ms=${jobs.cpuMs}${err.map(e => s" ERROR $e").getOrElse("")}")
      // Post-timer shuffle-file reclaim, gated on MEASURED on-disk
      // volume. Not unconditional: a gc after every sf0.1 query made the
      // whole sweep ~30% slower, because the post-GC ContextCleaner
      // deletions land inside the NEXT query's timed window. In local
      // mode a completed query's shuffle files survive until a JVM GC
      // lets ContextCleaner notice the dereferenced shuffles — under a
      // large rehearsal heap that can be never, and an sf100 sweep
      // accumulated 33 GB of dead files mid-sweep. Gate-SF sweeps (a few
      // hundred MB live at once) never trip it; scale rehearsals trip it
      // long before ENOSPC. A trip is logged, so timings that carry
      // ContextCleaner-deletion skew are diagnosable from stderr.
      val scratch = shuffleDirBytes()
      if (scratch > ShuffleReclaimBytes) {
        System.err.println(
          s"[bench] gc gate tripped after $name: ${scratch >> 20} MB live scratch")
        System.gc()
      }
      QueryRun(name, dt, err, builtMs, jobs)
    }
  }

  /** Reclaim threshold for the post-query gc gate: well under the point
    * where a sf100 rehearsal failed (33 GB of dead files against ~50 GB
    * free) and well over any gate-SF sweep's live footprint.
    */
  private[graft] val ShuffleReclaimBytes = 8L * 1024 * 1024 * 1024

  private def scratchRoots: Array[String] =
    sys.props.get("spark.local.dir")
      .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
      .getOrElse(Fs.stateRoot)
      .split(",").map(_.trim).filter(_.nonEmpty)

  /** The blockmgr-* and spark-* dirs under the scratch roots. */
  private def scratchDirs(): Seq[java.io.File] = scratchRoots.toSeq.flatMap(r =>
    Option(new java.io.File(r).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("blockmgr-") || f.getName.startsWith("spark-")))

  /** Scratch dir names that existed BEFORE this JVM's session spun up —
    * concurrent rehearsal JVMs' dirs and kill -9 orphans. System.gc()
    * cannot reclaim foreign files, so counting them makes the gate fire
    * after EVERY query once foreign bytes exceed the threshold,
    * reintroducing exactly the ~30% ContextCleaner timing skew the gate
    * exists to avoid. Snapshot at first touch of this
    * object — main's entry, before the session (and in local-cluster
    * mode its worker/executor JVMs) creates any dirs of its own.
    * Foreign dirs created AFTER startup still count — unavoidable
    * without owning the other JVM, and bounded to true mid-sweep
    * concurrency rather than every orphan ever left on the box.
    */
  @volatile private[graft] var preexistingScratch: Set[String] = snapshotScratch()

  /** Re-taken explicitly at the top of main(): the object-init snapshot
    * above covers the common path, but any entry that touches Bench
    * AFTER a session already created its scratch dirs (tests, future
    * tools) would otherwise permanently classify this JVM's own
    * blockmgr-* and spark-* dirs as foreign — shuffleDirBytes reads 0
    * forever and the reclaim gate can never fire (ENOSPC on a long
    * rehearsal). main() owns its session, so its explicit snapshot is
    * always pre-session regardless of object-init ordering.
    */
  private[graft] def snapshotScratch(): Set[String] =
    try scratchDirs().map(_.getName).toSet
    catch { case scala.util.control.NonFatal(_) => Set.empty }

  /** Total bytes under THIS run's spark scratch dirs (blockmgr-* and
    * spark-* temp trees created since JVM start): the dead-shuffle gauge
    * for the reclaim gate. A filesystem walk, not SparkEnv internals —
    * the dirs are few thousand entries even mid-rehearsal, the walk
    * covers local-cluster executor dirs a driver-side SparkEnv query
    * would miss, and a broken walk must never kill a sweep (worst case
    * the gauge under-reads and the gc skips).
    */
  private[graft] def shuffleDirBytes(): Long = {
    def sizeOf(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty).foldLeft(0L)(_ + sizeOf(_))
    try scratchDirs().filterNot(f => preexistingScratch(f.getName)).map(sizeOf).sum
    catch { case scala.util.control.NonFatal(_) => 0L }
  }

  /** Best-of-N merge of repeated sweeps: per-query MIN time (the
    * standard contention-noise eliminator — single sweeps produced
    * "regressions" of 1.5–11× that never reproduced, all machine
    * contention during one sweep window), and a query that failed in ANY
    * sweep stays failed — a flaky error must not be laundered by a
    * passing re-run.
    */
  private[graft] def mergeSweeps(sweeps: Seq[Seq[QueryRun]]): Seq[QueryRun] =
    sweeps.transpose.map { runs =>
      val name = runs.head.name
      require(runs.forall(_.name == name), s"sweep order diverged at $name")
      // Minimum over ERROR-FREE runs when any exist: a fast
      // time-to-failure (e.g. an analysis error at 0.2 s) must not
      // replace a legitimate passing time in the total the driver
      // compares across rounds. The error itself still reports.
      val clean = runs.filter(_.error.isEmpty)
      val basis = if (clean.nonEmpty) clean else runs
      // The reported build ms and jobs are the chosen run's OWN, so "this
      // much of the reported time was cache construction" stays a true
      // claim (a cross-run min would pair sweep 2's warm kernel time with
      // sweep 1's build bill).
      val best = basis.minBy(_.seconds)
      best.copy(error = runs.flatMap(_.error).headOption)
    }

  /** Short per-query key for the contract line: the numeric prefix
    * ("q44_embedding_neardup" → "q44"). The driver keeps only the LAST
    * 2000 chars of bench stdout; at 100 queries the full-name
    * full-precision line is ~3.5 KB, so the line's START would fall off
    * the captured tail and parse as null. Short keys + 3-decimal seconds
    * hold the whole contract line under ~1.7 KB with the sbt epilogue
    * still fitting.
    * Full names and unrounded seconds print on the preceding detail
    * line (and COVERAGE.md maps qNN → full name).
    */
  private[graft] def shortKey(name: String): String = name.takeWhile(_ != '_')

  /** Plain fixed-point rendering — no scientific notation, trailing
    * zeros stripped; stable worst-case width is what bounds the
    * contract-line budget. */
  private[graft] def fmt(x: Double, decimals: Int): String = {
    // BigDecimal(NaN/Inf) throws, and the contract line is the one
    // place a crash loses the whole artifact — a pathological timing
    // renders as the -1 sentinel instead.
    if (!java.lang.Double.isFinite(x)) return "-1"
    val s = BigDecimal(x).setScale(decimals, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString
    if (s == "-0") "0" else s
  }

  /** Shared qs/errs rendering for the contract and detail lines — one
    * construction site so the two can't drift (key scheme, quoting,
    * error caps all flow through here).
    */
  private def renderMaps(results: Seq[QueryRun], key: String => String,
      sec: Double => String, errCap: Int, maxErrs: Int): (String, String) = {
    val qs = results.map(r => Jsons.quote(key(r.name)) + ":" + sec(r.seconds))
      .mkString("{", ",", "}")
    val failed = failures(results)
    val shown = failed.take(maxErrs).map { case (n, m) =>
      Jsons.quote(key(n)) + ":" + Jsons.quote(m.take(errCap))
    }
    val overflow = if (failed.size > maxErrs)
      Seq(s""""_truncated":${failed.size - maxErrs}""") else Nil
    (qs, (shown ++ overflow).mkString("{", ",", "}"))
  }

  private def failures(results: Seq[QueryRun]): Seq[(String, String)] =
    results.flatMap(r => r.error.map(r.name -> _))

  /** Hard ceiling for the contract line: the driver keeps the LAST 2000
    * chars of stdout; the line plus sbt's ~100-char "[success]" epilogue
    * must fit inside that or the line parses as null.
    */
  private[graft] val ContractLineBudget = 1850

  /** Render the SRP-recall record: q53's survivors are a subset of
    * q44's exact answer by construction, so recall is the row-count
    * ratio. -1 ratio = the exact baseline found nothing (undefined, never
    * observed on real corpora).
    */
  private def recallField(recall: Option[(Long, Long, Int)]): String =
    recall.map { case (lsh, exact, rung) =>
      val ratio = if (exact == 0) -1.0 else lsh.toDouble / exact
      // The ladder rung the measurement ran on (recall is a property of
      // an OPERATING POINT, so the artifact names it; 1-8 = narrow "≥k
      // of 8", 11-13 = wide "≥k of 16", -1 = unknown).
      val r = if (rung >= 0) s""","rung":$rung""" else ""
      s""","recall":{"q53_pairs":$lsh,"q44_pairs":$exact,"ratio":${fmt(ratio, 6)}$r}"""
    }.getOrElse("")

  /** MinHash/SimHash family recall: each entry is
    * (pairs the family's verified output shares with the exact q41
    * ground truth, exact pairs). q42's output is a SUBSET of q41's by
    * construction (banded candidates, same exact-Jaccard verify), so
    * its ratio is candidate-generation recall; q43 is measured against
    * the SEMANTIC truth (its hamming ≤ 6 predicate is complete by
    * pigeonhole — the oracle proves that — so the interesting number is
    * how much of the Jaccard ≥ 0.5 truth the 48-bit signature family
    * captures at that operating point). -1 ratio = empty ground truth.
    */
  private def familyRecallField(fam: Map[String, (Long, Long)]): String =
    if (fam.isEmpty) "" else
      fam.toSeq.sortBy(_._1).map { case (name, (got, exact)) =>
        val ratio = if (exact == 0) -1.0 else got.toDouble / exact
        s"""${Jsons.quote(name)}:{"pairs":$got,"exact_pairs":$exact,"ratio":${fmt(ratio, 6)}}"""
      }.mkString(""","family_recall":{""", ",", "}")

  /** The driver-contract JSON line, plus an `errors` object (empty on a
    * clean sweep) so a throwing query is visibly reported instead of
    * masquerading as a speedup, a `sweeps` count documenting the
    * best-of-N basis, and the sweep-kernel skew accumulators (a skewed
    * testdata regeneration must be visible in the artifact trail, not
    * just an executor-log WARN).
    *
    * Keys are shortKey prefixes when those are unique over the result
    * set (they are, by Registry construction — BenchHarnessSpec pins
    * it); on a collision (spec-planted names) every key falls back to
    * the full name — correctness over compactness.
    *
    * Error entries degrade deterministically under the line budget: a
    * failure round is exactly when the artifact matters most, so the
    * line must not regrow past the tail. Cascade: 120-char messages,
    * then 40-char, then error COUNTS only ({"_n":K,"_first":...}) —
    * per-query times are never degraded (full detail is on the
    * preceding detail line regardless). Job tallies never reach this
    * line; they are on the detail line.
    */
  private[graft] def renderJson(
      results: Seq[QueryRun], sfDir: String, sweeps: Int,
      sweepStats: Option[(Long, Long, Long)] = None,
      skipped: Set[String] = Set.empty,
      recall: Option[(Long, Long, Int)] = None,
      calibrationS: Option[Double] = None,
      familyRecall: Map[String, (Long, Long)] = Map.empty,
      host: Option[(Double, Long)] = None): String = {
    val shortsUnique = results.map(r => shortKey(r.name)).distinct.size == results.size
    def key(n: String) = if (shortsUnique) shortKey(n) else n
    // Per-query cache-construction ms, keyed like the queries map; zero
    // entries elided. Degrades to the total alone if
    // the detailed map would push the contract line past the budget —
    // the full-name map is always on the detail line regardless.
    val cbTotal = results.map(_.cacheBuildMs).sum
    // Zero-build sweeps (and the sweepStats=None spec path) render
    // without the fields — they appear only when there is a build bill
    // to attribute.
    val cbDetailed = if (cbTotal == 0) "" else results.filter(_.cacheBuildMs > 0)
      .map(r => Jsons.quote(key(r.name)) + ":" + r.cacheBuildMs)
      .mkString(s""","cache_build_ms_total":$cbTotal,"cache_build_ms":{""", ",", "}")
    val cbCompact = if (cbTotal == 0) "" else s""","cache_build_ms_total":$cbTotal"""
    def ss(cb: String) = sweepStats.map { case (maxGroup, pairs, dense) =>
      s""","sweep_stats":{"max_group_boxes":$maxGroup,"pairs_enumerated":$pairs,"dense_groups":$dense$cb}"""
    }.getOrElse("")
    // Rehearsal-only exclusions (ONLY/SKIP) surface in the artifact so a
    // partial sweep can never read as a full one; absent (the driver's
    // case) there is no field.
    val sk = if (skipped.isEmpty) ""
      else s""","skipped":[${skipped.toSeq.sorted.map(Jsons.quote).mkString(",")}]"""
    val rcFull = recallField(recall) + familyRecallField(familyRecall)
    // Degraded recall (pathological-width lines only): the ratio is the
    // number the artifact trail tracks; the pair counts live on the
    // detail line's queries regardless.
    val rcCompact = recall.map { case (lsh, exact, _) =>
      s""","recall_ratio":${fmt(if (exact == 0) -1.0 else lsh.toDouble / exact, 4)}"""
    }.getOrElse("")
    // Machine-noise canary ON the contract line: the driver keeps only a
    // 2000-char stdout tail, so a canary living in run_meta (its own
    // earlier line) never reaches the one artifact read first. ~12
    // chars, and NEVER degraded away: it exists precisely for the runs
    // where the line is under pressure.
    val cal = calibrationS.map(s => s""","cal":${fmt(s, 2)}""").getOrElse("")
    // Host context rides the contract line too, for the same reason
    // (run_meta prints first and falls off the tail). ~45 chars, and
    // like cal NEVER degraded: busy-box adjudication is exactly when the
    // line is under pressure.
    val hostF = host.map { case (la, mem) =>
      s""","loadavg_1m":${fmt(la, 2)},"mem_available_mb":$mem"""
    }.getOrElse("")
    val total = results.map(_.seconds).sum
    def qsAt(dec: Int) = renderMaps(results, key, fmt(_, dec), 0, 0)._1
    def line(qs: String, errs: String, cb: String, rc: String) =
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","queries":$qs,"errors":$errs,"sweeps":$sweeps${ss(cb)}$sk$rc$cal$hostF,"sf":${Jsons.quote(sfDir)}}"""
    val failed = failures(results)
    // Degrade order: error detail first (a failure round is when the
    // artifact matters most), then the cache-build map, then per-query
    // seconds from 3 to 2 decimals (worst case: every query at 4-digit
    // seconds — one char per query is what puts a 107-query line back
    // under the tail budget; full precision is on the detail line).
    val attempts = Iterator(
      (3, cbDetailed, renderMaps(results, key, fmt(_, 3), 120, failed.size)._2, rcFull),
      (3, cbDetailed, renderMaps(results, key, fmt(_, 3), 40, failed.size)._2, rcFull),
      (3, cbCompact, renderMaps(results, key, fmt(_, 3), 40, failed.size)._2, rcFull),
      (2, cbCompact, renderMaps(results, key, fmt(_, 2), 40, failed.size)._2, rcCompact),
      // First 5 errors + a "_truncated" count (this step makes
      // renderMaps' overflow marker reachable) before degrading to counts
      // only.
      (2, cbCompact, renderMaps(results, key, fmt(_, 2), 40, 5)._2, rcCompact),
      (2, cbCompact, s"""{"_n":${failed.size}${
        failed.headOption.map { case (n, m) =>
          s""","_first":${Jsons.quote(s"${key(n)}: ${m.take(40)}")}"""
        }.getOrElse("")
      }}""", rcCompact),
      // Final decimal step, since the host fields joined cal on the
      // never-degraded tail: every query at 4-digit seconds is the one
      // shape that still overflows — one decimal keeps ~0.1 s resolution
      // on a line whose detail sibling carries full precision regardless.
      (1, cbCompact, s"""{"_n":${failed.size}}""", rcCompact))
    attempts.map { case (dec, cb, errs, rc) => line(qsAt(dec), errs, cb, rc) }
      .find(_.length <= ContractLineBudget)
      // Last resort (pathological name lengths): emit anyway — a long
      // line beats no line.
      .getOrElse(line(qsAt(2), s"""{"_n":${failed.size}}""", cbCompact, rcCompact))
  }

  /** Full-name, full-precision record printed BEFORE the contract line,
    * with each query's job tally. Leads with a non-"metric" key so a
    * tail scanner hunting the contract line can never latch onto this
    * one, and so a truncated prefix of it (the tail may cut it mid-line)
    * isn't mistakable for the contract object.
    */
  private[graft] def renderDetailJson(results: Seq[QueryRun], sfDir: String): String = {
    val (qs, errs) = renderMaps(results, identity, _.toString,
      errCap = Int.MaxValue, maxErrs = results.size)
    val cb = results.filter(_.cacheBuildMs > 0)
      .map(r => Jsons.quote(r.name) + ":" + r.cacheBuildMs).mkString("{", ",", "}")
    val jobs = results.map { r =>
      val c = r.jobs
      Jsons.quote(r.name) + s""":{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""run_ms":${c.runMs},"cpu_ms":${c.cpuMs},"shuffle_read_bytes":${c.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes}}"""
    }.mkString("{", ",", "}")
    s"""{"detail":"full query names/precision; compact contract line follows","queries":$qs,"errors":$errs,"cache_build_ms":$cb,"jobs":$jobs,"sf":${Jsons.quote(sfDir)}}"""
  }

  /** (one-minute loadavg, MemAvailable in MB); -1 where the platform
    * can't answer. Shared by the run_meta line and the contract line, so
    * the two records agree within one sample.
    */
  private[graft] def hostSample(): (Double, Long) = {
    val loadavg1m =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val memAvailableMb = scala.util.Using(scala.io.Source.fromFile("/proc/meminfo"))(
      _.getLines().collectFirst { case l if l.startsWith("MemAvailable:") =>
        l.split("\\s+")(1).toLong / 1024 }).toOption.flatten.getOrElse(-1L)
    (loadavg1m, memAvailableMb)
  }

  /** Machine-readable per-run config record: the knobs a scale-rehearsal
    * merge must carry per run — heap, local/spill dirs, codec,
    * parallelism, master, the effective codegen cache size — so a merged
    * multi-run artifact is reproducible from the artifact alone, not
    * from prose. Printed on its own line BEFORE the detail line;
    * tools/merge_bench.py lifts it into the merged artifact's `runs`
    * block. Host context (loadavg, MemAvailable) at sweep start lets an
    * artifact say "the box was busy" by itself.
    */
  private[graft] def renderRunMetaJson(spark: SparkSession, sweeps: Int,
      calibrationS: Option[Double] = None): String = {
    val c = spark.sparkContext.getConf
    val heapMb = Runtime.getRuntime.maxMemory() / (1024L * 1024L)
    val (loadavg1m, memAvailableMb) = hostSample()
    val fields = calibrationS.map(s => "calibration_s" -> fmt(s, 3)).toSeq ++ Seq(
      "loadavg_1m" -> fmt(loadavg1m, 2),
      "mem_available_mb" -> memAvailableMb.toString,
      "heap_mb" -> heapMb.toString,
      "cpus" -> Runtime.getRuntime.availableProcessors().toString,
      "master" -> Jsons.quote(c.get("spark.master", "?")),
      "local_dirs" -> Jsons.quote(scratchRoots.mkString(",")),
      "io_codec" -> Jsons.quote(c.get("spark.io.compression.codec", "lz4")),
      "shuffle_spill_compress" -> Jsons.quote(c.get("spark.shuffle.spill.compress", "true")),
      "executor_memory" -> Jsons.quote(c.get("spark.executor.memory", "driver-local")),
      "shuffle_partitions" -> Jsons.quote(
        spark.conf.get("spark.sql.shuffle.partitions", "?")),
      "codegen_cache_max_entries" -> Jsons.quote(
        spark.conf.get("spark.sql.codegen.cache.maxEntries", "?")),
      "java" -> Jsons.quote(System.getProperty("java.version")),
      "sweeps" -> sweeps.toString)
    fields.map { case (k, v) => s"${Jsons.quote(k)}:$v" }
      .mkString("""{"run_meta":{""", ",", "}}")
  }

  /** The registry query names listed in env var `env` (comma-separated).
    * An unknown name exits 2: silently matching nothing would run (or
    * skip) work while the artifact's `skipped` field claimed otherwise.
    */
  private def queryNamesFrom(env: String): Set[String] = {
    val names = sys.env.get(env)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val unknown = names.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] $env names not in the registry: ${unknown.toSeq.sorted.mkString(",")}")
      sys.exit(2)
    }
    names
  }

  def main(args: Array[String]): Unit = {
    preexistingScratch = snapshotScratch() // before the session exists
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A static conf: the first session in the JVM wins, and a later
    // builder's value is silently ignored.
    val codegenEntries = spark.conf.get("spark.sql.codegen.cache.maxEntries", "?")
    if (codegenEntries != Sessions.CodegenCacheEntries) {
      System.err.println(s"[bench] spark.sql.codegen.cache.maxEntries is $codegenEntries, not ${Sessions.CodegenCacheEntries}")
      sys.exit(2)
    }
    // Absorb JVM/session warm-up (codegen compiler, parquet footer reads,
    // broadcast machinery) outside the timed loop so the first measured
    // query isn't charged ~4s of one-time cost. The hottest generated
    // loops run once at sf0.001 so C2 compiles them before they are
    // timed — their JIT state was worth ±10s of run-to-run noise on the
    // big queries. Kernel classes covered: the pair-join IoU kernel
    // (q81), the shingle machinery (q41), the regex normalize/tokenize
    // path (q76 — driver benches showed 8s phantom one-offs from cold
    // regex JIT), and the percentile sketch buffers (q36, same class of
    // phantom regression).
    try {
      spark.range(1000).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10)
        .write.format("noop").mode("overwrite").save()
      val warmDir = "/root/testdata/sf0.001"
      if (warmDir != sfDir && new java.io.File(warmDir).isDirectory) {
        Seq("q81_iou_pairs", "q41_ngram_jaccard", "q76_normalize_text",
            "q36_percentiles").foreach(q =>
          SparkEntry.queries(q)(spark, warmDir)
            .write.format("noop").mode("overwrite").save())
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    // Machine-noise canary: a FIXED workload — corpus-independent,
    // cache-independent, shuffle-free — so "is the box slower this run?"
    // is a number in the artifact instead of an hour of cross-run
    // adjudication. 10^8-row hash+sort-within-partitions exercises
    // codegen, the sorter, and memory bandwidth without touching disk.
    // Run TWICE, second run timed: the canary is the first big job of
    // the JVM, and a single cold pass times C2 compilation of the sort
    // loop as much as the box (a cold pass read 15.6 s against a
    // 2.7–8.1 s warm band on identical hardware).
    val calibrationS =
      try {
        def pass(): Double = {
          val t0 = System.nanoTime()
          spark.range(100000000L).selectExpr("hash(id) AS h")
            .sortWithinPartitions("h")
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        pass() // JIT warm-up: compile the generated sort loop untimed
        Some(pass())
      } catch { case scala.util.control.NonFatal(e) =>
        // A silent canary failure leaves the artifact without its
        // noise adjudicator — name the cause where the artifact reader
        // can see it.
        System.err.println(s"[bench] calibration canary failed: $e")
        None
      }
    // The warm-up built SessionCache entries keyed with the warm dir;
    // the sweep's releases are keyed with sfDir and would never drop
    // them. Outside the try — a half-failed warm-up must still clean
    // up whatever entries it managed to build.
    graft.pipeline.SessionCache.liveKeys(spark)
      .filterNot(_.endsWith(s":$sfDir"))
      .foreach(k => graft.pipeline.SessionCache.release(spark, k))
    // Rehearsal knob (never set by the driver), the complement of
    // SPARK_GRAFT_BENCH_SKIP: run ONLY the named queries. Serves
    // per-query measuring (with SPARK_GRAFT_BENCH_SWEEPS for repeats)
    // and partial-corpus scale probes — the artifact records every
    // non-selected query in `skipped`, so a whitelisted sweep can never
    // masquerade as a full one.
    val only = queryNamesFrom("SPARK_GRAFT_BENCH_ONLY")
    // Input tables (Registry.inputTables): at scale these are tables the
    // upstream Dag materialized, not per-query derivations — ensure and
    // seed them here, as set-up, so the sweep reads the production shape.
    //
    // Under ONLY the set-up is skipped outright: a whitelist probe runs
    // at corpus scales where building the non-selected families' tables
    // (detections at sf1000 is ~90 GB) would fill the disk before the
    // first selected query ran. Committed tables are still USED if
    // present (materializedPath checks commit state, not this setup);
    // missing ones derive in-query with the build billed to the first
    // consumer via cache_build_ms — attribution a probe artifact
    // documents, not hides.
    if (only.nonEmpty)
      System.err.println("[bench] SPARK_GRAFT_BENCH_ONLY set: skipping input-table ensure/seed")
    else Registry.prepare(spark, sfDir, Registry.inputTables, seed = true)

    // Best-of-N sweeps (default 2): single-sweep numbers manufactured
    // 1.5–11× phantom regressions in three consecutive rounds, every
    // one adjudicated as transient machine contention. Each sweep
    // rebuilds/releases the SessionCache entries identically (releases
    // fire per sweep), so sweep 2 measures the same work minus one-time
    // JVM state — exactly the noise the min is meant to cut.
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_BENCH_SWEEPS", "2").toInt.max(1)
    // The warm-up above ran sweep kernels against the WARM corpus —
    // reset the skew accumulators so the reported stats describe sfDir's
    // timed sweeps only (a dense group in warm data must not send a
    // reader hunting skew in the wrong dataset).
    val h = graft.pipeline.SweepStats.forSession(spark)
    h.maxGroupBoxes.reset(); h.pairsEnumerated.reset(); h.denseGroups.reset()
    // Rehearsal knob (never set by the driver): exclude named queries
    // from a scale sweep — e.g. q44's DECLARED-O(n²) exact all-pairs
    // baseline, whose compute is quadratic by definition and would
    // dominate a 100×-SF rehearsal without saying anything new. The
    // artifact's `skipped` field records the exclusion so a partial
    // sweep can never masquerade as a full one.
    val skip = queryNamesFrom("SPARK_GRAFT_BENCH_SKIP")
    // ONLY folds into the same exclusion set SKIP uses, so the artifact
    // shape (and the can't-masquerade guarantee) is identical for both.
    val excluded = if (only.isEmpty) skip else skip ++ SparkEntry.queries.keySet.diff(only)
    val swept = SparkEntry.queries.toSeq.filterNot { case (n, _) => excluded(n) }
    if (swept.isEmpty) {
      System.err.println("[bench] ONLY/SKIP excluded every registry query — nothing to sweep")
      sys.exit(2)
    }
    if (excluded.nonEmpty)
      System.err.println(s"[bench] skipping (ONLY/SKIP): ${excluded.toSeq.sorted.mkString(",")}")
    // Warm-up and table-ensure built (and logged) cache entries of their
    // own — drain the log so the first timed query isn't billed for them.
    graft.pipeline.SessionCache.drainBuildLog(spark)
    val results = mergeSweeps(
      (1 to sweeps).map(i => runSweep(spark, sfDir, swept, i)))
    // SRP-LSH recall vs the exact baseline: q53's
    // verified pairs ⊆ q44's exact answer by construction, so recall is
    // a row-count ratio. Measured UNTIMED after the sweep, only when
    // both queries ran clean — a rehearsal that excludes q44's declared-
    // O(n²) baseline gets no recall field, and the `skipped` list
    // already records why. This is the number that tracks the ladder's
    // USEFULNESS per SF (recall collapse under a constant change fails
    // the artifact trail, not just a spec fixture).
    val ranClean = results.filter(_.error.isEmpty).map(_.name).toSet
    val recallQs = Seq("q53_srp_lsh", "q44_embedding_neardup")
    val recall =
      if (recallQs.forall(ranClean))
        try {
          val counts = recallQs.map(q => SparkEntry.queries(q)(spark, sfDir).count())
          // The operating point the measurement ran on: q53 just cached
          // its rung decision, so this is a cache read — the -1 default
          // only lands if the entry vanished (and is dropped with the
          // releases below either way).
          val rung = graft.pipeline.SessionCache.getOrBuildValue(
            spark, s"srpArm:$sfDir")(Integer.valueOf(-1)).intValue()
          recallQs.foreach(Registry.release(spark, sfDir, _))
          Some((counts(0), counts(1), rung))
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] recall measurement failed: $e"); None
        }
      else None
    // MinHash/SimHash family recall, untimed like the
    // q53 block above: q42's verified pairs are a subset of q41's exact
    // answer (ratio = candidate recall); q43's hamming ≤ 6 pairs are
    // intersected with the exact Jaccard ≥ 0.5 truth (semantic recall of
    // the 48-bit signature family at its operating point). Runs only
    // when all three queries swept clean — a rehearsal that skipped the
    // exact baseline gets no entry, and `skipped` records why.
    val familyRecall: Map[String, (Long, Long)] = {
      import org.apache.spark.sql.functions.col
      if (Seq("q41_ngram_jaccard", "q42_minhash_lsh", "q43_simhash").forall(ranClean))
        try {
          val exactDf = SparkEntry.queries("q41_ngram_jaccard")(spark, sfDir)
            .select(col("a_id"), col("b_id")).persist()
          val exact = exactDf.count()
          val mh = SparkEntry.queries("q42_minhash_lsh")(spark, sfDir).count()
          val sh = SparkEntry.queries("q43_simhash")(spark, sfDir)
            .select(col("a_id"), col("b_id"))
            .join(exactDf, Seq("a_id", "b_id")).count()
          exactDf.unpersist()
          Seq("q41_ngram_jaccard", "q42_minhash_lsh", "q43_simhash")
            .foreach(Registry.release(spark, sfDir, _))
          Map("q42_minhash" -> (mh, exact), "q43_simhash_vs_jaccard" -> (sh, exact))
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] family recall measurement failed: $e"); Map.empty
        }
      else Map.empty
    }
    println(renderRunMetaJson(spark, sweeps, calibrationS))
    println(renderDetailJson(results, sfDir))
    println(renderJson(results, sfDir, sweeps,
      Some((h.maxGroupBoxes.value, h.pairsEnumerated.value, h.denseGroups.value)),
      excluded, recall, calibrationS, familyRecall, Some(hostSample())))
    spark.stop()
  }
}
