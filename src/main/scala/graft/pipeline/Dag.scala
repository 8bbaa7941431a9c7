package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal scheduled-job surface (north-star "Spark DataFrame
  * transformations with scheduled jobs") — the reference's Dagster asset
  * DAG (heritage-guard/heritage_guard/hg/__init__.py:9-16: assets wired
  * by name, materialized in dependency order with IO-manager persistence)
  * re-expressed as a topological materializer over parquet handoffs
  * (SURVEY.md §2 S12/K1 loop).
  *
  * Semantics:
  *  - stages declare upstream dependencies by NAME; materialization is in
  *    topological order, cycle-checked up front;
  *  - each stage's output is persisted to `<workDir>/<name>.parquet` and
  *    downstream stages read the PERSISTED table (not the live plan) —
  *    the inter-job handoff a scheduler needs for retries/backfills,
  *    and the stage boundary where lineage gets cut so one failed job
  *    re-runs alone;
  *  - an existing output is reused unless `refresh` (incremental
  *    scheduling: a daily tick re-materializes only stale stages).
  *
  * Scale: the runner moves NO data through the driver — each stage is a
  * distributed write + scan; the driver holds only the name→path map.
  */
object Dag {

  /** @param build (session, upstream name → materialized DataFrame).
    * @param partitionBy hive-style partition columns for the persisted
    *   handoff (e.g. a manifest partitioned by split): downstream
    *   readers filtering on these columns plan a PartitionFilters-pruned
    *   scan instead of reading the whole table — the boundary that
    *   matters when the handoff is 100 TB and a consumer wants one
    *   split.
    * @param requireChecks fail-closed quality gates: each takes the
    *   CANDIDATE table — the written-but-uncommitted tmp output, read
    *   back from parquet so the gate judges exactly the bytes that would
    *   commit — and returns a [[graft.quality.DataQuality]] report
    *   `(check, violations, total, metric, pass)`. Any `pass = false`
    *   row aborts the stage BEFORE the commit swap: the poisoned batch
    *   is parked in `_quarantine/`, the previously committed table stays
    *   live (a daily tick keeps serving yesterday's good data), and
    *   dependents never start.
    * @param incrementalOn partition-level incremental refresh (Dagster's
    *   partitioned assets, the machinery the reference's README names):
    *   the named column must LEAD `partitionBy`, and the stage promises
    *   its build is PARTITION-WISE — output partition `v` is a function
    *   of the inputs' partition-`v` data alone (map/filter/per-key-
    *   within-partition aggregation). The stage runs through the same
    *   runner as every other stage; what changes is its stamp chain.
    *   Each input exposing `col=value` dirs contributes one `_p:<value>`
    *   fingerprint per value (names, lengths, mtimes — pure file stats,
    *   NO Spark job) instead of one whole-table entry; every other input
    *   (a dims table, an unpartitioned corpus) stays in the static chain,
    *   so any change there rebuilds the whole table. A tick whose static
    *   chain is fresh rebuilds only the values whose fingerprint is new
    *   or changed: the build's partitioned inputs arrive FILTERED to
    *   those values (partition pruning makes the scan a delta scan), the
    *   quality gates judge the delta candidate, and just those partition
    *   directories swap into the committed table. A day-2 tick over an
    *   append-only corpus runs zero jobs over day-1 partitions.
    *   Crash-consistency: each partition swap is an atomic rename and the
    *   stamp rewrites only after all swaps — a crash mid-tick re-detects
    *   the unrecorded values as stale and rebuilds just them. A delta
    *   whose output partition tokens do not round-trip to the stale input
    *   tokens falls back to a whole-table build. Single-scheduler
    *   contract: concurrent DELTA ticks over one workDir from different
    *   processes are out of contract (whole-table commits keep the
    *   cross-process race check). Fingerprints are file stats: on a
    *   filesystem with coarse mtimes, a same-length in-place rewrite
    *   within one granularity unit stays invisible — writers that
    *   rewrite in place should touch the directory or use fresh names.
    * @param externalInputs name → partitioned-parquet path of inputs
    *   that are NOT stages of this DAG (the raw corpus a root ingests).
    *   They arrive in the build's map like upstream stages, and their
    *   file fingerprints join the stamp chain — so an appended corpus
    *   partition wakes exactly the incremental stages that read it, and
    *   a mutated corpus can never be served through a stale stage.
    */
  final case class Stage(
      name: String,
      deps: Seq[String],
      build: (SparkSession, Map[String, DataFrame]) => DataFrame,
      partitionBy: Seq[String] = Nil,
      requireChecks: Seq[DataFrame => DataFrame] = Nil,
      incrementalOn: Option[String] = None,
      externalInputs: Map[String, String] = Map.empty)

  /** A stage's candidate output failed its declared quality gate. The
    * failing check rows ride along for the scheduler's alert; the
    * previously committed table is untouched.
    */
  final class QualityGateException(val stage: String, val failed: Seq[String])
    extends RuntimeException(
      s"stage $stage failed quality gate; prior committed table left live: ${failed.mkString("; ")}")

  final case class StageRun(name: String, rows: Long, millis: Long, skipped: Boolean)

  /** A settled stage as its dependents see it: the run report, the
    * committed dir's stamp (for their chain checks), and the schema this
    * call built it with — `None` when the table was reused, raced in by
    * a sibling or partitioned (every incremental stage is), so
    * dependents infer it.
    */
  private final case class Settled(
      run: StageRun, stamp: String, builtSchema: Option[StructType])

  /** Topological order with deterministic tie-breaking (declaration
    * order); throws on cycles and unknown deps.
    */
  def topoSort(stages: Seq[Stage]): Seq[Stage] = {
    val byName = stages.map(s => s.name -> s).toMap
    require(byName.size == stages.size,
      s"duplicate stage names: ${stages.map(_.name).diff(byName.keys.toSeq).mkString(",")}")
    stages.foreach(s => require(!s.name.startsWith("_"),
      s"stage name ${s.name} may not start with '_' (reserved stamp keys)"))
    stages.foreach(s => s.deps.foreach(d =>
      require(byName.contains(d), s"stage ${s.name}: unknown dependency $d")))
    stages.foreach { s =>
      require(s.externalInputs.keySet.intersect(s.deps.toSet).isEmpty,
        s"stage ${s.name}: external input names shadow dependencies: " +
          s.externalInputs.keySet.intersect(s.deps.toSet).mkString(","))
      s.incrementalOn.foreach(c => require(s.partitionBy.headOption.contains(c),
        s"stage ${s.name}: incrementalOn column $c must lead partitionBy " +
          s"(got ${s.partitionBy.mkString(",")})"))
    }
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    val inFlight = scala.collection.mutable.Set.empty[String]
    def visit(s: Stage): Unit = {
      if (!done.contains(s.name)) {
        require(inFlight.add(s.name), s"dependency cycle through ${s.name}")
        s.deps.foreach(d => visit(byName(d)))
        inFlight.remove(s.name)
        done.add(s.name)
      }
    }
    stages.foreach(visit)
    done.toSeq.map(byName)
  }

  /** Our own stage-commit marker, independent of the Hadoop committer's
    * `_SUCCESS` convention (`marksuccessfuljobs=false` disables that one
    * — the same rule IngestDeduper's segments follow). `_SUCCESS` is
    * still ACCEPTED on read as a legacy commit (dirs written before the
    * marker existed), so an upgrade never silently discards a committed
    * stage; every new commit carries the marker.
    */
  val CommitMarker = "_graft_commit"

  /** Tmp dirs this JVM is currently writing — the same-pid exclusion
    * for the stale-tmp sweep (two materialize calls in one JVM may
    * overlap on a shared workDir; pid alone cannot tell a crashed
    * earlier tick's tmp from a sibling thread's live one).
    */
  private val liveTmps = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-target commit/read locks (same-JVM): the commit swap and the
    * post-commit stamp/row read serialize per table path, so a racing
    * sibling thread can neither delete a just-committed table out from
    * under another thread's footer read nor tear the reported
    * stamp/rows. Cross-process racers still resolve through the
    * racedWinner/rename protocol below (that window is unavoidable).
    */
  private val pathLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def locked[T](path: String)(body: => T): T =
    pathLocks.computeIfAbsent(path, _ => new Object).synchronized(body)

  private[pipeline] def isCommitted(dir: java.io.File): Boolean =
    new java.io.File(dir, CommitMarker).exists() ||
      new java.io.File(dir, "_SUCCESS").exists()

  /** Name of the per-stage stamp file: line 1 is the stage's own commit
    * stamp (process id + nanos — unique per commit), the rest are
    * `dep=stamp` lines recording the upstream commits this table was
    * BUILT FROM, plus a reserved `_partitionBy=` line when the stage
    * declares a partition layout. Reuse requires the recorded upstream
    * stamps to equal the upstreams' CURRENT stamps, so rebuilding any
    * upstream invalidates everything downstream transitively — without
    * the chain, a `refresh = false` tick after an upstream rebuild
    * would silently serve downstream tables derived from the OLD
    * upstream. The layout line makes a partitioning change part of the
    * same contract: a pre-change committed table records no (or a
    * different) layout, so the next tick rebuilds it into the declared
    * layout instead of serving the old file shape forever.
    */
  private val StampFile = "_graft_stamp"

  /** Reserved stamp-chain key for the stage's declared partition layout
    * (stage names may not start with '_' — enforced in [[topoSort]] —
    * so it can never collide with a dependency name).
    */
  private val LayoutKey = "_partitionBy"

  /** Reserved stamp-chain key recording the incremental column: toggling
    * a stage between whole-table and incremental mode (either direction)
    * must fail the chain equality once and rebuild into the new regime.
    */
  private val IncKey = "_incrementalOn"

  /** Stamp-chain key prefix of one partition value's input fingerprint
    * (incremental stages only).
    */
  private val PartKey = "_p:"

  /** The committed dir's own commit stamp (line 1 of the stamp file) —
    * the table-identity token [[InputTable]] watches to detect that a
    * table was REPLACED in place (same path, fresh files).
    */
  private[pipeline] def commitStamp(dir: java.io.File): Option[String] =
    readStamp(dir).map(_._1)

  private def readStamp(dir: java.io.File): Option[(String, Map[String, String])] = {
    import scala.jdk.CollectionConverters._
    val f = new java.io.File(dir, StampFile)
    if (!f.isFile) None
    else {
      val lines = java.nio.file.Files.readAllLines(f.toPath).asScala
      if (lines.isEmpty) None
      else Some((lines.head,
        lines.drop(1).map(_.split("=", 2)).collect {
          case Array(k, v) => k -> v
        }.toMap))
    }
  }

  /** Materialize the DAG; returns per-stage run reports in topological
    * order.
    *
    * Ready stages run CONCURRENTLY on a bounded pool ([[Parallelism]]
    * threads): independent roots are each a full corpus scan at
    * production scale, and running them serially leaves the cluster
    * idle between stages — the scheduler overlaps them and the shuffle
    * scheduler interleaves their tasks. A stage starts the moment its
    * last dependency commits (no global barrier between "levels").
    * Failure: dependents of a failed stage never start (their
    * dependency future fails through), independent in-flight stages run
    * to completion, and the first failure in topological order rethrows
    * after all settle — never a pool shot down under a live Spark job.
    *
    * Commit discipline (the IngestDeduper rule), one runner for every
    * stage ([[runStage]]): the stage's stamp chain (see [[StampFile]])
    * against the committed dir's recorded one picks one of three
    * outcomes —
    *  - SKIP: a commit marker exists, `refresh` is off and the chain
    *    matches (for an incremental stage: no partition value is new,
    *    changed or removed). Zero Spark jobs.
    *  - WHOLE: the stage writes a process-unique `<name>.parquet.tmp-*`
    *    candidate, gates it, stamps [[CommitMarker]] and its chain into
    *    it, and atomically renames it onto `<name>.parquet`. Refreshing
    *    an existing stage drops its markers BEFORE its data
    *    (Fs.uncommitThenDelete) so a crash mid-delete reads as
    *    uncommitted. Two processes racing the same stage resolve
    *    before/at the rename: the loser detects a committed winner built
    *    from the same chain and reuses it.
    *  - DELTA (incremental stages, see [[Stage.incrementalOn]]): the
    *    candidate holds only the stale partition values; each swaps into
    *    the committed table by atomic rename and the stamp rewrites
    *    last.
    *
    * A tick that crashes mid-write leaves the tmp dir (swept on the next
    * tick) or an uncommitted target, never a torn table that a later
    * `refresh = false` tick would silently read as done, and an upstream
    * rebuild cascades downstream instead of leaving stale derived tables.
    *
    * Schema hand-off: a dependent reads an upstream that THIS call built
    * and committed whole with the schema the build produced
    * (`spark.read.schema(built).parquet`, as the quality gates read the
    * candidate) — equal to what inference would return, without the
    * schema-merge Spark job inference runs per read. Reused, raced-in
    * and partitioned upstreams are read with inference. Every stage's
    * row count comes from its parquet footers, read with the session's
    * Hadoop conf.
    */
  def materialize(
      spark: SparkSession,
      stages: Seq[Stage],
      workDir: String,
      refresh: Boolean = true): Seq[StageRun] = {
    new java.io.File(workDir).mkdirs()
    val ordered = topoSort(stages)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(Parallelism, ordered.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val done = scala.collection.mutable.Map
        .empty[String, scala.concurrent.Future[Settled]]
      // Registration in topo order: deps are always registered first,
      // and root stages enqueue in declaration order (deterministic
      // startup under a small pool).
      ordered.foreach { s =>
        val deps = s.deps.map(done)
        done(s.name) = scala.concurrent.Future.sequence(deps).map { ups =>
          runStage(spark, s, workDir, refresh, s.deps.zip(ups).toMap)
        }
      }
      val settled = ordered.map(s => scala.concurrent.Await
        .ready(done(s.name), scala.concurrent.duration.Duration.Inf).value.get)
      settled.foreach {
        case scala.util.Failure(e) =>
          // Scala Futures BOX fatal throwables (OOME, StackOverflow)
          // into ExecutionException("Boxed Exception") — which NonFatal
          // matches, so rethrowing the box would let callers'
          // best-effort NonFatal guards (Bench/Verify ensure) swallow a
          // corrupted-JVM error and keep running. Unwrap and rethrow
          // the raw fatal so it still kills the process loudly.
          throw (e match {
            case ee: java.util.concurrent.ExecutionException
                if ee.getCause != null && !scala.util.control.NonFatal(ee.getCause) =>
              ee.getCause
            case other => other
          })
        case _ => ()
      }
      settled.map(_.get.run)
    } finally pool.shutdown()
  }

  /** Stage threads per [[materialize]] call. */
  private val Parallelism = 4

  /** How many gate-rejected candidates `_quarantine/` retains per work
    * dir before the oldest is dropped. Small on purpose: a flapping
    * upstream that fails its gate every tick must age out its own
    * rejects, not fill the disk that the LIVE tables need.
    */
  private[graft] val QuarantineKeep = 5

  /** Park a gate-rejected candidate under `<workDir>/_quarantine/`
    * instead of deleting it (VERDICT r14 #7): the rejected batch is the
    * triage evidence — which rows violated the check, what the upstream
    * actually produced — and a production incident starts with exactly
    * that question. The move is a rename (no data copy); retention is
    * bounded at [[QuarantineKeep]] entries (oldest-mtime evicted); a
    * failed rename degrades to the old delete — a rejected candidate
    * must NEVER survive in a place a reader could mistake for live. The
    * tick's stale-tmp sweep never looks inside `_quarantine/` (it
    * matches `<stage>.parquet.tmp-*` names at the work-dir top level),
    * so parked batches survive restarts until evicted by count.
    */
  private[graft] def quarantine(workDir: String, stage: String, tmp: String): Unit = {
    try {
      val qroot = new java.io.File(workDir, "_quarantine")
      qroot.mkdirs()
      val entries = Option(qroot.listFiles()).getOrElse(Array.empty)
      entries.sortBy(_.lastModified).dropRight(QuarantineKeep - 1)
        .foreach(graft.Fs.rmTree)
      val dest = new java.io.File(qroot, new java.io.File(tmp).getName
        .replace(".parquet.tmp-", "-"))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp), dest.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case scala.util.control.NonFatal(_) =>
      graft.Fs.rmTree(new java.io.File(tmp))
    }
  }

  /** Sweep stale tmp dirs of one stage (crashed ticks) — on EVERY tick,
    * skipped or not: a crashed refresh leaves a near-full-size tmp next
    * to a still-committed table, and a sweep gated on rebuild would keep
    * it for as long as the table stays fresh. The tmp name embeds the
    * writer's pid: only OUR OWN tmps (a failed earlier tick of this JVM,
    * and not in flight — two same-JVM materialize calls may overlap, so
    * live tmps register in [[liveTmps]]) and tmps whose owning process
    * is DEAD are swept — a live sibling process may be mid-write into
    * its tmp right now (the InputTable lock is JVM-local), and deleting
    * it would fail the write the race check exists to let finish.
    * Bounded pid digits: an unparseable name is left alone rather than
    * crashing the tick on Long overflow.
    */
  private def sweepStaleTmps(fs: java.io.File, stageName: String): Unit = {
    val TmpOwner = (java.util.regex.Pattern.quote(s"$stageName.parquet.tmp-") +
      "(\\d{1,18})-\\d+").r
    val selfPid = ProcessHandle.current.pid
    Option(fs.listFiles()).getOrElse(Array.empty)
      .filter(f => !liveTmps.contains(f.getAbsolutePath) && (f.getName match {
        case TmpOwner(pid) =>
          pid.toLong == selfPid || ProcessHandle.of(pid.toLong).isEmpty
        case _ => false
      }))
      .foreach(graft.Fs.rmTree)
  }

  /** Quality gate over a written-but-uncommitted candidate dir, BEFORE
    * any stamp or commit marker exists: a failing candidate is parked in
    * `_quarantine/` and the stage throws — the target keeps its
    * previously committed table, and a crash DURING the gate leaves an
    * unmarked tmp the next tick sweeps. The candidate reads back from
    * parquet (not the live plan) so the gate judges the exact bytes that
    * would commit, and with the BUILT schema supplied: partition values
    * parse from the directory strings straight into the built types — a
    * numeric-looking string partition value ("01") is judged as "01",
    * never as directory-name inference's integer 1. Per-read schema, so
    * thread-safe under the concurrent stage pool — unlike flipping
    * spark.sql.sources.partitionColumnTypeInference on the shared
    * session. collect() is driver-tiny: one report row per declared
    * check.
    */
  private def applyGates(spark: SparkSession, s: Stage, workDir: String,
      tmp: String, schema: StructType): Unit = {
    if (s.requireChecks.isEmpty) return
    val candidate = spark.read.schema(schema).parquet(tmp)
    val failed = s.requireChecks.flatMap { gate =>
      gate(candidate)
        .filter(!org.apache.spark.sql.functions.col("pass"))
        .collect()
        .map(r => s"${r.getAs[String]("check")}" +
          s" violations=${r.getAs[Long]("violations")}/${r.getAs[Long]("total")}" +
          s" metric=${r.getAs[Double]("metric")}")
    }
    if (failed.nonEmpty) {
      quarantine(workDir, s.name, tmp)
      throw new QualityGateException(s.name, failed)
    }
  }

  /** Backfill one empty part file carrying `schema` when the table dir
    * holds none. A zero-partition result writes NO part files; the
    * commit would then succeed but every dependent's spark.read.parquet
    * would fail schema inference FOREVER (the empty table reads as
    * committed-and-fresh, so no tick rebuilds it). Written WITHOUT
    * partitionBy even for partitioned stages, since a zero-row
    * dynamic-partition write also creates no files; an empty table has
    * no partitions to prune anyway.
    */
  private def backfillIfEmpty(spark: SparkSession, dir: String, schema: StructType): Unit = {
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val hasPart =
      try stream.anyMatch(p => p.getFileName.toString.startsWith("part-")) finally stream.close()
    if (!hasPart)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .repartition(1).write.mode("append").parquet(dir)
  }

  /** `value-token → directory` for one input's hive-style partition dirs
    * of `col`. Tokens are the ESCAPED directory form (Spark's partition
    * path escaping) — used verbatim as stamp keys and path segments, and
    * unescaped only at the one place a Spark filter needs the real value.
    */
  private def partValues(dir: java.io.File, col: String): Map[String, java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(col + "="))
      .map(f => f.getName.substring(col.length + 1) -> f).toMap

  /** Stable fingerprint of labeled directory trees: (label, relative
    * path, length, mtime) of every file, order-independent by
    * construction (children sorted). Pure file stats — NO Spark job, no
    * reads: at 100 TB a daily tick must detect "nothing new" from
    * metadata alone. The label keeps two inputs' identical trees
    * distinct, and an input gaining/losing its subtree changes the
    * fingerprint even when the remaining bytes match.
    *
    * Each file's entry string ends with a NUL terminator before folding
    * into the rolling hash — without it, adjacent entries concatenate
    * ambiguously ("a"+"bc" hashes like "ab"+"c"). The
    * mtime is read at nanosecond precision where the filesystem provides
    * it (ext4/xfs/apfs do), so a same-length rewrite within one
    * lastModified millisecond still changes the fingerprint. CAVEAT
    * (documented on [[Stage.incrementalOn]]): on filesystems with
    * coarse mtime granularity, a same-length rewrite inside one
    * granularity unit remains invisible to a stats-only fingerprint —
    * the price of a zero-read tick. Writers that rewrite in place
    * (rather than Spark's fresh-part-file pattern, which always changes
    * names) should touch the directory or use unique file names.
    */
  private def dirFp(roots: Seq[(String, java.io.File)]): String = {
    def mtimeNanos(f: java.io.File): Long =
      try java.nio.file.Files.getLastModifiedTime(f.toPath)
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: java.io.IOException => f.lastModified * 1000000L }
    def walk(label: String, f: java.io.File, rel: String, acc: Long): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .foldLeft(acc)((a, c) => walk(label, c, s"$rel/${c.getName}", a))
      else (s"$label:$rel:${f.length}:${mtimeNanos(f)}" + '\u0000')
        .foldLeft(acc)((a, ch) => a * 31 + ch)
    val h = roots.sortBy(_._1).foldLeft(1125899906842597L) {
      case (acc, (label, root)) =>
        if (root.exists()) walk(label, root, "", acc * 31 + 7) else acc * 31 + 13
    }
    java.lang.Long.toHexString(h)
  }

  /** One stage's materialize-or-reuse (thread-confined: all cross-stage
    * coordination flows through the settled upstreams the scheduler
    * passes in). The stamp chain picks SKIP, DELTA or WHOLE (see
    * [[materialize]]); every build goes through one candidate writer and
    * every whole-table build through one commit. Returns the run report,
    * this stage's CURRENT commit stamp for downstream chain checks, and
    * the schema it was built with when this call committed it whole.
    */
  private def runStage(
      spark: SparkSession,
      s: Stage,
      workDir: String,
      refresh: Boolean,
      ups: Map[String, Settled]): Settled = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val path = s"$workDir/${s.name}.parquet"
    val target = new java.io.File(path)
    val t0 = System.nanoTime()
    sweepStaleTmps(new java.io.File(workDir), s.name)
    val inputs: Seq[(String, String)] =
      s.deps.map(d => d -> s"$workDir/$d.parquet") ++ s.externalInputs.toSeq.sortBy(_._1)
    // An incremental stage's inputs partitioned by its column contribute
    // per-value fingerprints; the rest join the static chain whole. An
    // input DECLARED partitioned but currently empty classifies as
    // unpartitioned — the chain's key set then differs from the
    // recorded one and the tick degrades to a whole rebuild: never
    // wrong, at worst unlazy.
    val perPart: Map[String, Map[String, java.io.File]] = s.incrementalOn.fold(
      Map.empty[String, Map[String, java.io.File]])(c => inputs.map { case (n, p) =>
        n -> partValues(new java.io.File(p), c) }.filter(_._2.nonEmpty).toMap)
    // The static chain: upstream stamps, external-input fingerprints, the
    // declared partition layout (a layout edit must rebuild the table
    // into the new shape — a pre-edit stamp records no or another layout
    // and fails this equality once) and the incremental column.
    val chain: Map[String, String] =
      s.deps.filterNot(perPart.contains).map(d => d -> ups(d).stamp).toMap ++
        s.externalInputs.filterNot(e => perPart.contains(e._1)).map { case (n, p) =>
          s"_ext:$n" -> dirFp(Seq((n, new java.io.File(p)))) } ++
        (if (s.partitionBy.nonEmpty) Map(LayoutKey -> s.partitionBy.mkString(","))
         else Map.empty[String, String]) ++
        s.incrementalOn.map(IncKey -> _)
    val current: Map[String, String] = perPart.toSeq
      .flatMap { case (n, vals) => vals.toSeq.map { case (v, f) => v -> (n -> f) } }
      .groupBy(_._1).map { case (v, owners) => v -> dirFp(owners.map(_._2)) }
    def withParts(parts: Map[String, String]): Map[String, String] =
      chain ++ parts.map { case (v, fp) => s"$PartKey$v" -> fp }
    val recorded = readStamp(target)
    val (recParts, recChain) = recorded.fold(Map.empty[String, String])(_._2)
      .partition(_._1.startsWith(PartKey))
    val recFp = recParts.map { case (k, fp) => k.stripPrefix(PartKey) -> fp }
    // Legacy dirs (committed before stamps existed) have no stamp chain:
    // reusable only as ROOTS (no upstreams to be stale against, no layout
    // to honor) — a dependent stage without provenance rebuilds once.
    val fresh = (recorded.nonEmpty && recChain == chain) ||
      (recorded.isEmpty && s.deps.isEmpty && s.partitionBy.isEmpty)
    val whole = !isCommitted(target) || refresh || !fresh
    val stale: Set[String] =
      if (whole) current.keySet
      else current.collect { case (v, fp) if !recFp.get(v).contains(fp) => v }.toSet
    val removed = recFp.keySet -- current.keySet
    val skipped = !whole && stale.isEmpty && removed.isEmpty
    def newOwn() = s"${ProcessHandle.current.pid}-${System.nanoTime()}"
    def stampBytes(own: String, entries: Map[String, String]): Array[Byte] =
      (own +: entries.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" })
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)

    // The candidate writer: a registered tmp dir, the build over its
    // inputs (a same-call upstream read with its built schema — what
    // inference would return, since parquet writes every column nullable
    // and so does a user-schema read, without inference's schema-merge
    // job on the critical path; on a delta, partitioned inputs filtered
    // to the stale values), the write, the empty-result backfill of a
    // whole table, and the gates. `commit` then owns the tmp, which
    // stays registered in liveTmps until it returns.
    def candidate[T](delta: Boolean)(commit: (String, StructType) => T): T = {
      val tmp = s"$path.tmp-${newOwn()}"
      val tmpAbs = new java.io.File(tmp).getAbsolutePath
      liveTmps.add(tmpAbs)
      try {
        lazy val keep = stale.toSeq.sorted.map(
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName)
        val upstream = inputs.map { case (n, p) =>
          val df = ups.get(n).flatMap(_.builtSchema)
            .fold(spark.read.parquet(p))(spark.read.schema(_).parquet(p))
          n -> (if (delta && perPart.contains(n))
            df.filter(org.apache.spark.sql.functions.col(s.incrementalOn.get).isin(keep: _*))
          else df)
        }.toMap
        val built = s.build(spark, upstream)
        val schema = built.schema
        built.write.mode("overwrite").partitionBy(s.partitionBy: _*).parquet(tmp)
        if (!delta) backfillIfEmpty(spark, tmp, schema)
        applyGates(spark, s, workDir, tmp, schema)
        commit(tmp, schema)
      } finally liveTmps.remove(tmpAbs)
    }

    // The whole-table commit: stamp and marker into the candidate, then
    // the race check and the swap under the path lock. Checked BEFORE
    // touching the target: a concurrent materializer may have committed
    // a fresh table since our skip check (the InputTable lock is
    // JVM-local while the work dir is shared across processes), and
    // deleting first would destroy the winner's just-committed table
    // non-atomically — a third-process reader could observe a
    // partially-deleted dir. A RACED winner is one whose stamp CHANGED
    // from what we read at the skip check AND whose chain equals ours
    // (identical build inputs ⇒ identical content): reuse it and drop
    // ours. An unchanged stamp is the stale table we set out to replace.
    // Same-JVM racers serialize on the path lock.
    var builtSchema = Option.empty[StructType]
    def commitWhole(tmp: String, schema: StructType): Unit = {
      val entries = withParts(current)
      Files.write(Paths.get(tmp, StampFile), stampBytes(newOwn(), entries))
      Files.createFile(Paths.get(tmp, CommitMarker))
      locked(path) {
        val racedWinner = isCommitted(target) && readStamp(target).exists {
          case (own, ch) => !recorded.map(_._1).contains(own) && ch == entries
        }
        if (racedWinner) graft.Fs.rmTree(new java.io.File(tmp))
        else {
          graft.Fs.uncommitThenDelete(target, Seq(CommitMarker, "_SUCCESS"))
          try {
            Files.move(Paths.get(tmp), target.toPath, StandardCopyOption.ATOMIC_MOVE)
            // A partitioned table reads back with its partition columns
            // moved last and typed by inference: dependents infer it.
            if (s.partitionBy.isEmpty) builtSchema = Some(schema)
          } catch { case e: java.nio.file.FileSystemException =>
            // Target reappeared inside the unavoidable delete→rename
            // window (a sibling PROCESS — same-JVM racers hold the
            // lock). If the winner's table is committed, reuse it and
            // drop ours; anything else is a real failure.
            if (isCommitted(target)) graft.Fs.rmTree(new java.io.File(tmp)) else throw e
          }
        }
      }
    }

    // The delta commit: swap only the stale values' partition dirs — the
    // commit marker never drops, so readers keep being served (each flip
    // is atomic; the cross-partition window is the standard dynamic-
    // partition-overwrite exposure). Returns false, touching nothing,
    // when the candidate's tokens do not round-trip: a partition-wise
    // build fed only the stale values can only emit those values, so
    // every tmp token must BE a stale token. Partition-dir inference
    // re-typing an external dir's `ds=01` to `ds=1`, or a build that
    // rewrites the column, breaks that — and a token-keyed swap would
    // then move nothing, delete the target's stale dirs and stamp the
    // values fresh, serving a lost delta forever. (A stale token MISSING
    // from tmp is legitimate: that value's new content is zero rows, and
    // the swap deletes its target dir.)
    def commitDelta(tmp: String, schema: StructType): Boolean = {
      val c = s.incrementalOn.get
      val tmpF = new java.io.File(tmp)
      val tokens = partValues(tmpF, c).keySet
      val drift = tokens -- stale
      if (drift.nonEmpty) {
        System.err.println(s"[graft.Dag] stage ${s.name}: delta build emitted " +
          s"partition token(s) ${drift.toSeq.sorted.mkString(", ")} matching no stale " +
          s"input token of $c — tokens do not round-trip (type inference or a column-" +
          "rewriting build); degrading this tick to a full rebuild")
        graft.Fs.rmTree(tmpF)
        false
      } else locked(path) {
        // A root-level backfill part file from an earlier EMPTY whole
        // build must not coexist with partition dirs (a mixed layout
        // fails Spark's partition discovery) — drop it the moment real
        // partitions arrive.
        if (tokens.nonEmpty)
          Option(target.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && f.getName.startsWith("part-"))
            .foreach(f => f.delete())
        stale.toSeq.sorted.foreach { v =>
          val dst = new java.io.File(target, s"$c=$v")
          val src = new java.io.File(tmpF, s"$c=$v")
          if (dst.exists()) graft.Fs.rmTree(dst)
          if (src.exists()) Files.move(src.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        }
        removed.foreach(v => graft.Fs.rmTree(new java.io.File(target, s"$c=$v")))
        backfillIfEmpty(spark, path, schema)
        // Stamp LAST, atomically: a crash before this line re-detects
        // the just-built values as stale next tick (unrecorded), and
        // rebuilds only them.
        val own = newOwn()
        val st = Paths.get(path, s"$StampFile.tmp-$own")
        Files.write(st, stampBytes(own,
          withParts(recFp -- removed -- stale ++ stale.map(v => v -> current(v)))))
        Files.move(st, Paths.get(path, StampFile), StandardCopyOption.ATOMIC_MOVE)
        graft.Fs.rmTree(tmpF)
        true
      }
    }

    // A delta whose tokens drift falls back to a whole build of all
    // values: never wrong, at worst unlazy.
    if (!skipped && (whole || !candidate(delta = true)(commitDelta)))
      candidate(delta = false)(commitWhole)
    // The stage's CURRENT stamp for downstream chain checks: what the
    // committed dir records (ours after a rebuild, the winner's after a
    // lost race, the legacy-root sentinel otherwise). Under the path
    // lock: a same-JVM racer between its delete and rename must not be
    // mid-swap during this read — a footer count over a half-deleted dir
    // would throw or report 0, and a torn stamp would poison the
    // downstream chain.
    locked(path) {
      val ownStamp = readStamp(target).map(_._1).getOrElse("legacy")
      val rows = graft.Fs.parquetRowCount(target, spark.sparkContext.hadoopConfiguration)
      Settled(StageRun(s.name, rows, (System.nanoTime() - t0) / 1000000, skipped),
        ownStamp, builtSchema)
    }
  }

  /** The detections derivation alone, as a one-stage DAG — the input-
    * table materialization [[DetectionsTable]] runs. At 100 TB detections
    * IS an input table (the reference persists it as the DuckDB-backed
    * `detected_objects` asset, heritage-guard/heritage_guard/assets/
    * detected_objects_processing/detected_objects_processing.py:17-28);
    * deriving it inside every consuming query charged the derivation
    * window to each query instead of once to the upstream job.
    */
  def detectionsDag(sfDir: String): Seq[Stage] = {
    import org.apache.spark.sql.functions.col
    Seq(Stage("detections", Nil, (s, _) =>
      // Keyed repartition + within-partition sort before the write: AQE
      // sizes the file count from the data (the window's 32 post-shuffle
      // partitions wrote 32 ~370 KB files at sf0.1 — footer/task overhead
      // tripled the scan), panoramas land contiguous and sorted (better
      // column compression, and the dominant consumers re-shuffle by
      // file_name anyway). Row order is irrelevant to correctness: every
      // consumer sorts or groups.
      Synthetic.detections(s, sfDir)
        .repartition(col("file_name"))
        .sortWithinPartitions(col("file_name"), col("det_idx"))))
  }

  /** The reference's street-level pipeline as a DAG: synthetic inputs →
    * greedy grouping → per-vertex rays → mesh hits → per-panorama summary
    * (street_level_grouping.py's asset chain end-to-end).
    */
  def streetLevelDag(sfDir: String): Seq[Stage] = {
    import org.apache.spark.sql.functions._
    Seq(
      Stage("detections", Nil, (s, _) => Synthetic.detections(s, sfDir)),
      Stage("poses", Nil, (s, _) => Synthetic.poses(s, sfDir)),
      Stage("grouped", Seq("detections"), (s, up) => {
        import s.implicits._
        StreetLevel.groupedDetections(
          up("detections").withColumnRenamed("class", "cls").as[Detection], 0.01).toDF()
      }),
      Stage("rays", Seq("grouped", "poses"), (s, up) =>
        StreetLevel.vertexRays(up("grouped"), up("poses"), spacing = 2)),
      Stage("hits", Seq("rays"), (s, up) =>
        RayMesh.firstHits(up("rays"), RayMesh.syntheticBuilding())),
      Stage("summary", Seq("hits"), (s, up) =>
        up("hits").groupBy(col("file_name"))
          .agg(count(lit(1)).as("n_rays"), count(col("hit_x")).as("n_hits"))
          .orderBy(col("file_name"))))
  }
}

/** A materialized INPUT TABLE: a derivation persisted once per (sfDir,
  * fingerprint) under `Fs.stateRoot` and read by consumers as a plain parquet scan
  * — the 100 TB shape, where the relation is a table an upstream
  * scheduled job wrote, and queries scan it like any other input.
  *
  * Staleness is structural, not temporal: the materialization path
  * embeds a fingerprint of the source table files (name, length, mtime),
  * the derivation definition text (the DuckDB mirror, which moves in
  * lockstep with the Scala derivation), AND an explicit derivation
  * version (bumped with any Scala-side change the mirror text cannot
  * see — e.g. a write-layout change), so neither regenerated testdata
  * nor an edited derivation can ever be read through a stale table —
  * the path changes and [[ensure]] re-derives.
  */
abstract class InputTable(
    /** Stage/table name; the persisted dir is `<root>/<name>.parquet`. */
    val tableName: String,
    /** Source table (under sfDir) whose files fingerprint the inputs. */
    sourceTable: String,
    /** The derivation's mirror text — part of the fingerprint. By-name:
      * evaluated per fingerprint call, never at object-init (mirror text
      * may reference sibling objects still initializing).
      */
    derivationText: => String,
    /** Explicit version for Scala-side changes invisible to the mirror
      * text (ADVICE r6: the text alone is a convention, not a guarantee).
      */
    version: Int) {

  /** The one-stage DAG that builds the table. */
  protected def dag(sfDir: String): Seq[Dag.Stage]

  /** The table's current fingerprint, exposed for EXTERNAL stores whose
    * durable state embeds assignments made against this table's source
    * corpus (VERDICT r18 #7 — the ANN segment store stamps every
    * committed segment with it): a store rehydrating in a rebuilt
    * session compares its stamps against this value and reroutes or
    * re-derives anything assigned under a corpus that has since moved.
    * Same value [[root]] embeds in the materialized path — source file
    * stats + derivation text + version.
    */
  final def sourceStamp(sfDir: String): String = fingerprint(sfDir)

  private def fingerprint(sfDir: String): String = {
    val files = Option(new java.io.File(s"$sfDir/$sourceTable.parquet").listFiles())
      .getOrElse(Array.empty).sortBy(_.getName)
    val h0 = s"v$version:$derivationText"
      .foldLeft(1125899906842597L)((a, c) => a * 31 + c)
    val h = files.foldLeft(h0) { (acc, f) =>
      val s = s"${f.getName}:${f.length}:${f.lastModified}"
      s.foldLeft(acc)((a, c) => a * 31 + c)
    }
    java.lang.Long.toHexString(h)
  }

  /** Sanitizing alone is LOSSY ('-', '_', '/', ' ' all map to '_'), so
    * two distinct corpora — "/data/sf-1" and "/data/sf_1" — would share
    * a prefix, and the stale-sibling sweep could delete the other's
    * LIVE committed table (r11 review). A short digest of the RAW path
    * makes the prefix injective up to 32-bit hash collision.
    */
  private def lossySanitize(sfDir: String): String =
    sfDir.replaceAll("[^a-zA-Z0-9.]", "_")

  private def sanitize(sfDir: String): String = {
    val digest = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sfDir))
    s"${lossySanitize(sfDir)}_$digest"
  }

  /** Per-table namespace: sibling-sweeping below must never see ANOTHER
    * table's materializations (their fingerprints differ by construction,
    * so a shared namespace would sweep live tables as "stale siblings").
    */
  private def tableRoot: String = s"$inputRoot/$tableName"

  /** Parent of every table's root. Tables used to live directly under
    * it — the legacy layout [[ensure]] still sweeps.
    */
  private def inputRoot: String = s"${graft.Fs.stateRoot}/graft_dag"

  private def root(sfDir: String): String =
    s"$tableRoot/${sanitize(sfDir)}_${fingerprint(sfDir)}"

  /** Per-path last-seen commit stamp: the staleness watch. A table
    * REPLACED IN PLACE — same fingerprint path, fresh part-file names,
    * whether by this JVM's invalidate→ensure or by a SIBLING PROCESS's
    * — is detected at the next [[watchStamp]] call and every cached
    * plan over the old files is dropped before being served. Detection
    * points: every [[materializedPath]] resolve (per-consumer for
    * plain readers like wallFeatures) and every [[ensure]] (sweep
    * start for SessionCache-wrapped readers like detectionsCached,
    * whose cache hit legitimately short-circuits the resolve — so a
    * sibling replacing MID-sweep is out of contract there, the same
    * exposure any shared-state-root mutation under a running query has).
    */
  private val seenStamps = scala.collection.mutable.Map.empty[String, String]
  /** Paths absent from disk at the LAST prune pass (see [[watchStamp]]):
    * an entry is dropped only when its path is absent at two
    * consecutive passes, so a sibling's transient delete→commit
    * replacement window can't silently discard the watch that would
    * have detected the replacement.
    */
  private var pruneSuspects = Set.empty[String]
  /** Re-scan the map for prunable entries only after it GROWS past the
    * last post-prune size — a map full of live tables must not pay a
    * full-disk stat scan (under [[stampLock]]) on every resolve.
    */
  private var pruneHighWater = 4096
  /** Guards [[seenStamps]] alone — NOT the object monitor: [[ensure]]
    * holds that across an entire Spark materialization, and a consumer
    * resolving mid-ensure must fall back to the live derivation
    * immediately, not block behind the build (it did, briefly, when
    * materializedPath synchronized on the object).
    */
  private val stampLock = new Object

  /** Subclass hook: the table at `sfDir` was replaced or removed — drop
    * any session-level caches holding plans over its old files.
    */
  protected def onReplaced(sfDir: String): Unit = ()

  /** Subclass hook, called by timed harnesses after [[ensure]]: replay
    * the SessionCache entries a FRESH materialization of this table
    * seeds as a side effect of building through cached readers. The
    * reuse path must leave the SAME session state as the build path, or
    * per-query bench numbers depend on whether a committed table
    * happened to pre-exist on disk (the r13 q41 finding). No-op by
    * default — only tables whose dag stages read through SessionCache
    * override it.
    */
  def seedSessionCaches(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = ()

  private def watchStamp(sfDir: String, p: String): Unit = {
    // A marker-committed dir with no stamp file is a legacy commit:
    // record a sentinel so a later REPLACEMENT by a stamped table
    // still reads as a change (None-vs-None first-seen would not).
    val st = Dag.commitStamp(new java.io.File(p)).getOrElse("legacy-unstamped")
    val replaced = stampLock.synchronized {
      val r = seenStamps.get(p).exists(_ != st)
      seenStamps(p) = st
      // Bound the watch map in long-lived JVMs cycling many corpora:
      // drop watches whose table stays absent across two prune passes
      // (absent ONCE may be a sibling mid-replacement — delete→commit —
      // and dropping then would make the rebuilt table read as
      // first-seen, never firing the cache eviction). Scans re-arm only
      // on growth past the last pass's size, so a map of live tables
      // pays one stat sweep per growth step, not per resolve.
      if (seenStamps.size > pruneHighWater) {
        val absent = seenStamps.keysIterator
          .filter(path => !new java.io.File(path).exists()).toSet
        seenStamps --= absent.intersect(pruneSuspects)
        pruneSuspects = absent.diff(pruneSuspects)
        pruneHighWater = math.max(4096, seenStamps.size)
      }
      r
    }
    if (replaced) {
      graft.sources.Tables.evictPath(p)
      onReplaced(sfDir)
    }
  }

  /** The committed materialization, if one exists (Dag's commit-marker
    * gate — a partial write never reads back). Deliberately NOT under
    * the object monitor (see [[stampLock]]): a resolve during a
    * concurrent ensure returns instantly.
    */
  def materializedPath(sfDir: String): Option[String] = {
    val p = s"${root(sfDir)}/$tableName.parquet"
    if (Dag.isCommitted(new java.io.File(p))) { watchStamp(sfDir, p); Some(p) }
    else None
  }

  /** Sweep fingerprinted dirs under `parent` that are NOT `exclude`:
    * stale materializations (regenerated testdata, edited derivation).
    * Guards shared by both call sites: the remainder after the prefix
    * must be a bare hex fingerprint (sanitize maps '-'/' '/'/' all to
    * '_', so "…sf0.1_v2_<fp>" of a DIFFERENT corpus also starts with
    * "…sf0.1_"), and only dirs quiet for over an hour go — another
    * still-running process may hold scans of a just-superseded
    * fingerprint (this lock is JVM-local only).
    */
  private def sweepStale(parent: java.io.File, prefix: String, exclude: Option[String]): Unit = {
    val hex = "^[0-9a-f]+$".r
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix)
        && hex.matches(f.getName.stripPrefix(prefix))
        && !exclude.contains(f.getName)
        && f.lastModified() < cutoff)
      .foreach { f =>
        graft.Fs.uncommitThenDelete(
          new java.io.File(f, s"$tableName.parquet"), Seq(Dag.CommitMarker, "_SUCCESS"))
        graft.Fs.rmTree(f)
      }
  }

  /** Materialize (or reuse) the table for `sfDir`; returns the parquet
    * path. Synchronized: one materialization per JVM at a time.
    */
  def ensure(spark: org.apache.spark.sql.SparkSession, sfDir: String): String = synchronized {
    val dir = root(sfDir)
    val prefix = s"${sanitize(sfDir)}_"
    // Same-sfDir siblings under a DIFFERENT fingerprint, plus the
    // PRE-per-table legacy layout (tables used to live directly under
    // <stateRoot>/graft_dag/<sanitized>_<fp> — unreachable under the new root,
    // they would leak sf-scale parquet until reboot).
    sweepStale(new java.io.File(tableRoot), prefix, Some(new java.io.File(dir).getName))
    sweepStale(new java.io.File(inputRoot), prefix, None)
    // PRE-DIGEST layouts (before sanitize() carried the raw-path
    // digest): "<lossy>_<fp>" dirs, in both roots, that no current
    // reader can ever resolve — root() always appends the digest — so
    // they are dead weight regardless of which corpus wrote them
    // (sweeping on the lossy prefix is safe ONLY because of that
    // unreachability). The bare-hex remainder guard keeps these sweeps
    // away from every digest-layout dir: its remainder "<digest>_<fp>"
    // contains '_'.
    sweepStale(new java.io.File(tableRoot), s"${lossySanitize(sfDir)}_", None)
    sweepStale(new java.io.File(inputRoot), s"${lossySanitize(sfDir)}_", None)
    // Torn writes are Dag.materialize's problem: reuse is marker-gated
    // and writes commit via tmp + atomic rename.
    Dag.materialize(spark, dag(sfDir), dir, refresh = false)
    val p = s"$dir/$tableName.parquet"
    // The stamp watch detects a rebuild here too (our own OR a sibling
    // process's since the last resolve) and drops cached plans over the
    // replaced files before any consumer reads through them.
    watchStamp(sfDir, p)
    p
  }

  /** Drop a materialization (spec hook; also the manual invalidation
    * path). Markers go first: a crash mid-delete must leave an
    * UNcommitted dir, never a torn one that still gates as a table.
    * Caches over the removed files are dropped NOW — consumers fall
    * back to the live derivation until the next ensure.
    */
  def invalidate(sfDir: String): Unit = synchronized {
    val p = s"${root(sfDir)}/$tableName.parquet"
    graft.Fs.uncommitThenDelete(new java.io.File(p), Seq(Dag.CommitMarker, "_SUCCESS"))
    graft.Fs.rmTree(new java.io.File(root(sfDir)))
    graft.sources.Tables.evictPath(p)
    onReplaced(sfDir)
  }
}

/** The materialized detections input table (VERDICT r5 ask #1): q80's
  * residual cost was the shared derivation window rebuilt per session,
  * not the grouping kernel. [[Synthetic.detectionsCached]] reads the
  * persisted parquet when it is present.
  */
object DetectionsTable extends InputTable(
    "detections", "lineitem", Synthetic.detectionsSql, version = 1) {
  protected def dag(sfDir: String): Seq[Dag.Stage] = Dag.detectionsDag(sfDir)
  /** [[Synthetic.detectionsCached]] persists a SCAN of this table under
    * SessionCache — a replace-in-place (invalidate→ensure, or a sibling
    * process's rebuild) must drop that entry in every session, or the
    * next consumer recomputes the cache over deleted part files.
    */
  override protected def onReplaced(sfDir: String): Unit =
    SessionCache.releaseAll(s"detections:$sfDir")
}

/** The materialized wall-plane FEATURE table (VERDICT r6 ask #4 — the
  * DetectionsTable argument applied to q83, the round-6 slowest query):
  * the mesh-feature derivation (vertical filter + azimuth + weighting +
  * StandardScaler stats broadcast) is the per-query residual, and at
  * scale it is a table the upstream feature-extraction job wrote.
  * [[Synthetic.wallFeatures]] reads the persisted parquet when present.
  * Fingerprint: source `part` files + the meshCells mirror text + the
  * scaledFeatures parameterization (version constant covers Scala-side
  * edits the text cannot see).
  */
object WallFeaturesTable extends InputTable(
    "wall_features", "part",
    Synthetic.meshCellsSql + "|scaledFeatures(vth=0.1,aw=10000.0,cw=0.001)",
    version = 1) {
  protected def dag(sfDir: String): Seq[Dag.Stage] =
    Seq(Dag.Stage("wall_features", Nil, (s, _) =>
      Synthetic.wallFeaturesDerived(s, sfDir)))
}
