package graft

/** One-command scheduled-job entry: materialize a DAG end-to-end with
  * parquet handoffs (the Dagster-loop analogue).
  *
  *   sbt "runMain graft.RunDag [street|curation|inputs] [sfDir] [workDir] [--no-refresh]"
  *
  * `street` (default) is the street-level pipeline; `curation` is the
  * q99 training-data curation pipeline; `inputs` materializes the
  * fingerprint-keyed INPUT tables (detections, wall features) the query
  * surface scans — the upstream job Bench/Verify otherwise run inline
  * as setup (workDir is ignored: input tables live under their own
  * fingerprinted roots). `--no-refresh` is the incremental tick: only
  * missing stage tables are rebuilt. A DAG run ends with a `total` line:
  * the materialization's wall time and the Spark jobs it launched.
  */
object RunDag {
  def main(args: Array[String]): Unit = {
    // Flags and positionals partition FIRST — a positional after a flag
    // must not silently fall back to a default.
    val (flags, positional) = args.partition(_.startsWith("--"))
    flags.foreach(f => require(f == "--no-refresh", s"unknown flag $f"))
    val (dagName, rest) = positional.headOption match {
      case Some(n @ ("street" | "curation" | "inputs")) => (n, positional.drop(1))
      case _ => ("street", positional)
    }
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = rest.drop(1).headOption.getOrElse(s"/tmp/graft_dag_$dagName")
    val refresh = !flags.contains("--no-refresh")
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Publish this JVM's pid FIRST (the chaos.sh lesson: pattern-matching
    // process lists kills the sbt LAUNCHER, not the app) — tools/
    // dag_chaos.sh SIGKILLs exactly this process mid-materialize to
    // prove cross-process crash-resume of the commit-marker protocol.
    if (dagName != "inputs") {
      new java.io.File(workDir).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(workDir, "rundag.pid"),
        ProcessHandle.current().pid().toString)
    }
    if (dagName == "inputs") {
      // ensure() is always an incremental tick (fingerprint-gated reuse);
      // staleness here is structural, so --no-refresh has nothing to add.
      // Not Registry.prepare: a scheduled job fails loudly instead of
      // degrading to in-query derivation, and reports each table's time.
      graft.queries.Registry.inputTables.foreach { t =>
        val t0 = System.nanoTime()
        val p = t.ensure(spark, sfDir)
        println(f"${t.tableName}%-16s ${(System.nanoTime() - t0) / 1000000}%6d ms  $p")
      }
      spark.stop()
    } else {
      val stages = dagName match {
        case "curation" => graft.queries.CurationDag.stages(sfDir)
        case _ => graft.pipeline.Dag.streetLevelDag(sfDir)
      }
      // Jobs the materialization launches. Listener events arrive
      // asynchronously; spark.stop() delivers every queued one, so the
      // count is read after it.
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      })
      val t0 = System.nanoTime()
      val runs = graft.pipeline.Dag.materialize(spark, stages, workDir, refresh)
      val totalMs = (System.nanoTime() - t0) / 1000000
      if (dagName == "curation")
        graft.queries.CurationDag.sharedCacheKeys
          .foreach(k => graft.pipeline.SessionCache.release(spark, s"$k:$sfDir"))
      runs.foreach(r => println(
        f"${r.name}%-16s rows=${r.rows}%8d  ${r.millis}%6d ms${if (r.skipped) "  (reused)" else ""}"))
      spark.stop()
      println(f"${"total"}%-16s jobs=${jobs.get}%8d  $totalMs%6d ms")
    }
  }
}
