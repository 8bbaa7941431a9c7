package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.pipeline.{InputTable, SessionCache}

/** Central list of all declared queries. SparkEntry derives its `queries`
  * and `oracleSql` maps from here so the two can never drift apart. It
  * also owns the harness set-up every main and spec shares: which input
  * tables a sweep commits first, and the order in which a sweep runs its
  * queries and retires their SessionCache entries.
  */
object Registry {
  lazy val all: Seq[QueryDef] = {
    val qs = Relational.all ++ TextAnalysis.all ++ Dedup.all ++ Similarity.all ++
      Domain.all ++ DomainOracles.all ++ Streaming.all ++ Media.all ++ Temporal.all ++
      Stats.all ++ Quality.all ++ Readers.all ++ Skew.all ++ Curation.all ++ MeshIngest.all
    val names = qs.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).mkString(",")}")
    // Exactly one of (oracle, noOracleReason) per query: a rows-only
    // query without a declared reason would read as "unverified" in the
    // driver's gate (ADVICE r9 #2), and a reason on an oracled query
    // would be stale documentation.
    val bad = qs.filter(q => q.oracle.isDefined == q.noOracleReason.isDefined)
    require(bad.isEmpty,
      s"queries must declare oracle XOR noOracleReason: ${bad.map(_.name).mkString(",")}")
    // An eps oracle supplements a declared exclusion (toleranced value
    // verification for float-hash-poisoned queries); on an exactly-
    // oracled query it would be dead machinery.
    val badEps = qs.filter(q => q.epsOracle.isDefined && q.noOracleReason.isEmpty)
    require(badEps.isEmpty,
      s"epsOracle requires a rows-only query: ${badEps.map(_.name).mkString(",")}")
    qs
  }

  lazy val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap

  /** The materialized input tables a harness commits before its sweep, so
    * queries read the production table shape instead of deriving their
    * inputs in-query. The grouping table keeps the grouping kernel out of
    * the sweep: without it q80 bills the kernel as a cache build and the
    * sweep-kernel skew counters double (the kernel enumerates the same
    * y-overlap pairs as q81). The ANN index puts its build in set-up, so
    * the IVF queries read the persisted anchors and route.
    * WallClustersTable is not here: no timed query reads it (it is q83's
    * eps-oracle reference, which only Verify dumps).
    */
  lazy val inputTables: Seq[InputTable] = Seq(
    graft.pipeline.DetectionsTable, graft.pipeline.WallFeaturesTable,
    ShinglesTable, DedupClustersTable, GroupedDetectionsTable, AnnIndexTable)

  /** Commit each of `tables` for `dir`; with `seed`, also replay the
    * SessionCache entries a fresh build of the table leaves behind
    * ([[InputTable.seedSessionCaches]]), so per-query timings do not
    * depend on whether a committed table already existed on disk.
    * Best-effort: a table that cannot be built (full disk, permissions)
    * prints one stderr line and its consumers derive it in-query, with
    * the same values. NonFatal only: a fatal VM error must end the run,
    * not leave a harness timing or dumping queries on a broken JVM.
    */
  def prepare(spark: SparkSession, dir: String, tables: Seq[InputTable],
      seed: Boolean): Unit =
    tables.foreach { t =>
      try { t.ensure(spark, dir); if (seed) t.seedSessionCaches(spark, dir) }
      catch { case NonFatal(e) =>
        System.err.println(s"[graft] ${t.tableName} table unavailable, deriving in-query: $e")
      }
    }

  /** Fire the SessionCache release points query `name` declares for
    * `dir`. A name outside the registry declares none.
    */
  def release(spark: SparkSession, dir: String, name: String): Unit =
    byName.get(name).toSeq.flatMap(_.releases)
      .foreach(k => SessionCache.release(spark, s"$k:$dir"))

  /** The cache-retiring query sweep: call `run` on each of `names` in name
    * order and fire that query's declared releases once `run` returns,
    * so an entry retires after its consumer's action (never mid-plan)
    * and outside any timer `run` keeps. Release points are declared
    * against this order: each names an entry's last consumer in the full
    * sorted sweep. After the last name, the release points of registry
    * queries NOT in `names` fire too, so a subset sweep ends with the same
    * live entries as a full one (a subset without q54 would otherwise
    * hold embN and annIndex for the session). Entries that declare no
    * release point, such as srpTightDupMass, live for the session either
    * way. `run` decides what a failing query does: a throwable it lets
    * through ends the sweep.
    */
  def sweep[A](spark: SparkSession, dir: String, names: Seq[String])(
      run: String => A): Seq[A] = {
    val out = names.sorted.map { name =>
      val r = run(name)
      release(spark, dir, name)
      r
    }
    all.map(_.name).filterNot(names.toSet).foreach(release(spark, dir, _))
    out
  }
}
