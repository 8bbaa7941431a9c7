package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Readers for the harness tables (TESTDATA.md). Parquet carries its own
  * schema; explicit schemas are only needed for the schemaless formats
  * (JSON/CSV detection inputs — see [[DetectionReaders]]).
  *
  * All readers take the scale-factor directory so query builders stay
  * pure `(SparkSession, sfDir) => DataFrame` functions.
  */
object Tables {

  /** Analyzed-plan memo per (session, path) — the CATALOG role. Every
    * `spark.read.parquet` call re-infers the schema from file footers
    * (~60–100 ms per call, measured at sf0.1); a 97-query sweep makes
    * hundreds of such calls, so the un-memoized reads alone contributed
    * ~10 s of pure per-query floor. A registered catalog table resolves
    * its schema once — this memo is that, for path-addressed tables.
    * DataFrames are immutable lazy plans, so sharing one instance across
    * queries is safe; entries evict when the owning context ends. The
    * files under a memoized path are assumed append-only-stable for the
    * session's life (true for the harness testdata; a mutating layout
    * would register a real catalog table instead).
    */
  private val memo =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]
  private val hooked =
    scala.collection.mutable.Set.empty[SparkSession]
  /** Bumped by [[evictPath]]; a build that straddles ANY eviction is
    * served un-memoized (see [[cached]]) so a plan over just-replaced
    * files can never be inserted after its eviction ran.
    */
  private var evictEpoch = 0L

  /** Deliberately NOT SessionCache: that machinery exists for builds
    * that run whole Spark JOBS and therefore needs per-entry build
    * locks + explicit release points; these builds are driver-side plan
    * construction (~100 ms worst case). The BUILD runs OUTSIDE the
    * monitor (ADVICE r6: schema inference can launch a distributed
    * footer-reading job for multi-file tables, and holding the global
    * lock across it would serialize every concurrent Tables caller
    * behind that job); only lookup/hook/insert/evict hold the lock.
    * Two threads may race the same build — both produce equivalent
    * immutable plans and the first insert wins, so every caller shares
    * one instance afterwards. The insert-after-evict race stays closed:
    * `isStopped` is re-checked INSIDE the insert lock, and
    * SparkContext.stop() sets its stopped flag BEFORE posting
    * ApplicationEnd, so if the eviction sweep has already run the
    * stopped check must see it and the entry is never inserted.
    */
  private def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    synchronized((memo.get((spark, key)), evictEpoch)) match {
      case (Some(df), _) => df
      case (None, epoch0) =>
        val df = build
        synchronized {
          // Epoch check: an evictPath that ran while we were building
          // may have targeted OUR path — memoizing now would resurrect
          // a plan over the replaced files forever. Serve this result
          // un-memoized instead (evictions are rare; the next caller
          // rebuilds and memoizes cleanly).
          if (spark.sparkContext.isStopped || evictEpoch != epoch0) df
          else {
            if (hooked.add(spark)) {
              spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
                override def onApplicationEnd(
                    e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
                  Tables.synchronized {
                    memo.filterInPlace((k, _) => k._1 != spark)
                    hooked.remove(spark): Unit
                  }
              })
            }
            memo.getOrElseUpdate((spark, key), df)
          }
        }
    }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cached(spark, s"$sfDir/$name.parquet")(
      spark.read.parquet(s"$sfDir/$name.parquet"))

  /** Path-addressed variant for tables OUTSIDE the sfDir layout — the
    * materialized input tables under `Fs.stateRoot`. Same memo. The
    * stability assumption (content changes move the fingerprinted
    * path) has one exception: InputTable.invalidate + re-ensure
    * rebuilds AT the same path with fresh part-file names — those call
    * [[evictPath]] so a memoized plan never outlives its files.
    */
  def atPath(spark: SparkSession, path: String): DataFrame =
    cached(spark, path)(spark.read.parquet(path))

  /** Drop every session's memo for `path` (the rebuilt-in-place case
    * above). Cheap and exact: keys are full paths. Bumps the epoch so
    * an in-flight build over the old files cannot memoize afterwards.
    */
  private[graft] def evictPath(path: String): Unit = synchronized {
    memo.filterInPlace((k, _) => k._2 != path)
    evictEpoch += 1
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects. Sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[graft.Sessions]]),
    * so `ts` arrives as a LongType nanosecond count; normalize it back to
    * a proper TimestampType (microsecond truncation, exact here — the
    * generator emits whole microseconds).
    */
  def events(s: SparkSession, d: String): DataFrame = cached(s, s"$d/events.parquet#ts") {
    val raw = table(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  /** documents/embeddings feed CPU-heavy per-row kernels (shingling,
    * minhash, vector folds, codecs). The testdata files are single-row-
    * group parquet — ONE input split — so without an explicit repartition
    * every downstream map stage and nested-loop join runs in one task.
    * The shuffle is a few MB; the parallelism it buys is ×cores.
    *
    * CONDITIONAL: a real multi-file 100 TB layout already produces
    * thousands of scan splits, and an unconditional repartition(cores)
    * would then shuffle the whole corpus to SHRINK its parallelism. The
    * fan-out only fires when the scan has fewer partitions than cores —
    * on production layouts it is a true no-op (no shuffle at all).
    */
  private[graft] def fanOut(df: DataFrame, s: SparkSession): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }
  // fanOut's partition-count check costs another ~40 ms per call
  // (rdd lineage construction) — memoized with the read.
  def documents(s: SparkSession, d: String): DataFrame =
    cached(s, s"$d/documents.parquet#fanout")(fanOut(table(s, d, "documents"), s))
  def embeddings(s: SparkSession, d: String): DataFrame =
    cached(s, s"$d/embeddings.parquet#fanout")(fanOut(table(s, d, "embeddings"), s))
}
