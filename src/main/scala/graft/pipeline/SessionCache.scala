package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped materialized intermediates: the pattern a real pipeline
  * uses for a stage consumed by several downstream jobs. Compute-if-absent
  * with PER-ENTRY build locking: the global map lock is held only for the
  * entry lookup/insert, never across a build — builds now run whole Spark
  * jobs (q55's iterative label propagation, the tiled DBSCAN merge), and
  * holding one global lock for a multi-minute job would block every other
  * session's getOrPersist, release(), and the listener-bus thread
  * delivering application-end cleanup. Concurrent first accesses of the
  * SAME key serialize on that entry's lazy initializer (exactly one build
  * runs); different keys build in parallel.
  *
  * Entries evict when the owning context ends, so a long-lived JVM
  * cycling sessions doesn't retain stale SparkSession references.
  *
  * Entries can also be released EARLY via [[release]] once their last
  * consumer has materialized — a long-lived 100 TB session must not
  * accumulate one persisted relation per pipeline stage for its whole
  * life. Release is purely a storage knob: a consumer arriving after a
  * release simply rebuilds the entry through [[getOrPersist]], so a wrong
  * release point costs recompute, never correctness. Query definitions
  * declare their release points ([[graft.queries.QueryDef]]) and
  * [[graft.queries.Registry.sweep]] fires them after each query's
  * action completes — releasing mid-plan would drop storage a pending
  * lazy consumer was counting on. Releasing a key whose build is still
  * in flight is also safe: the builder detects the removal when it
  * finishes and unpersists its own result.
  */
object SessionCache {

  /** One cache slot; the lazy val is the per-entry build lock. */
  private final class Entry(key: (SparkSession, String), build: () => DataFrame) {
    @volatile private[SessionCache] var built: DataFrame = _
    lazy val df: DataFrame = {
      val t0 = System.nanoTime()
      val d = build()
      // A build block may hand back an already-persisted (even
      // materialized) relation when it manages its own intermediate
      // lifecycle (q55); persisting again would only log a warning.
      val p =
        if (d.storageLevel == org.apache.spark.storage.StorageLevel.NONE) d.persist()
        else d
      // Eager materialization, timed: one job computes every cache batch
      // of the relation NOW (plus one per exchange inside the build's
      // own plan), so the build cost lands in this getOrPersist call —
      // attributable to the consumer that triggered it — instead of
      // dissolving into the first downstream action's kernel time
      // (VERDICT r11 #7: q41's 0.16↔2.27 s cross-round swing was pure
      // sweep-order cache accounting). A relation whose batches are
      // already loaded (q55 persists and fills its own) runs no job.
      // Total work is unchanged — the first consumer previously paid
      // the same materialization inside its own job; its read now comes
      // from the in-memory columnar batches instead.
      org.apache.spark.sql.graft.CachedRelations.load(p)
      recordBuild(key, (System.nanoTime() - t0) / 1000000L)
      built = p
      // If release() removed this entry while the build was running,
      // nobody will ever unpersist it — do it here, UNLESS a successor
      // entry for the same key already exists: same-key builds produce
      // sameResult plans, which share ONE CacheManager entry, so
      // unpersisting the orphan would strip the live successor's
      // storage too (liveKeys would still report it cached while every
      // consumer recomputes). The caller still gets a valid relation
      // either way. Residual edge: if the successor's build THROWS and
      // no consumer ever re-requests the key, the orphan's storage
      // stays until application end — self-healing otherwise, because
      // a thrown lazy initializer reruns on the next access, and that
      // successor's eventual release unpersists the shared entry.
      SessionCache.synchronized {
        if (cache.get(key).isEmpty) p.unpersist(blocking = false)
      }
      p
    }
  }

  /** Driver-side non-DataFrame artifact (a corpus bloom filter, a fitted
    * set of anchors): same compute-if-absent + per-entry build locking as
    * [[Entry]], minus persist/unpersist — the value is a plain JVM object
    * the session owns until release or application end. Builds still run
    * Spark jobs (q57's bloom is a treeAggregate over the corpus), so the
    * build must not hold the global lock, and its wall cost records into
    * the same buildLog so Bench attributes it as `cache_build_ms` exactly
    * like a DataFrame cache build.
    */
  private final class ValueEntry(key: (SparkSession, String), build: () => AnyRef) {
    lazy val value: AnyRef = {
      val t0 = System.nanoTime()
      val v = build()
      recordBuild(key, (System.nanoTime() - t0) / 1000000L)
      v
    }
  }

  private val cache =
    scala.collection.mutable.Map.empty[(SparkSession, String), Entry]
  private val values =
    scala.collection.mutable.Map.empty[(SparkSession, String), ValueEntry]
  private val hooked =
    scala.collection.mutable.Set.empty[SparkSession]

  /** Undrained per-session build log: key → wall ms spent constructing,
    * persisting, and eagerly materializing the entry. Bench drains it
    * after each timed query to attribute cache builds to the query that
    * paid them (the BENCH artifact's `cache_build_ms`).
    */
  private val buildLog =
    scala.collection.mutable.Map.empty[(SparkSession, String), Long]

  private def recordBuild(key: (SparkSession, String), ms: Long): Unit =
    synchronized { buildLog(key) = buildLog.getOrElse(key, 0L) + ms }

  /** Remove and return this session's accumulated (key, build ms) pairs
    * since the last drain. */
  def drainBuildLog(spark: SparkSession): Seq[(String, Long)] = synchronized {
    val mine = buildLog.keysIterator.filter(_._1 eq spark).toSeq
    val out = mine.map(k => (k._2, buildLog(k)))
    buildLog --= mine
    out
  }

  private def hookSession(spark: SparkSession): Unit =
    if (hooked.add(spark)) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          SessionCache.synchronized {
            cache.filterInPlace((k, _) => k._1 != spark)
            values.filterInPlace((k, _) => k._1 != spark)
            buildLog.filterInPlace((k, _) => k._1 != spark)
            hooked.remove(spark)
          }
      })
    }

  def getOrPersist(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val entry = synchronized {
      hookSession(spark)
      cache.getOrElseUpdate((spark, key), new Entry((spark, key), () => build))
    }
    entry.df // may build; serializes per entry, not globally
  }

  /** Compute-if-absent for a driver-side artifact (bloom filter, fitted
    * anchors): one build per (session, key), released by the same
    * [[release]] path as DataFrame entries. At 100 TB this is the "one
    * persisted bloom per corpus version" shape — the filter is built
    * once against a corpus identity key and every incremental batch
    * probes it, instead of re-aggregating the corpus per run.
    */
  def getOrBuildValue[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    val entry = synchronized {
      hookSession(spark)
      values.getOrElseUpdate((spark, key), new ValueEntry((spark, key), () => build))
    }
    entry.value.asInstanceOf[T]
  }

  /** Drop an entry and unpersist its storage (no-op for absent keys;
    * an in-flight build unpersists itself on completion).
    */
  def release(spark: SparkSession, key: String): Unit = synchronized {
    cache.remove((spark, key)).foreach { e =>
      val d = e.built
      if (d != null) d.unpersist(blocking = false)
    }
    values.remove((spark, key)) // plain object: dropping the ref suffices
  }

  /** Live entry keys for a session — spec hook for bounded-storage
    * assertions during a full Registry sweep.
    */
  def liveKeys(spark: SparkSession): Set[String] = synchronized {
    (cache.keysIterator ++ values.keysIterator)
      .filter(_._1 eq spark).map(_._2).toSet
  }

  /** Drop `key` for EVERY live session. The input-table rebuilt-in-place
    * case: the table's files changed identity under the same path, so
    * any session's entry caching a scan of them is stale — consumers
    * rebuild through [[getOrPersist]] against the current files.
    * Residual edge (same family as Entry.df's release-during-build
    * note): a build in flight DURING this call completes over the old
    * files, and because its plan is NOT sameResult with the successor's
    * (different file listing), its self-unpersist guard retains the
    * orphan's storage until application end — bounded at one stale
    * entry per replace, and a replace only happens through
    * invalidate/ensure, which the harnesses run between sweeps, not
    * under live queries.
    */
  def releaseAll(key: String): Unit = synchronized {
    cache.filterInPlace { case ((_, k), e) =>
      if (k == key) {
        val d = e.built
        if (d != null) d.unpersist(blocking = false)
        false
      } else true
    }
    // Value entries share the release contract (ADVICE r13 #2): a table
    // rebuilt in place invalidates derived driver-side artifacts (the
    // corpus bloom, the fitted SRP arm) exactly as it invalidates cached
    // scans — a same-keyed value surviving here would serve stale
    // corpus state to every later session.
    values.filterInPlace { case ((_, k), _) => k != key }
  }
}
