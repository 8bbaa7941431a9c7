package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame

/** The cache-manager calls Spark keeps package-private. */
object CachedRelations {

  /** Fills the cached batches of `df`'s persisted relation with one job,
    * the one that computes them; no-op when they are already loaded or
    * `df` is not persisted.
    */
  def load(df: DataFrame): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
      .filterNot(_.isCachedColumnBuffersLoaded)
      .foreach(_.cachedColumnBuffers.count())
  }
}
