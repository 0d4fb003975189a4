package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central drop-hook for the session-artifact program's caches (the
  * shared edge checkpoints, LM blocks, Lloyd/PQ fits, retrieval
  * frames, …): the COLD bench mode (`SPARK_GRAFT_COLD=1`) clears a
  * session's artifacts before each measured query, so the first-pass
  * price it records includes every one-time build the warm min-of-2
  * methodology structurally discards — the measured counterpart of
  * the `artifact_builds` sidecar's derived cold price (the r15
  * judge's cold-validation item).
  *
  * Clearing is safe by the caches' own read-only contract: consumers
  * never mutate cached frames, and every registered builder re-derives
  * a missing artifact on demand — a clear between two query builds can
  * only cost a rebuild, never change a result.
  */
object SessionCaches {

  /** Release whatever resource a dropped frame pins: the persist pin
    * if it has one, the checkpoint RDD if it is one — both are no-ops
    * otherwise.
    */
  private[graft] def releaseFrame(df: DataFrame): Unit = {
    df.unpersist(false)
    org.apache.spark.sql.GraftSql.releaseCheckpoint(df)
  }

  /** Drop (and release via `release`) every entry of `m` whose key
    * leads with `spark` — all artifact caches key (session, …).
    */
  private[graft] def dropSession[K <: Product, V](
      m: java.util.concurrent.ConcurrentHashMap[K, V], spark: SparkSession)(
      release: V => Unit): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.productElement(0).asInstanceOf[AnyRef] eq spark) {
        release(e.getValue)
        it.remove()
      }
    }
  }

  /** Drop every session artifact this session has built, across all
    * owning modules.
    */
  def clearAll(spark: SparkSession): Unit = {
    ext.Graph.clearSessionCaches(spark)
    ext.Cleaning.clearSessionCaches(spark)
    ext.Corpus.clearSessionCaches(spark)
    ext.Dedup.clearSessionCaches(spark)
    ext.Ingest.clearSessionCaches(spark)
    ext.TextAnalysis.clearSessionCaches(spark)
    ext.Similarity.clearSessionCaches(spark)
    ext.Clustering.clearSessionCaches(spark)
    ext.Search.clearSessionFrames(spark)
  }
}
