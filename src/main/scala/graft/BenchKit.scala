package graft

import org.apache.spark.sql.SparkSession

/** The ONE timing methodology shared by Bench and the diagnostic tools
  * (Probe/ScaleSmoke): noop-format write so every output column is
  * computed, min-of-2 for steady state, forced GC OUTSIDE the timed
  * window so a previous query's dead broadcasts/spill pages aren't
  * billed to this one. A methodology fix lands here once and every
  * consumer stays comparable.
  */
object BenchKit {

  /** One timed materialization of a named SparkEntry query. A query
    * that throws propagates: a failure is never a price.
    */
  def runOnce(spark: SparkSession, name: String, sfDir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Steady-state estimate: min of two runs, forced GC before EACH so
    * garbage from run A (dead broadcasts, spill pages) is never billed
    * to run B's timed window.
    */
  def best(spark: SparkSession, name: String, sfDir: String): Double = {
    System.gc()
    val a = runOnce(spark, name, sfDir)
    System.gc()
    val b = runOnce(spark, name, sfDir)
    math.min(a, b)
  }

  /** best() for an arbitrary DataFrame builder (diagnostic paths that
    * aren't registered SparkEntry queries, e.g. a forced fallback
    * variant) — same noop-write + GC + min-of-2 methodology.
    */
  def bestDf(build: () => org.apache.spark.sql.DataFrame): Double = {
    def once: Double = {
      System.gc()
      val t0 = System.nanoTime()
      build().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val a = once
    val b = once
    math.min(a, b)
  }

  /** Session warm-up (parquet footers, codegen, JVM) — not billed. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    runOnce(spark, "q_domain_stats", sfDir)
}
