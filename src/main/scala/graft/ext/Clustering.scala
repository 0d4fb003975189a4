package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionArtifact, Tables}

/** Distributed k-means over the embedding column — the corpus-clustering
  * step a training-data pipeline runs for curation at scale (cluster
  * then inspect/balance/dedup per cluster; SemDeDup and density-based
  * pruning both start from exactly this clustering).
  *
  * Contrast with [[Similarity.trainIvfCentroids]]: the IVF quantizer
  * deliberately trains on a BOUNDED driver-side sample (its model only
  * routes probes). This is the full-corpus Lloyd's iteration — every
  * vector votes in every round — for when cluster QUALITY is the
  * product, executed as Spark aggregations so it scales with the
  * cluster, not the driver.
  *
  * AUDIT-GRADE ARITHMETIC: the whole fit runs in integer MICRO-units —
  * each float coordinate snaps ONCE to floor(x·1e6 + 0.5) (a 1e-6
  * quantization, far below the embedding noise floor), distances are
  * exact BIGINT sums of squared integer deltas, and centroid updates
  * divide exact integer sums. Summation order therefore cannot perturb
  * anything: the fit is partitioning-independent, and the DuckDB
  * oracle replays every iteration bit-for-bit (the [[Graph]] /
  * [[Training]] exactness discipline applied to Lloyd's — round 13
  * flipped q_kmeans and q_cluster_prune from rows-only to full-oracle
  * with this). Magnitudes: |x| < 0.53 → coords < 2^20, per-pair
  * squared distance < 64·(2^21)² < 2^48, corpus inertia sums fit
  * BIGINT through ~2^15 larger corpora than sf0.1; beyond that the
  * same recurrence runs in DECIMAL.
  */
object Clustering {

  /** Shared with the DuckDB oracle builders in [[graft.SparkEntry]]
    * (one definition, no drift).
    */
  private[graft] val KmeansK = 8
  private[graft] val KmeansIters = 4
  private[graft] val PruneDropFrac = 0.25

  /** floor(x·1e6 + 0.5) per coordinate — the one lossy step. Shared
    * with [[Similarity]]'s integer-exact PQ family (one snap
    * definition, no drift).
    */
  private[ext] def snapVec(v: scala.collection.Seq[Float]): Array[Long] = {
    val out = new Array[Long](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = math.floor(v(i).toDouble * 1e6 + 0.5).toLong
      i += 1
    }
    out
  }

  /** Full-corpus Lloyd's k-means, distributed, integer micro-units:
    *
    *  - init: the snapped embeddings of the k smallest vec_ids
    *    (deterministic, no RNG — runs and replays agree; k rows
    *    collected).
    *  - assignment: nearest-centroid argmin as a narrow map over the
    *    corpus (broadcast k×dim longs in the UDF closure; exact BIGINT
    *    distances, ties to the lower cell).
    *  - update: per-(cell, dimension) BIGINT sums via posexplode + hash
    *    aggregation — map-side partials reduce every partition to
    *    ≤ k×dim rows BEFORE the exchange, so the shuffle carries
    *    O(k × dim × partitions) regardless of corpus size; the driver
    *    receives exactly k×dim (cell, dim, sum, count) rows per
    *    iteration (~a few KB), the textbook distributed-k-means sync.
    *    New centroid = floor(sum/count + 0.5) — snapped back to micro
    *    ints, so the next assignment is exact again.
    *
    * Cost: `iters` corpus passes + one k-row collect; per-iteration
    * driver traffic is k×dim longs. Empty cells keep their previous
    * centroid (no respawn — deterministic). This is an eager model-
    * fitting call (it RUNS Spark jobs), not a lazy query builder —
    * callers embedding it in a query ([[kmeansStats]]) pay the fit at
    * build time by design, exactly like [[Similarity.trainIvfCentroids]].
    */
  def kmeansCentroids(emb: DataFrame, k: Int = KmeansK,
                      iters: Int = KmeansIters): Array[Array[Long]] = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got $k, $iters")
    var cents: Array[Array[Long]] = emb.filter(col("embedding").isNotNull)
      .orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(r => snapVec(r.getSeq[Float](0)))
    require(cents.length == k, s"need >= $k non-null vectors, got ${cents.length}")
    for (_ <- 0 until iters) {
      val assigned = emb.filter(col("embedding").isNotNull)
        .select(assignUdf(cents)(col("embedding")).getField("_1").as("cell"),
          col("embedding"))
      val rows = assigned
        .select(col("cell"),
          posexplode(transform(col("embedding"),
            x => floor(x.cast("double") * lit(1e6) + lit(0.5)).cast("long")))
            .as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
        .collect()
      val next = cents.map(_.clone())
      rows.foreach { r =>
        val (cell, dim) = (r.getInt(0), r.getInt(1))
        next(cell)(dim) =
          math.floor(r.getLong(2).toDouble / r.getLong(3) + 0.5).toLong
      }
      cents = next
    }
    cents
  }

  /** Cluster-level audit of a fitted k-means: size, inertia (sum of
    * squared distances to the assigned centroid), and mean squared
    * distance per cluster — the numbers a curation pipeline reads to
    * pick which clusters to prune, balance, or inspect. One narrow
    * assignment map + one k-row aggregation. Inertia aggregates exact
    * BIGINT micro² distances; the ONLY float ops are the two per-group
    * divisions back to embedding units, 6-dp snapped — fully
    * oracle-replayed.
    */
  /** The session (dataset, k, iters) Lloyd fit — the
    * [[Similarity.knnGraph]] pin discipline one level down: q_kmeans
    * and q_cluster_prune consume the identical deterministic
    * centroids, so fitting twice per session buys nothing. k·dim longs
    * per entry, driver-held; a hit is bit-identical to a refit.
    */
  private val fits = SessionArtifact.value[(Int, Int), Array[Array[Long]]]("kmeans_fit") {
    case (spark, d, (k, iters)) => kmeansCentroids(Tables.embeddings(spark, d), k, iters)
  }

  private[ext] def fittedCentroids(spark: SparkSession, d: String,
                                   k: Int, iters: Int = KmeansIters): Array[Array[Long]] =
    fits(spark, d, (k, iters))

  def kmeansStats(spark: SparkSession, d: String,
                  k: Int = KmeansK, iters: Int = KmeansIters): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val cents = fittedCentroids(spark, d, k, iters)
    assigned(emb, cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("d2")).as("s"))
      .select(col("cluster"), col("n_vectors"),
        snap6(col("s").cast("double") / lit(1e12)).as("inertia"),
        snap6(col("s").cast("double") / col("n_vectors") / lit(1e12))
          .as("mean_sq_dist"))
      .orderBy(col("cluster"))
  }

  /** floor(x·1e6 + 0.5) / 1e6 — the 6-dp output snap (floor + 0.5, not
    * round: the HALF_UP/half-even tie rule differs between engines).
    */
  private def snap6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Cluster-based pruning (the D4 / SSL-prototypes curation move,
    * Tirumala et al. 2023): within each k-means cluster, DROP the most
    * prototypical `dropFrac` of vectors — the ones closest to their
    * centroid carry the least marginal information, so pruning them
    * first preserves diversity at a given data budget (the opposite
    * keep-rule of [[Similarity.semanticDedup]], which drops near-DUPS;
    * the two compose: dedup first, then density-prune).
    *
    * Drop rule: rank within cluster by (squared distance ASC, vec_id)
    * and drop ranks <= floor(dropFrac × cluster size) — deterministic,
    * no RNG, exact per-cluster proportions (the integer distances make
    * the rank itself exact). Output is the per-cluster audit (sizes,
    * drops, the distance at the cut) plus totals a pipeline uses to
    * confirm the prune hit its budget.
    *
    * Scale shape: assignment + distance are the narrow map; ranking is
    * ONE window shuffle keyed on the cluster id over (cluster, d2,
    * vec_id) rows — 24 bytes per VECTOR, not per dimension. With k
    * clusters over a 100 TB corpus the window partitions are corpus/k
    * sized; derive k from corpus size (as semantic dedup derives nlist)
    * if a single cluster would exceed a task's memory for the sort.
    */
  def clusterPrune(spark: SparkSession, d: String,
                   k: Int = KmeansK, iters: Int = KmeansIters,
                   dropFrac: Double = PruneDropFrac): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac <= 1.0, s"dropFrac in [0,1], got $dropFrac")
    val emb = Tables.embeddings(spark, d)
    val cents = fittedCentroids(spark, d, k, iters)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("d2").asc, col("vec_id").asc)
    assigned(emb, cents, keepId = true)
      .withColumn("rk", row_number().over(w))
      .withColumn("cluster_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))))
      .withColumn("dropped", col("rk") <= floor(lit(dropFrac) * col("cluster_n")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("dropped").cast("long")).as("n_dropped"),
        max(when(col("dropped"), col("d2"))).as("cut"),
        sum(col("d2")).as("s"))
      .select(col("cluster"), col("n_vectors"), col("n_dropped"),
        snap6(col("cut").cast("double") / lit(1e12)).as("cut_d2"),
        snap6(col("s").cast("double") / col("n_vectors") / lit(1e12))
          .as("mean_d2"))
      .orderBy(col("cluster"))
  }

  /** Streaming assignment monitor (foreachBatch stage): score each
    * micro-batch of vectors against a FIXED fitted model (the
    * train-offline / serve-online split every production clusterer
    * uses) and append the per-batch cell histogram — cell, count, mean
    * squared distance — tagged with the batch id. A shift in this
    * histogram over batches is the drift alarm that triggers a re-fit.
    * Assignment is per-vector (narrow map, no cross-batch state), so
    * the batch-mode histogram on the same vectors equals the
    * column-wise union of per-batch histograms (asserted in
    * StreamingSpec) — the batch/streaming symmetry contract.
    */
  def assignmentSink(vecStream: DataFrame, cents: Array[Array[Long]],
                     outPath: String, checkpoint: String,
                     triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Freeze.sink(vecStream, outPath, checkpoint, triggerMs) { batch =>
      batchHistogram(batch, cents)
    }

  /** Cell histogram of one (vec_id, embedding) frame under fixed
    * centroids — shared by [[assignmentSink]] and its batch-parity test.
    */
  def batchHistogram(vecs: DataFrame, cents: Array[Array[Long]]): DataFrame =
    assigned(vecs, cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("d2")).as("s"))
      .select(col("cluster"), col("n_vectors"),
        snap6(col("s").cast("double") / col("n_vectors") / lit(1e12))
          .as("mean_sq_dist"))

  /** (cluster, d2) assignment frame under fixed centroids — ONE fused
    * kernel pass (argmin cell and its squared distance fall out of the
    * same centroid loop; separate cell/distance UDFs would double the
    * dominant O(k×dim) per-vector cost of every consumer). d2 is the
    * exact BIGINT micro² distance.
    */
  /** (vec_id, cell) under a fitted centroid set — the narrow assignment
    * projection [[Similarity.qualityPropagationDf]] buckets its kNN
    * candidates with (exact integer argmin, ties to the lower cell —
    * the oracle's kfa CTE replays it bit-for-bit).
    */
  private[ext] def cellAssignments(vecs: DataFrame,
                                   cents: Array[Array[Long]]): DataFrame =
    assigned(vecs, cents, keepId = true)
      .select(col("vec_id"), col("cluster").as("cell"))

  private def assigned(vecs: DataFrame, cents: Array[Array[Long]],
                       keepId: Boolean = false): DataFrame = {
    val a = assignUdf(cents)(col("embedding"))
    val base = vecs.filter(col("embedding").isNotNull)
    if (keepId)
      base.select(col("vec_id"), a.getField("_1").as("cluster"),
        a.getField("_2").as("d2"))
    else
      base.select(a.getField("_1").as("cluster"), a.getField("_2").as("d2"))
  }

  /** The `nprobe` nearest cells per vector under the same exact
    * (d2, cell) order as [[assignUdf]] — one (vec_id, probe_cell) row
    * per probe. [[Similarity.knnGraphDf]] fans its candidate lookups
    * out over these; the oracle's kpb CTE replays the ranking
    * bit-for-bit (ROW_NUMBER over (d2, cell) on the kfd table).
    */
  private[ext] def probeAssignments(vecs: DataFrame,
                                    cents: Array[Array[Long]],
                                    nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"need nprobe >= 1, got $nprobe")
    val p = probeUdf(cents, nprobe)(col("embedding"))
    vecs.filter(col("embedding").isNotNull)
      .select(col("vec_id"), explode(p).as("probe_cell"))
  }

  /** [[probeAssignments]] with the probe RANK kept (1-based position
    * in the same exact (d2, cell) order) — one scored pass can then
    * serve every nprobe setting of a tuning grid by filtering
    * `prank <= nprobe` ([[Similarity.annTuningCurve]]); the oracle
    * replays the rank as ROW_NUMBER over (d2, cell) on the kfd table.
    */
  private[ext] def probeAssignmentsRanked(vecs: DataFrame,
                                          cents: Array[Array[Long]],
                                          nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"need nprobe >= 1, got $nprobe")
    val p = probeUdf(cents, nprobe)(col("embedding"))
    vecs.filter(col("embedding").isNotNull)
      .select(col("vec_id"), posexplode(p).as(Seq("pos", "probe_cell")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("prank"),
        col("probe_cell"))
  }

  /** The nprobe-smallest (d2, cell) cells as an ordered array — the
    * multi-probe sibling of [[assignUdf]]'s argmin, same exact-BIGINT
    * distances, same lower-cell tie rule (insertion keeps the first
    * cell hit at equal d2 ahead, matching the (d2, cell) total order
    * because cells scan in ascending order).
    */
  private def probeUdf(cents: Array[Array[Long]], nprobe: Int) =
    udf { v: scala.collection.Seq[Float] =>
      val xi = snapVec(v)
      val k = math.min(nprobe, cents.length)
      val bd = Array.fill(k)(Long.MaxValue)
      val bc = Array.fill(k)(-1)
      var c = 0
      while (c < cents.length) {
        val ctr = cents(c)
        var d = 0L
        var i = 0
        val n = math.min(ctr.length, xi.length)
        while (i < n) { val x = xi(i) - ctr(i); d += x * x; i += 1 }
        // insert (d, c) if it beats the current k-th; strict < keeps
        // the earlier (lower) cell on ties
        var j = k - 1
        if (d < bd(j)) {
          while (j > 0 && d < bd(j - 1)) { bd(j) = bd(j - 1); bc(j) = bc(j - 1); j -= 1 }
          bd(j) = d; bc(j) = c
        }
        c += 1
      }
      bc.filter(_ >= 0)
    }

  /** Fused nearest-centroid kernel: (argmin cell, squared micro²
    * distance) in one exact-BIGINT loop over the centroids (ties to
    * the lower cell — strict `<`).
    */
  private def assignUdf(cents: Array[Array[Long]]) =
    udf { v: scala.collection.Seq[Float] =>
      val xi = snapVec(v)
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < cents.length) {
        val ctr = cents(c)
        var d = 0L
        var i = 0
        val n = math.min(ctr.length, xi.length)
        while (i < n) { val x = xi(i) - ctr(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      (best, bestD)
    }
}
