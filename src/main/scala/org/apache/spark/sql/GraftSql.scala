package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column ↔ Expression converters, so graft's
  * native Catalyst expressions can surface as Columns (the supported
  * extension seam for libraries adding codegen'd expressions).
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (the seam custom operators use
    * to surface their plan nodes).
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A Scala UDF as a catalyst ScalaUDF expression — what a function-
    * registry builder must return (a Column-API wrapper would embed an
    * Unevaluable column node in SQL-originated plans).
    */
  def scalaUdfExpression(
      f: org.apache.spark.sql.expressions.UserDefinedFunction,
      args: Seq[Expression]): Expression =
    classic.UserDefinedFunctionUtils.toScalaUDF(
      f.asInstanceOf[org.apache.spark.sql.expressions.SparkUserDefinedFunction], args)

  /** The resolved checkpoint root of a running streaming query — the
    * scope key a lifecycle listener needs to release per-sink pinned
    * resources at termination (the terminated event itself carries only
    * ids). Private[sql] surface: the classic StreamingQueryWrapper →
    * StreamExecution path; non-classic query objects yield None.
    */
  def checkpointOf(q: org.apache.spark.sql.streaming.StreamingQuery): Option[String] =
    q match {
      case w: execution.streaming.runtime.StreamingQueryWrapper =>
        Some(w.streamingQuery.resolvedCheckpointRoot)
      case _ => None
    }

  /** Run `body` on this thread and count the Spark jobs it started.
    * Jobs are recognised by a local property set for the call, so jobs
    * that other threads start meanwhile are not counted; the count is
    * read after the listener bus has delivered every event posted so
    * far.
    */
  def jobsStartedBy[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.jobsStartedBy"
    val token = java.util.UUID.randomUUID.toString
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == token)) started.incrementAndGet()
    }
    val outer = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, token)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, started.get)
    } finally {
      sc.setLocalProperty(key, outer)
      sc.removeSparkListener(listener)
    }
  }

  /** The id of the RDD holding a persisted frame's cached blocks, if
    * the frame is in the session's cache.
    */
  def cachedRddId(df: DataFrame): Option[Int] =
    df.sparkSession.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)

  /** The same frame minus a TOP-LEVEL global Sort, if one is present.
    *
    * Batch entry points end with a presentation `orderBy`; reused
    * inside a foreachBatch sink, that global sort makes every
    * micro-batch pay a range-partitioning sample job plus a full sort
    * for an ordering an append-mode file sink does not preserve across
    * batches anyway. Stripping the one analyzed-plan Sort node keeps
    * sink results row-identical to the batch form (same lineage, same
    * values) without maintaining parallel unordered variants that
    * could drift.
    */
  def unordered(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global =>
        ofRows(df.sparkSession, s.child)
      case _ => df
    }

  /** Unpersist the RDD behind an eager `localCheckpoint()` result.
    *
    * `Dataset.unpersist` is a no-op on checkpointed frames (the RDD is
    * pinned by the checkpoint, not the cache manager), so iterative
    * loops that checkpoint per round — the GraphX discipline — leak one
    * persisted per-node table per iteration for the session's lifetime:
    * real executor storage at frontier scale. Matches ONLY a frame
    * whose analyzed plan IS the checkpoint's `LogicalRDD` leaf (the
    * exact shape `localCheckpoint` returns) — a derived frame that
    * merely CONTAINS checkpoint leaves (e.g. anything joining the
    * loop's edge table) is left alone, so a release can never reach
    * through a projection and kill a sibling's live state.
    *
    * Only for checkpoints that are DEAD — fully consumed by a later
    * eager materialization (the next round's checkpoint, a Freeze
    * pin). The released RDD has no lineage to recompute from; that is
    * the same recompute-on-loss trade `localCheckpoint` itself makes.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** An eager `localCheckpoint()` that PRESERVES a keyed layout in the
    * plan: repartitions by `keys` into the session's shuffle-partition
    * count, sorts each partition by the same keys, checkpoints the
    * rows, and stamps the resulting `LogicalRDD` with the
    * `HashPartitioning` + `SortOrder` the shuffle just established.
    *
    * The partition count is DERIVED FROM THE DATA (rows /
    * [[KeyedCheckpointRowsPerPartition]], capped at the session's
    * shuffle-partition conf) — scale-adaptive, never a constant tuned
    * for either local mode or the cluster.
    *
    * Why this exists: under AQE, `Dataset.localCheckpoint()` records
    * `UnknownPartitioning` on the checkpoint it returns (the adaptive
    * physical plan's partitioning is not resolved when the `LogicalRDD`
    * is built — measured on Spark 4.1.2, even for an explicit
    * `repartition(n, key)` input). Every downstream keyed aggregate or
    * sort-merge join therefore RE-EXCHANGES a frame whose physical
    * layout is already exactly right; the iterative graph loops pay
    * that |E|-sized exchange once per round. This helper is the manual
    * form of a bucketed table for a session-lifetime frame: establish
    * the partitioning once (guide: share one exchange across
    * same-keyed operations), and declare it so the planner can elide
    * the per-round exchange AND the per-round sort on this side.
    *
    * Correctness: the stamp only asserts what the pinned-count
    * repartition + in-partition sort physically did. An explicit
    * `repartition(n, keys)` is exempt from AQE partition coalescing,
    * and the checkpointed RDD is immutable, so the declared layout
    * cannot drift from the data; the partition count is asserted
    * before stamping (fail loud, never a silent wrong-placement stamp).
    * Row VALUES are untouched — callers' results change only if they
    * depended on partitioning of an unordered intermediate, which the
    * engine's exact-integer discipline forbids.
    *
    * Release with [[releaseCheckpoint]], exactly like a plain eager
    * `localCheckpoint()` result (the analyzed plan IS a `LogicalRDD`
    * leaf).
    */
  /** Rows per stamped partition. The partition COUNT is derived from
    * the data (rows / this, capped at the session's shuffle-partition
    * conf), so the layout is scale-adaptive: small local frames land on
    * a handful of partitions, a cluster-scale frame fans out to the
    * configured shuffle width (the conf is the cluster-sizing knob; at
    * 100 TB the cap always binds and this constant is irrelevant). A
    * fixed count = shuffle.partitions was measured 15–75% SLOWER at
    * sf0.1 (32 near-empty tasks per round across every loop stage —
    * the "constant tuned for the cluster" trap). The target is
    * deliberately SMALLER than a shuffle-sizing target (100 MB–1 GB):
    * these frames are read IN PLACE by every loop round — never
    * re-shuffled, that being the point of the stamp — so partition
    * size trades per-round compute parallelism against per-task
    * overhead only; 200k rows/task was measured better than 2M on the
    * compute-heavy textrank co-occurrence frame (1-partition rounds
    * serialized its per-round aggregate: 3.66 → 4.36 s, recovered by
    * the smaller target) while the tiny rank-family frames are
    * unaffected (1–2 partitions either way).
    */
  private val KeyedCheckpointRowsPerPartition = 200L * 1000

  def localCheckpointKeyedBy(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "localCheckpointKeyedBy needs at least one key")
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val cap = spark.sessionState.conf.numShufflePartitions
    // pass 1: pin the rows once (the frame was about to be checkpointed
    // anyway) and learn the size in the same job, so the keyed shuffle
    // below reads memory and the partition count can be derived from
    // the data. This is Dataset.localCheckpoint(eager = true) spelled
    // out: its materializing count IS the row count, where a separate
    // `count()` of the checkpoint would start two more jobs under AQE.
    val in = df.queryExecution
    val pinned = in.toRdd.map(_.copy())
    pinned.localCheckpoint()
    val rows = pinned.count()
    val scratch = classic.Dataset.ofRows(spark,
      execution.LogicalRDD(in.analyzed.output, pinned)(
        spark, Some(in.optimizedPlan.stats), None))
    // an EMPTY frame cannot be stamped: AQE collapses its repartition
    // to a 0-partition empty relation, so there is no physical layout
    // to declare (the SCC peel's last live subgraph hits this). The
    // plain eager checkpoint is already the right shape — nothing to
    // co-partition against zero rows.
    if (rows == 0L) return scratch
    val n = math.max(1L, math.min(cap.toLong,
      (rows + KeyedCheckpointRowsPerPartition - 1) /
        KeyedCheckpointRowsPerPartition)).toInt
    val laidOut = scratch
      .repartition(n, keys.map(scratch.col): _*)
      .sortWithinPartitions(keys.map(scratch.col): _*)
      .asInstanceOf[classic.Dataset[Row]]
    val qe = laidOut.queryExecution
    // materialize + pin, as Dataset.localCheckpoint(eager = true) does
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    rdd.count()
    releaseCheckpoint(scratch) // the stamped RDD is materialized; the
                               // scratch pin has no reader left
    require(rdd.getNumPartitions == n,
      s"keyed checkpoint expected $n partitions, got ${rdd.getNumPartitions} — " +
        "refusing to stamp a partitioning the data does not have")
    val output = qe.analyzed.output
    val resolver = spark.sessionState.analyzer.resolver
    val keyAttrs = keys.map(k => output.find(a => resolver(a.name, k)).getOrElse(
      throw new IllegalArgumentException(
        s"key $k not among output columns ${output.map(_.name).mkString(", ")}")))
    val partitioning =
      catalyst.plans.physical.HashPartitioning(keyAttrs, n)
    val ordering = keyAttrs.map(a => catalyst.expressions.SortOrder(
      a, catalyst.expressions.Ascending))
    classic.Dataset.ofRows(spark,
      execution.LogicalRDD(output, rdd, partitioning, ordering,
        isStreaming = false, None)(spark, None, None))
  }

  /** Register a builder-based SQL function into a RUNNING session's
    * function registry (the extensions path only applies at session
    * construction).
    */
  def registerFunction(
      spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)
}
