package graft.ext

import org.apache.spark.sql.{DataFrame, GraftSql, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** One-shot materialization of a derived table a streaming sink scores
  * every micro-batch against. A lazy DataFrame passed into a
  * foreachBatch closure is NOT frozen: each trigger re-runs its whole
  * lineage (and re-reads its source files, so the "static" table
  * silently tracks live data). `freeze` pins the semantics the sink
  * scaladocs promise — persist + count before the stream starts, so
  * every batch joins one precomputed, truly static table.
  *
  * Lifecycle: the cache is held for the stream's lifetime. Sinks pin
  * their frozen tables under a SCOPE (their checkpoint path — unique
  * per sink by Structured Streaming's own contract) via [[scoped]],
  * and the pins are released either
  *   - automatically, by installing [[autoRelease]] once per session —
  *     a StreamingQueryListener that maps each started query to its
  *     resolved checkpoint root and unpersists the scope's tables when
  *     the query terminates; or
  *   - manually, with `Freeze.release(checkpoint)` after
  *     `query.stop()`/`awaitTermination`.
  * Without either, the frames stay cached for the session (the
  * pre-release behavior; harmless for one-shot jobs, a leak for long
  * sessions cycling many sinks). A sink that was CONSTRUCTED but whose
  * stream never started (or whose `start()` threw) has no query to
  * terminate, so its pins still require a manual `release`.
  *
  * Scope keys are path-normalized ([[normalizeScope]]) so the string
  * the sink registered ("ckpt/", "file:/tmp/ckpt", a relative path)
  * and the string the releaser holds (the listener sees Spark's fully
  * qualified resolved checkpoint root) agree on one spelling — with
  * raw keys a differently-spelled release was a silent no-op.
  *
  * The sink runner: every micro-batch sink is [[sink]] over a
  * per-batch function, so the per-trigger mechanics live in one place
  * and cost a constant number of jobs whatever the function does:
  *   - the micro-batch is persisted once, and the empty check runs on
  *     the persisted frame, so the rows it reads land in the cache;
  *     every branch of the function then reads the cache, not the
  *     source; the batch is unpersisted in `finally`;
  *   - the function's top-level presentation sort is stripped
  *     ([[GraftSql.unordered]]): an append-mode file sink does not keep
  *     row order across batches;
  *   - `batch_id` comes from a one-row local frame joined on as a
  *     cartesian product, never from `lit(batchId)`. A literal is
  *     inlined into whole-stage generated code, so a new batch id would
  *     compile new code every trigger; a local frame's rows are data,
  *     and the cartesian join reads them inside the last stage without
  *     a broadcast job;
  *   - the result appends to `outPath` as parquet, `batch_id` last.
  */
object Freeze {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, List[DataFrame]]()

  def apply(df: DataFrame): DataFrame = {
    val pinned = df.persist()
    pinned.count()
    pinned
  }

  /** One canonical spelling per checkpoint location: `file:` URIs drop
    * their scheme, local paths absolutize + normalize (so relative vs
    * absolute, `.` segments, and trailing slashes all collapse), and
    * non-local URIs (hdfs://, s3a://) keep scheme + authority with only
    * the trailing-slash trim — their normalization belongs to the
    * filesystem, not this JVM's working directory. Two sinks
    * constructed with the same location therefore share a scope (and
    * are co-released) by DESIGN — checkpoint paths are unique per sink
    * by Structured Streaming's own contract.
    */
  private[ext] def normalizeScope(scope: String): String = {
    val uri =
      try new java.net.URI(scope)
      catch { case _: java.net.URISyntaxException => null }
    val scheme = if (uri == null) null else uri.getScheme
    if (scheme == null) {
      java.nio.file.Paths.get(scope).toAbsolutePath.normalize.toString
    } else if (scheme == "file") {
      java.nio.file.Paths.get(uri.getPath).toAbsolutePath.normalize.toString
    } else {
      scope.replaceAll("/+$", "")
    }
  }

  /** Freeze `df` and register the pinned frame under `scope` so
    * [[release]] can unpersist it once the scope's stream has stopped.
    */
  private[ext] def scoped(scope: String, df: DataFrame): DataFrame = {
    val pinned = apply(df)
    registry.merge(normalizeScope(scope), List(pinned),
      (older, newer) => newer ::: older)
    pinned
  }

  /** Unpersist every table frozen under `scope` (a sink's checkpoint
    * path). Call after `query.stop()`/`awaitTermination` — a running
    * stream would silently re-run the full lineage per trigger on a
    * released table. Idempotent; unknown scopes are a no-op.
    */
  def release(scope: String): Unit =
    Option(registry.remove(normalizeScope(scope)))
      .foreach(_.foreach(_.unpersist()))

  /** Scopes currently holding pins (normalized) — the leak audit hook
    * the listener test asserts empties out.
    */
  def pinnedScopes: Set[String] = {
    import scala.jdk.CollectionConverters._
    registry.keySet.asScala.toSet
  }

  // ------------------------------------------------- the sink runner

  /** The micro-batch sink runner (see the object scaladoc): `perBatch`
    * maps the persisted, non-empty micro-batch to its output rows; the
    * runner tags them with `batch_id` (LongType, non-nullable) and
    * appends them to `outPath`.
    */
  def sink(stream: DataFrame, outPath: String, checkpoint: String, triggerMs: Long)
          (perBatch: DataFrame => DataFrame): DataStreamWriter[Row] =
    taggedSink(stream, outPath, checkpoint, triggerMs)(
      (batch, tag) => GraftSql.unordered(perBatch(batch)).crossJoin(tag))

  /** [[sink]] for a sink that places the one-row tag frame itself
    * (`statsSink` puts it first and adds its timestamp to it).
    */
  private[graft] def taggedSink(stream: DataFrame, outPath: String,
                                checkpoint: String, triggerMs: Long)
                               (perBatch: (DataFrame, DataFrame) => DataFrame)
      : DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try {
          if (!cached.isEmpty)
            perBatch(cached, batchTag(cached.sparkSession, batchId))
              .write.mode("append").parquet(outPath)
        } finally cached.unpersist()
      }

  /** The one-row `batch_id` frame, hinted to join as a cartesian
    * product (see the object scaladoc).
    */
  private[graft] def batchTag(spark: SparkSession, batchId: Long): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(batchId)),
        StructType(Seq(StructField("batch_id", LongType, nullable = false))))
      .hint("shuffle_replicate_nl")

  // --------------------------------------------- automatic release

  private val installed =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
  private val queryScopes =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()

  /** Install (idempotently, once per session) a listener that releases
    * a sink's pinned tables when its streaming query terminates: at
    * query start — delivered synchronously with `start()` by the
    * listener contract, while the query is still registered in
    * `spark.streams` — the query's resolved checkpoint root is
    * captured per runId; at termination that scope is released.
    * Queries without a graft-frozen scope release nothing ([[release]]
    * is a no-op on unknown scopes).
    */
  def autoRelease(spark: SparkSession): Unit = synchronized {
    if (installed.add(spark)) {
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit =
          for {
            q <- Option(spark.streams.get(e.id))
            cp <- org.apache.spark.sql.GraftSql.checkpointOf(q)
          } queryScopes.put(e.runId, normalizeScope(cp))
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          Option(queryScopes.remove(e.runId)).foreach(release)
      })
    }
  }
}
