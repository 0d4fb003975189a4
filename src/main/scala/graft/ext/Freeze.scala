package graft.ext

import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftSql, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, Project, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** One-shot materialization of a derived table a streaming sink scores
  * every micro-batch against. A lazy DataFrame passed into a
  * foreachBatch closure is NOT frozen: each trigger re-runs its whole
  * lineage (and re-reads its source files, so the "static" table
  * silently tracks live data). [[scoped]] pins the semantics the sink
  * scaladocs promise — persist + count before the stream starts
  * ([[graft.SessionArtifact.Pin.Persist]]), so every batch joins one
  * precomputed, truly static table.
  *
  * Lifecycle: the pins are held for the stream's lifetime. Sinks pin
  * their frozen tables ([[scoped]]) and broadcast values
  * ([[scopedBroadcast]]) under a SCOPE (their checkpoint path — unique
  * per sink by Structured Streaming's own contract), and the pins are
  * released — frames unpersisted, broadcasts destroyed — either
  *   - automatically, by installing [[autoRelease]] once per session —
  *     a StreamingQueryListener that maps each started query to its
  *     resolved checkpoint root and releases the scope when the query
  *     terminates; or
  *   - manually, with `Freeze.release(checkpoint)` after
  *     `query.stop()`/`awaitTermination`.
  * Without either, the pins stay for the session (the pre-release
  * behavior; harmless for one-shot jobs, a leak for long sessions
  * cycling many sinks). A sink that was CONSTRUCTED but whose stream
  * never started (or whose `start()` threw) has no query to terminate,
  * so its pins still require a manual `release`. [[pins]] and
  * [[pinnedBytes]] report what each scope holds.
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
  *   - plan once: at sink construction the function is called ONCE,
  *     over a stand-in leaf ([[BatchSlot]]) with the stream's schema,
  *     and the analyzed plan is kept. Building it must start no Spark
  *     job, and the stand-in has no rows or statistics, so a function
  *     that runs an action or reads the batch's size fails here, at
  *     construction;
  *   - swap per trigger: every stand-in occurrence (the analyzer gives
  *     each use of the batch its own attribute ids, e.g. one per union
  *     branch) is replaced by the persisted batch's plan under a
  *     projection onto that occurrence's ids, and the tag stand-in by
  *     the one-row tag. Only the copied spine is analyzed again. The
  *     batch's schema must equal the stream's, or the trigger fails;
  *   - the micro-batch is persisted once, and the empty check runs on
  *     the persisted frame, so the rows it reads land in the cache;
  *     every branch of the plan then reads the cache, not the source;
  *     the batch is unpersisted in `finally`;
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

  /** One resource a scope holds until [[release]]. `bytes` is what it
    * keeps resident: a frozen frame's cached blocks (memory + disk), or
    * a broadcast value's estimated in-memory size.
    */
  sealed trait Pin {
    def bytes: Long
    private[Freeze] def release(): Unit
  }

  final case class FramePin(frame: DataFrame) extends Pin {
    def bytes: Long =
      GraftSql.cachedRddId(frame).flatMap(id =>
        frame.sparkSession.sparkContext.getRDDStorageInfo.find(_.id == id))
        .map(r => r.memSize + r.diskSize).getOrElse(0L)
    private[Freeze] def release(): Unit = frame.unpersist()
  }

  final case class BroadcastPin(value: Broadcast[_], bytes: Long) extends Pin {
    private[Freeze] def release(): Unit = value.destroy()
  }

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, List[Pin]]()

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

  private def register(scope: String, pin: Pin): Unit =
    registry.merge(normalizeScope(scope), List(pin), (older, newer) => newer ::: older)

  /** Freeze `df` and register the pinned frame under `scope` so
    * [[release]] can unpersist it once the scope's stream has stopped.
    */
  private[ext] def scoped(scope: String, df: DataFrame): DataFrame = {
    val pinned = graft.SessionArtifact.Pin.Persist(df)
    register(scope, FramePin(pinned))
    pinned
  }

  /** Broadcast `value` once and register it under `scope` so
    * [[release]] destroys it once the scope's stream has stopped: the
    * form for a small static table a sink looks values up in, so no
    * trigger moves it again.
    */
  private[ext] def scopedBroadcast[T <: AnyRef : ClassTag](scope: String, spark: SparkSession,
                                                           value: T): Broadcast[T] = {
    val shared = spark.sparkContext.broadcast(value)
    register(scope, BroadcastPin(shared, org.apache.spark.util.SizeEstimator.estimate(value)))
    shared
  }

  /** Release every pin held under `scope` (a sink's checkpoint path):
    * unpersist its frames, destroy its broadcasts. Call after
    * `query.stop()`/`awaitTermination` — a running stream would
    * silently re-run the full lineage per trigger on a released table.
    * Idempotent; unknown scopes are a no-op.
    */
  def release(scope: String): Unit =
    Option(registry.remove(normalizeScope(scope))).foreach(_.foreach(_.release()))

  /** Scopes currently holding pins (normalized) — the leak audit hook
    * the listener test asserts empties out.
    */
  def pinnedScopes: Set[String] = {
    import scala.jdk.CollectionConverters._
    registry.keySet.asScala.toSet
  }

  /** The pins `scope` holds, newest first; empty once released. */
  def pins(scope: String): Seq[Pin] =
    Option(registry.get(normalizeScope(scope))).getOrElse(Nil)

  /** Resident bytes per pinned scope: the storage bytes of its frozen
    * frames plus the estimated size of its broadcasts.
    */
  def pinnedBytes: Map[String, Long] =
    pinnedScopes.map(s => s -> pins(s).map(_.bytes).sum).toMap

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
      : DataStreamWriter[Row] = {
    val plan = planOnce(stream, checkpoint)(perBatch)
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try {
          if (!cached.isEmpty)
            plan(cached, batchId).write.mode("append").parquet(outPath)
        } finally cached.unpersist()
      }
  }

  private val TagSchema = StructType(Seq(StructField("batch_id", LongType, nullable = false)))

  /** The one-row `batch_id` frame, hinted to join as a cartesian
    * product (see the object scaladoc).
    */
  private[graft] def batchTag(spark: SparkSession, batchId: Long): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(batchId)), TagSchema)
      .hint("shuffle_replicate_nl")

  /** The stand-in for a sink's micro-batch (`slot` "batch") or its tag
    * frame ("tag") in the plan the runner builds once per query (see
    * the object scaladoc). It is never planned: every trigger swaps
    * each occurrence for real rows. It has no statistics, so a
    * per-batch function cannot pick its plan by the batch's size.
    */
  private[graft] final case class BatchSlot(slot: String, output: Seq[Attribute])
      extends LeafNode with MultiInstanceRelation {
    override def newInstance(): BatchSlot = copy(output = output.map(_.newInstance()))
    override def computeStats(): Statistics = throw new IllegalStateException(
      s"the $slot stand-in of a micro-batch sink has no statistics")
  }

  /** Whether `df` reads a micro-batch stand-in, i.e. is being built
    * as part of a sink's per-batch plan.
    */
  private[graft] def readsMicroBatch(df: DataFrame): Boolean =
    GraftSql.analyzedPlan(df).exists(_.isInstanceOf[BatchSlot])

  /** Build a sink's per-batch plan once, over [[BatchSlot]]s, and
    * return the per-trigger swap that puts a persisted batch and its id
    * in their place (see the object scaladoc).
    */
  private def planOnce(stream: DataFrame, checkpoint: String)
                      (perBatch: (DataFrame, DataFrame) => DataFrame)
      : (DataFrame, Long) => DataFrame = {
    val spark = stream.sparkSession
    val schema = stream.schema
    def slot(name: String, of: StructType): DataFrame =
      GraftSql.ofRows(spark, BatchSlot(name, DataTypeUtils.toAttributes(of)))
    def failed(why: String) = new IllegalArgumentException(s"the per-batch plan of the " +
      s"sink at $checkpoint must be built without reading the batch (no action, no " +
      s"statistics): $why")
    val (plan, jobs) = GraftSql.jobsStartedBy(spark) {
      try GraftSql.analyzedPlan(perBatch(
        slot("batch", schema), slot("tag", TagSchema).hint("shuffle_replicate_nl")))
      catch { case NonFatal(e) => throw failed(e.toString).initCause(e) }
    }
    if (jobs > 0) throw failed(s"building it started $jobs Spark jobs")
    (batch, batchId) => {
      if (batch.schema != schema)
        throw new IllegalStateException(s"micro-batch schema ${batch.schema.simpleString} " +
          s"differs from the stream schema ${schema.simpleString} the sink's plan was built for")
      val rows = GraftSql.analyzedPlan(batch)
      GraftSql.ofRows(spark, plan.transformUpWithSubqueries {
        case BatchSlot("batch", ids) =>
          Project(rows.output.zip(ids).map { case (b, a) =>
            Alias(b, a.name)(exprId = a.exprId) }, rows)
        case BatchSlot("tag", ids) => LocalRelation(ids, Seq(InternalRow(batchId)))
      })
    }
  }

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
