package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{ArtifactLedger, SessionCaches, Tables}
import graft.ext.{Cleaning, Corpus, Dedup, Ingest}
import graft.ingest.ConsumerPlan
import graft.streaming.StreamingStats

/** What a run needs: the session, the query runner, the run's private
  * directories and its parameters.
  */
final class Ctx(val spark: SparkSession, val runner: Runner, val tracer: Option[Tracer],
                val runSpan: Long, val work: File, val base: String, val storeRoot: File,
                val seed: Long, val seconds: Double) {
  def spans: Spans = runner.spans
  private val extras = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  /** Output digests by query or sink name, checked against the
    * committed expectations for this seed when there are any.
    */
  val digests = mutable.LinkedHashMap.empty[String, String]

  /** A workload-specific end-to-end figure, printed with its unit. */
  def report(name: String, value: Double, unit: String): Unit = extras(name) = (value, unit)
  def reported: Seq[(String, (Double, String))] = extras.toSeq

  /** A per-layer figure the workload measures itself. */
  def layerValue(name: String, value: Double): Unit = layer(name) = value
  def layers: Map[String, Double] = layer.toMap

  /** Bytes of cached and checkpointed blocks, memory plus disk. */
  def residentMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
}

/** The common shape of a workload's timed phase, which runs from
  * `startMs` to `endMs`; `wallS` is the makespan of the part of it that
  * runs from `wallStartMs` to `wallEndMs`.
  */
final case class Timed(startMs: Long, endMs: Long, wallStartMs: Long, wallEndMs: Long,
                       wallS: Double, latencies: Seq[Double], residentMb: Double)

object Workloads {

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  private def fpDirs(root: File): Int =
    Option(root.listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .count(_.getName.startsWith("fp-"))

  /** Copy the generated corpus to a new directory: a corpus the store and
    * the session caches have never seen, with the same content.
    */
  private def freshCorpus(base: String, to: Path): String = {
    val src = Paths.get(base)
    Files.walk(src).iterator().asScala.foreach { p =>
      val q = to.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    to.toString
  }

  private def sinceS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---------------------------------------------------------------- pipeline_cold

  /** A pipeline operator's first run on a corpus: the curation chain
    * against an empty store, then `SessionCaches.clearAll` and the same
    * chain again, served from the store. The corpus is first copied to a
    * new directory, so it is new to the store and to the session caches.
    *
    * It runs once, whatever `seconds` says: a second cold pass in the
    * same JVM is no longer a first run (the JIT is warm and it ran about
    * a third faster), so repeating until `seconds` had passed made the
    * figures depend on how many passes fit.
    */
  def pipelineCold(ctx: Ctx, markSetupDone: () => Unit): Timed = {
    import ctx._
    markSetupDone()
    val start = System.currentTimeMillis()
    val dir = freshCorpus(base, work.toPath.resolve("corpus"))
    SessionCaches.clearAll(spark)
    ArtifactLedger.reset()
    val bytes0 = dirBytes(storeRoot)
    val dirs0 = fpDirs(storeRoot)
    val p1 = spans.begin("phase", "pass1", runSpan)
    tracer.foreach(_.setPhase(p1))
    val wallStart = System.currentTimeMillis()
    val a = System.nanoTime()
    val pass1 = Panel.chain.map(q => runner.query(q, dir, p1))
    val wall = sinceS(a)
    val wallEnd = System.currentTimeMillis()
    spans.end(p1)
    val ledger1 = ArtifactLedger.snapshot
    val resident = residentMb
    val rdds = spark.sparkContext.getPersistentRDDs.size
    val storeMb = (dirBytes(storeRoot) - bytes0) / 1048576.0
    val dirs = fpDirs(storeRoot) - dirs0

    SessionCaches.clearAll(spark)
    ArtifactLedger.reset()
    val p2 = spans.begin("phase", "pass2", runSpan)
    tracer.foreach(_.setPhase(p2))
    val b = System.nanoTime()
    val pass2 = Panel.chain.map(q => runner.query(q, dir, p2))
    val rewall = sinceS(b)
    spans.end(p2)
    val replay = ArtifactLedger.snapshot.values.sum
    pass1.zip(pass2).foreach { case (x, y) => runner.checkSame("store replay", x, y) }
    pass1.foreach(r => r.digest.foreach(d => digests(r.name) = d.toString))

    val lats = (pass1 ++ pass2).map(_.latency)
    report("rerun_wall_s", rewall, "s")
    report("query_p50_s", Stats.median(lats), "s")
    report("query_samples", lats.size, "count")
    report("store_mb", storeMb, "MB")
    layerValue("entry.build_s", pass1.map(_.buildS).sum)
    layerValue("artifact.build_s", ledger1.values.sum)
    layerValue("artifact.count", ledger1.size)
    layerValue("store.replay_s", replay)
    layerValue("store.dirs", dirs)
    layerValue("cache.rdds", rdds)
    Timed(start, System.currentTimeMillis(), wallStart, wallEnd, wall, lats, resident)
  }

  // ---------------------------------------------------------------- ingest_stream

  /** Steady-phase offered load, events per second; the steady phase
    * lasts the run's `seconds`.
    */
  val SteadyRate = 8.0
  /** Events per micro-batch in the closed-loop phases: about what one
    * batch reads at [[SteadyRate]].
    */
  val BatchEvents = 8
  /** Untimed warm-up: two single-event batches (the first plans and
    * compiles everything), then this many closed-loop batches. It waits
    * only for the program, so set-up holds no fixed schedule.
    */
  val WarmupBatches = 6
  /** Closed-loop batches of the drain phase, the part `wall_s` times. */
  val DrainBatches = 16

  private final case class Doc(id: Long, text: String, lang: String, source: String)

  private def envelope(d: Doc, createdMs: Long): (String, String, Timestamp) = {
    val file = s"doc${d.id}.txt"
    val json = Json.render(scala.collection.immutable.ListMap("domain" -> d.source,
      "filename" -> file, "content" -> d.text, "file_path" -> s"${d.source}/${d.lang}/$file"))
    (s"${d.source}_$file", json, new Timestamp(createdMs))
  }

  /** ConsumerPlan's output back in the `documents` shape the gate reads:
    * the id rides the file name and the language the file path.
    */
  private def asDocuments(consumed: DataFrame): DataFrame =
    consumed.select(
      regexp_extract(col("filename"), "^doc([0-9]+)\\.txt$", 1).cast("long").as("doc_id"),
      col("content").as("text"),
      split(col("file_path"), "/").getItem(1).as("lang"),
      col("domain").as("source"),
      length(col("content")).cast("long").as("n_chars"))

  /** The reference consumer's own path: one generator thread feeds
    * Kafka-envelope rows into two MemoryStreams (one per consumer, as two
    * consumer groups read one topic). Query 1 is ConsumerPlan →
    * StreamingStats.statsSink; query 2 is ConsumerPlan → Ingest.gateSink.
    *
    * After a closed-loop warm-up, the timed phase has two parts:
    *  - steady: open loop at [[SteadyRate]] for `seconds`, which gives
    *    the event latencies;
    *  - drain: [[DrainBatches]] closed-loop batches of [[BatchEvents]]
    *    events, each emitted when both queries have committed the one
    *    before, then a burst that enqueues the rest of the arrivals at
    *    once. `wall_s` is the drain's makespan: it holds no schedule, so
    *    all of it is the program's time.
    */
  def ingestStream(ctx: Ctx, markSetupDone: () => Unit): Timed = {
    import ctx._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // keep every micro-batch's progress: the latencies are read from it
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    val all = Tables.documents(spark, base).select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect()
      .map { case (i, t, l, s) => Doc(i, t, l, s) }.sortBy(_.id)
    val rnd = new scala.util.Random(seed)
    val arrivals = all.filter(_.id % 4 == 0)
    val redelivered = rnd.shuffle(all.filter(_.id % 4 != 0).toSeq).take(arrivals.length * 4 / 5)
    val events = rnd.shuffle((arrivals ++ redelivered).toSeq).toArray
    val nWarm = 2 + WarmupBatches * BatchEvents
    val nSteady = (SteadyRate * seconds).toInt
    val steadyUntil = nWarm + nSteady
    val drainUntil = steadyUntil + DrainBatches * BatchEvents
    require(events.length > drainUntil + 10, "corpus too small for the stream")
    notes("events") = events.length

    val statsPath = new File(work, "stats").getPath
    val gatePath = new File(work, "gate").getPath
    val in1 = MemoryStream[(String, String, Timestamp)]
    val in2 = MemoryStream[(String, String, Timestamp)]
    // one partition per micro-batch, as a single-partition Kafka topic
    // delivers it: MemoryStream makes a partition of every addData call,
    // so a batch of n one-event emissions would otherwise run n tasks a
    // stage, and a longer batch would make the next one longer still
    def env(m: MemoryStream[(String, String, Timestamp)]) =
      m.toDF().coalesce(1).select(col("_1").cast("binary").as("key"),
        col("_2").cast("binary").as("value"), col("_3").as("timestamp"))
    val baseDocs = Tables.documents(spark, base).filter(col("doc_id") % 4 =!= 0)

    val statsQ = StreamingStats.statsSink(ConsumerPlan(env(in1)), statsPath,
      new File(work, "ck-stats").getPath, triggerMs = 0L).queryName("stats").start()
    val f0 = System.nanoTime()
    val gateWriter = Ingest.gateSink(asDocuments(ConsumerPlan(env(in2))), baseDocs,
      gatePath, new File(work, "ck-gate").getPath, triggerMs = 0L)
    layerValue("gate.freeze_s", sinceS(f0))
    val gateQ = gateWriter.queryName("gate").start()
    val queries = Seq(statsQ, gateQ)

    // offset k of both streams holds events(created(k)._1 until created(k+1)._1),
    // due at created(k)._2 (epoch ms); a row's timestamp is its creation time
    val created = mutable.ArrayBuffer.empty[(Int, Long)]
    def emit(from: Int, until: Int, dueMs: Long = System.currentTimeMillis()): Unit = {
      val rows = (from until until).map(i => envelope(events(i), System.currentTimeMillis()))
      in1.addData(rows)
      in2.addData(rows)
      created += ((from, dueMs))
    }
    def committedOffset(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      Option(q.lastProgress).flatMap(p => p.sources.headOption)
        .flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)
    def awaitOffset(k: Long, timeoutS: Double): Boolean = {
      val t = System.nanoTime()
      while (queries.exists(q => committedOffset(q) < k) && sinceS(t) < timeoutS) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(2)
      }
      queries.forall(q => committedOffset(q) >= k)
    }
    /** Emit events [from, until) in batches of `size`, each once both
      * queries have committed the one before.
      */
    def closedLoop(from: Int, until: Int, size: Int, what: String): Unit =
      for (i <- from until until by size) {
        emit(i, math.min(i + size, until))
        if (!awaitOffset(created.size - 1, 60)) runner.fail("ingest_stream", s"$what never committed")
      }

    var peakBacklog = 0L
    /** Emit events [from, until) one per offset on the open-loop schedule. */
    def openLoop(from: Int, until: Int): Schedule = {
      val anchorMs = System.currentTimeMillis()
      val schedule = new Schedule(SteadyRate, System.nanoTime())
      for (i <- from until until) {
        val j = i - from
        schedule.awaitDue(j)
        schedule.emitted(j, System.nanoTime())
        emit(i, i + 1, anchorMs + (j * 1000 / SteadyRate).toLong)
        val done = queries.map(committedOffset).min
        peakBacklog = math.max(peakBacklog, created.size - 1 - done)
      }
      schedule
    }

    closedLoop(0, 2, 1, "warm-up")
    closedLoop(2, nWarm, BatchEvents, "warm-up")
    val steadyFromOffset = created.size
    markSetupDone()
    val start = System.currentTimeMillis()
    val steady = spans.begin("phase", "steady", runSpan)
    tracer.foreach(_.setPhase(steady))
    val schedule = openLoop(nWarm, steadyUntil)
    val steadyLast = created.size - 1
    if (!awaitOffset(steadyLast, 60)) runner.fail("ingest_stream", "steady phase never committed")
    spans.end(steady)

    val drain = spans.begin("phase", "drain", runSpan)
    tracer.foreach(_.setPhase(drain))
    val wallStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    closedLoop(steadyUntil, drainUntil, BatchEvents, "drain")
    val burstStartMs = System.currentTimeMillis()
    val bt = System.nanoTime()
    emit(drainUntil, events.length)
    val drained = awaitOffset(created.size - 1, 120)
    val drainS = sinceS(bt)
    val wallS = sinceS(t0)
    val wallEnd = System.currentTimeMillis()
    spans.end(drain)
    peakBacklog = math.max(peakBacklog, events.length - drainUntil)
    val resident = residentMb
    val end = System.currentTimeMillis()
    if (!drained) runner.fail("ingest_stream", "burst never fully committed")

    // every micro-batch that read rows, per query; a batch commits at
    // its trigger start plus its trigger execution time
    val batchesOf = queries.map(_.recentProgress.toSeq.filter(_.numInputRows > 0))
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
      p.durationMs.asScala.get(k).map(_.longValue).getOrElse(0L)
    def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli
    val progress = batchesOf.map(_.map { p =>
      (p.sources.head.endOffset.trim.toLong, startMs(p) + ms(p, "triggerExecution"))
    }.sortBy(_._1))
    val timedBatches = batchesOf.map(_.filter(p => startMs(p) >= start))
    notes("batch_ms") = timedBatches.map(_.map(ms(_, "triggerExecution")))
    queries.foreach(_.stop())
    queries.foreach(_.awaitTermination(60000L))
    // offset k commits in a query with the first batch whose end offset
    // reaches k, and an event counts as committed once both queries have
    def commitOf(k: Int): Option[Long] = {
      val perQuery = progress.map(ps => ps.find(_._1 >= k).map(_._2))
      if (perQuery.forall(_.isDefined)) Some(perQuery.flatten.max) else None
    }
    val steadyLat = (steadyFromOffset to steadyLast).flatMap { k =>
      runner.attempt()
      commitOf(k) match {
        case Some(ms) => Some((ms - created(k)._2) / 1000.0)
        case None => runner.fail("ingest_stream", s"event at offset $k never committed"); None
      }
    }
    runner.attempt(events.length - steadyUntil)
    val burstDone = commitOf(created.size - 1)
    val burstDrain = burstDone.map(ms => (ms - burstStartMs) / 1000.0).getOrElse(drainS)

    report("event_latency_p50_s", Stats.median(steadyLat), "s")
    Stats.tailPercentile(steadyLat.size).filter(_ > 50).foreach(p =>
      report(s"event_latency_p${p}_s", Stats.percentile(steadyLat, p), "s"))
    report("event_samples", steadyLat.size, "count")
    report("burst_drain_s", burstDrain, "s")
    report("burst_events", events.length - drainUntil, "count")
    layerValue("gen.late_max_s", schedule.lateMaxSeconds)
    layerValue("stream.backlog_max", peakBacklog.toDouble)
    layerValue("sink.write_mb",
      (dirBytes(new File(statsPath)) + dirBytes(new File(gatePath))) / 1048576.0)
    layerValue("cache.rdds", spark.sparkContext.getPersistentRDDs.size)
    def phaseS(keys: String*): Double =
      timedBatches.flatten.map(p => keys.map(ms(p, _)).sum).sum / 1000.0
    layerValue("stream.planning_s", phaseS("queryPlanning"))
    layerValue("stream.add_batch_s", phaseS("addBatch"))
    layerValue("stream.wal_s", phaseS("walCommit", "commitOffsets"))
    val batches = timedBatches.map(_.size).sum
    layerValue("stream.batches", batches)
    layerValue("stream.rows_per_batch",
      if (batches == 0) 0.0 else timedBatches.flatten.map(_.numInputRows).sum.toDouble / batches)

    // ---- output checks, untimed
    runner.attempt()
    val perDomain = events.groupBy(_.source).map { case (s, ds) => s -> ds.length.toLong }
    val stats = StreamingStats.rollupStats(spark.read.parquet(statsPath)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (stats != perDomain)
      runner.fail("ingest_stream.stats", s"summed batch stats $stats != generated $perDomain")
    runner.attempt()
    val arrivedDf = events.toSeq.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val baseAll = Tables.documents(spark, base).filter(col("doc_id") % 4 =!= 0)
    val expected = Digest.of(Ingest.gateAgainst(arrivedDf,
      Cleaning.keeperCanonUrls(Cleaning.urlDocs(baseAll)), Dedup.keeperContentHashes(baseAll),
      Dedup.minhashBandIndex(baseAll), Corpus.keeperChunkFingerprints(baseAll)))
    val got = Digest.of(spark.read.parquet(gatePath).drop("batch_id"))
    if (got != expected)
      runner.fail("ingest_stream.gate", s"gate rows $got != gateAgainst over the arrivals $expected")
    digests("gate") = got.toString
    digests("stats") = stats.toSeq.sorted.map { case (d, n) => s"$d=$n" }.mkString(",")
    Timed(start, end, wallStart, wallEnd, wallS, steadyLat, resident)
  }
}
