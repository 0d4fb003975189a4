package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span of the traced run. Spans nest run → phase → op (a query,
  * with build / plan / execute children) → job → stage. Times are
  * epoch milliseconds so Spark's own task and stage stamps line up.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Long, endMs: Long,
                      attrs: Map[String, Any] = Map.empty)

/** Span recorder. The untraced run uses it too, for the op and phase
  * spans it needs to time itself; only a traced run adds the job and
  * stage spans and the counters, through [[Tracer]].
  */
final class Spans {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Map.empty[Long, (Long, String, String, Long)]

  def begin(kind: String, name: String, parent: Long,
            startMs: Long = System.currentTimeMillis()): Long = synchronized {
    val id = ids.incrementAndGet()
    open(id) = (parent, kind, name, startMs)
    id
  }

  def end(id: Long, attrs: Map[String, Any] = Map.empty,
          endMs: Long = System.currentTimeMillis()): Span = synchronized {
    val (parent, kind, name, start) = open.remove(id).get
    val s = Span(id, parent, kind, name, start, endMs, attrs)
    done += s
    s
  }

  def add(parent: Long, kind: String, name: String, startMs: Long, endMs: Long,
          attrs: Map[String, Any] = Map.empty): Long = synchronized {
    val id = ids.incrementAndGet()
    done += Span(id, parent, kind, name, startMs, endMs, attrs)
    id
  }

  def all: Seq[Span] = synchronized(done.toList)
}

/** Counters of one traced window. */
final class Layers {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** Each task's launch and finish time and its executor run time. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long, Long)]
}

/** The traced run's listeners, registered from the benchmark's own code:
  * a SparkListener for jobs, stages and tasks, a QueryExecutionListener
  * for each query's planning phases, and a StreamingQueryListener for
  * micro-batch progress. All records stay in memory until the run ends.
  */
final class Tracer(spark: SparkSession, spans: Spans) {
  @volatile var layers = new Layers
  /** Per-op (span id) job counts and planning milliseconds. */
  val opJobs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  val opPlanMs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  /** Jobs run by each streaming query (by query id). */
  val streamJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  @volatile private var phaseSpan = 0L
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val opWindows = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def setPhase(id: Long): Unit = phaseSpan = id

  /** Start counting afresh: everything before (set-up) is dropped. */
  def openWindow(): Unit = {
    Tracer.drain(spark)
    synchronized { layers = new Layers; progress.clear(); streamJobs.clear() }
  }

  /** Open an op's window, so planning phases can be attributed to it
    * (the listener may see them before the op ends).
    */
  def opBegin(id: Long, startMs: Long): Unit =
    synchronized(opWindows += ((startMs, Long.MaxValue, id)))

  def opDone(s: Span): Unit = synchronized {
    val i = opWindows.lastIndexWhere(_._3 == s.id)
    if (i >= 0) opWindows(i) = (s.startMs, s.endMs, s.id)
  }

  private def opAt(ms: Long): Option[Long] = synchronized {
    opWindows.findLast { case (a, b, _) => ms >= a && ms <= b }.map(_._3)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      layers.jobs += 1
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProp)))
        .map(_.toLong)
      op.foreach(id => opJobs(id) += 1)
      if (op.isEmpty)
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(q => streamJobs(q) += 1)
      jobSpan(e.jobId) = spans.begin("job", s"job-${e.jobId}", op.getOrElse(phaseSpan), e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.get(e.jobId).foreach(id => spans.end(id, Map("job_id" -> e.jobId), e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        layers.stages += 1
        val si = e.stageInfo
        val parent = stageJob.get(si.stageId).flatMap(jobSpan.get).getOrElse(phaseSpan)
        spans.add(parent, "stage", s"stage-${si.stageId}",
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
          Map("tasks" -> si.numTasks, "name" -> si.name))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      layers.tasks += 1
      val m = e.taskMetrics
      layers.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime,
        if (m == null) 0L else m.executorRunTime))
      if (m != null) {
        layers.runMs += m.executorRunTime
        layers.cpuNs += m.executorCpuTime
        layers.gcMs += m.jvmGCTime
        layers.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        layers.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        layers.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        layers.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      Tracer.this.synchronized {
        layers.analysisMs += ms("analysis")
        layers.optimizationMs += ms("optimization")
        layers.planningMs += ms("planning")
      }
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        opAt(start).foreach { op =>
          Tracer.this.synchronized {
            opPlanMs(op) += ms("analysis") + ms("optimization") + ms("planning")
          }
          spans.add(op, "plan", funcName, start, ph.values.map(_.endTimeMs).max,
            Map("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
              "planning_ms" -> ms("planning")))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the listener buses to deliver, then detach. */
  def uninstall(): Unit = {
    Tracer.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Union length of the task busy intervals within [fromMs, toMs]. */
  def busyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val iv = layers.taskIntervals.map { case (a, b, _) => (a max fromMs, b min toMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    total + (curB - curA)
  }

  /** Executor run milliseconds inside [fromMs, toMs]: a task that
    * straddles an edge counts in proportion to its overlap.
    */
  def runMsIn(fromMs: Long, toMs: Long): Double = synchronized {
    layers.taskIntervals.map { case (a, b, run) =>
      val overlap = (b min toMs) - (a max fromMs)
      if (b <= a) { if (a >= fromMs && a <= toMs) run.toDouble else 0.0 }
      else if (overlap <= 0) 0.0
      else run * overlap.toDouble / (b - a)
    }.sum
  }
}

object Tracer {
  /** Local property carrying the current op's span id to job events. */
  val OpProp = "graftbench.op"

  /** Block until the SparkListener bus has delivered everything queued. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext, 60000L)

  /** JVM-wide collector time (all collectors), in seconds. */
  def jvmGcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** The traced run's report: every span with its self time (its length
  * minus the union of its children), the wall-clock accounting of the
  * window `wall_s` times (task-busy time plus driver gap is the wall), and the
  * queries with the most jobs and the most planning time per execution.
  */
object TraceReport {
  import scala.collection.immutable.ListMap

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var a = Long.MinValue
    var b = Long.MinValue
    iv.filter { case (x, y) => y > x }.sortBy(_._1).foreach { case (x, y) =>
      if (x > b) { if (b > a) total += b - a; a = x; b = y } else b = b max y
    }
    if (b > a) total + (b - a) else total
  }

  def apply(spans: Seq[Span], tr: Tracer, t: Timed, cpus: Int): ListMap[String, Any] = {
    val children = spans.groupBy(_.parent)
    def self(s: Span): Long = (s.endMs - s.startMs) - unionMs(
      children.getOrElse(s.id, Nil).map(c => (c.startMs max s.startMs, c.endMs min s.endMs)))
    val wall = t.wallEndMs - t.wallStartMs
    val busy = tr.busyMs(t.wallStartMs, t.wallEndMs)
    val inWall = spans.filter(s => s.kind == "op" && s.startMs >= t.wallStartMs &&
      s.endMs <= t.wallEndMs)
    val inOps = unionMs(inWall.map(s => (s.startMs, s.endMs)))
    val ops = spans.filter(s => s.kind == "op" && s.startMs >= t.startMs && s.endMs <= t.endMs)
    val byName = ops.groupBy(_.name).toSeq
    // micro-batches of each streaming query, from its progress events
    val streams = tr.progress.map(_.progress).filter(_.numInputRows > 0)
      .groupBy(p => (p.id.toString, Option(p.name).getOrElse(p.id.toString))).toSeq
      .map { case ((id, name), ps) =>
        val planMs = ps.map(p => Option(p.durationMs.get("queryPlanning")).map(_.longValue)
          .getOrElse(0L)).sum
        (s"stream:$name", tr.streamJobs(id).toDouble / ps.size, planMs / 1000.0 / ps.size,
          ps.size)
      }
    def topOf(xs: Seq[(String, Double)], key: String) =
      xs.sortBy { case (n, v) => (-v, n) }.take(10).map { case (n, v) => ListMap("query" -> n, key -> v) }
    def perRun(f: Span => Double) = byName.map { case (n, ss) => n -> ss.map(f).sum / ss.size }
    ListMap(
      "accounting" -> ListMap(
        "wall_s" -> wall / 1000.0,
        "task_busy_s" -> busy / 1000.0,
        "driver_gap_s" -> (wall - busy) / 1000.0,
        "in_ops_s" -> inOps / 1000.0,
        "between_ops_s" -> (wall - inOps) / 1000.0,
        "slot_capacity_s" -> wall * cpus / 1000.0),
      "top_by_jobs" -> topOf(perRun(s => tr.opJobs(s.id).toDouble) ++
        streams.map(x => x._1 -> x._2), "jobs_per_run"),
      "top_by_planning" -> topOf(perRun(s => tr.opPlanMs(s.id) / 1000.0) ++
        streams.map(x => x._1 -> x._3), "planning_s_per_run"),
      "streams" -> streams.map { case (n, jobs, plan, batches) =>
        ListMap("query" -> n, "batches" -> batches, "jobs_per_batch" -> jobs,
          "planning_s_per_batch" -> plan) },
      "spans" -> spans.sortBy(_.id).map(s => ListMap(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self(s),
        "attrs" -> s.attrs)))
  }
}
