package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import graft.LocalSession

/** One benchmark run: one workload, one seed, one JVM, one fresh
  * ArtifactStore root. Writes a result file (and, traced, a trace file)
  * and exits 0 only when every operation succeeded and every output
  * check held.
  *
  * {{{
  * graftbench.Main --workload pipeline_cold|ingest_stream
  *   --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  * The ArtifactStore root is `SPARK_GRAFT_ARTIFACT_DIR`, which the
  * caller points at an empty directory.
  */
object Main {

  val workloads: Map[String, (Ctx, () => Unit) => Timed] = Map(
    "pipeline_cold" -> Workloads.pipelineCold _,
    "ingest_stream" -> Workloads.ingestStream _)

  private def loadAvg: String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case NonFatal(_) => "unreadable" }

  /** Seconds the hypervisor gave this machine's CPUs to other guests
    * (the `steal` column of /proc/stat, at 100 ticks a second): load
    * that /proc/loadavg inside a guest does not show.
    */
  private def stealSeconds: Double =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong / 100.0
    catch { case NonFatal(_) => Double.NaN }

  private def memTotalKb: Long =
    try Files.readAllLines(Paths.get("/proc/meminfo")).toArray.map(_.toString)
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case NonFatal(_) => -1L }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = new File(args("work"))
    val storeRoot = new File(sys.env("SPARK_GRAFT_ARTIFACT_DIR"))
    val loadBefore = loadAvg
    val steal0 = stealSeconds
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val s0 = System.nanoTime()
    val spark = LocalSession.build()
    val sessionBuildS = (System.nanoTime() - s0) / 1e9
    val cpus = spark.sparkContext.defaultParallelism

    val g0 = System.nanoTime()
    val dataDir = new File(work, "data").getPath
    Data.generate(spark, dataDir, seed)
    val genS = (System.nanoTime() - g0) / 1e9

    val spans = new Spans
    val tracer = if (traced) Some(new Tracer(spark, spans)) else None
    tracer.foreach(_.install())
    val runner = new Runner(spark, spans, tracer)
    val runSpan = spans.begin("run", workload, 0)
    tracer.foreach(_.setPhase(runSpan))
    val ctx = new Ctx(spark, runner, tracer, runSpan, work, dataDir, storeRoot, seed, seconds)

    var setupS = Double.NaN
    var gc0 = 0.0
    val mark = () => {
      setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genS
      tracer.foreach(_.openWindow())
      gc0 = Tracer.jvmGcSeconds
      Tracer.resetHeapPeak()
    }
    val timed =
      try Some(run(ctx, mark))
      catch {
        case NonFatal(e) =>
          runner.fail(workload, s"${e.getClass.getName}: ${e.getMessage}")
          None
      }
    spans.end(runSpan)
    val gcS = Tracer.jvmGcSeconds - gc0
    val heapPeak = Tracer.heapPeakMb

    val metrics = timed.map { t =>
      ListMap(
        "setup_s" -> (setupS, "s"),
        "wall_s" -> (t.wallS, "s"),
        "latency_mean_s" -> (Stats.mean(t.latencies), "s"),
        "resident_mb" -> (t.residentMb, "MB"))
    }.getOrElse(ListMap.empty)
    val reported = ListMap(ctx.reported: _*) ++ ListMap(
      "failed_frac" -> (runner.failures.size.toDouble / math.max(1L, runner.attempted), "ratio"),
      "gen_s" -> (genS, "s"))

    val layers = for (tr <- tracer; t <- timed) yield {
      tr.uninstall()
      val L = tr.layers
      // the gap and the slot use are taken over the window wall_s times;
      // the counters cover the whole timed phase
      val wallMs = (t.wallEndMs - t.wallStartMs).max(1L)
      val busy = tr.busyMs(t.wallStartMs, t.wallEndMs)
      val mine = ctx.layers
      def m(k: String): Double = mine.getOrElse(k, 0.0)
      val mb = 1048576.0
      ListMap[String, (Double, String)](
        "session.build_s" -> (sessionBuildS, "s"),
        "entry.build_s" -> (m("entry.build_s"), "s"),
        "artifact.build_s" -> (m("artifact.build_s"), "s"),
        "artifact.count" -> (m("artifact.count"), "count"),
        "store.replay_s" -> (m("store.replay_s"), "s"),
        "store.dirs" -> (m("store.dirs"), "count"),
        "cache.rdds" -> (m("cache.rdds"), "count"),
        "catalyst.analysis_s" -> (L.analysisMs / 1000.0, "s"),
        "catalyst.optimization_s" -> (L.optimizationMs / 1000.0, "s"),
        "catalyst.planning_s" -> (L.planningMs / 1000.0, "s"),
        "sched.jobs" -> (L.jobs.toDouble, "count"),
        "sched.stages" -> (L.stages.toDouble, "count"),
        "sched.tasks" -> (L.tasks.toDouble, "count"),
        "sched.driver_gap_s" -> ((wallMs - busy) / 1000.0, "s"),
        "exec.run_s" -> (L.runMs / 1000.0, "s"),
        "exec.cpu_s" -> (L.cpuNs / 1e9, "s"),
        "exec.gc_s" -> (L.gcMs / 1000.0, "s"),
        "exec.slot_util" -> (tr.runMsIn(t.wallStartMs, t.wallEndMs) / (wallMs * cpus), "ratio"),
        "shuffle.write_mb" -> (L.shuffleWrite / mb, "MB"),
        "shuffle.read_mb" -> (L.shuffleRead / mb, "MB"),
        "shuffle.fetch_wait_s" -> (L.fetchWaitMs / 1000.0, "s"),
        "spill.mb" -> (L.spill / mb, "MB"),
        "stream.batches" -> (m("stream.batches"), "count"),
        "stream.rows_per_batch" -> (m("stream.rows_per_batch"), "count"),
        "stream.planning_s" -> (m("stream.planning_s"), "s"),
        "stream.add_batch_s" -> (m("stream.add_batch_s"), "s"),
        "stream.wal_s" -> (m("stream.wal_s"), "s"),
        "stream.backlog_max" -> (m("stream.backlog_max"), "count"),
        "gate.freeze_s" -> (m("gate.freeze_s"), "s"),
        "sink.write_mb" -> (m("sink.write_mb"), "MB"),
        "jvm.gc_s" -> (gcS, "s"),
        "jvm.heap_peak_mb" -> (heapPeak, "MB"),
        "gen.late_max_s" -> (m("gen.late_max_s"), "s"),
        "trace.wall_s" -> (t.wallS, "s"),
        "trace.latency_mean_s" -> (Stats.mean(t.latencies), "s"))
    }

    val correct = timed.isDefined && runner.ok
    def metricJson(m: ListMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
    val result = ListMap(
      "workload" -> workload,
      "correct" -> correct,
      "attempted" -> runner.attempted,
      "failed" -> runner.failures.size,
      "failures" -> runner.failures.map { case (q, msg) => ListMap("query" -> q, "message" -> msg) },
      "metrics" -> metricJson(metrics),
      "reported" -> metricJson(reported),
      "layers" -> layers.map(metricJson),
      "host" -> ListMap(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_cpus" -> cpus,
        "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadAvg,
        "cpu_steal_s" -> (stealSeconds - steal0),
        "mem_total_kb" -> memTotalKb,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "seed" -> seed,
        "documents" -> Data.Documents),
      "digests" -> ctx.digests,
      "notes" -> ctx.notes)
    Files.writeString(new File(work, "result.json").toPath, Json.render(result))
    for (tr <- tracer; t <- timed)
      Files.writeString(new File(work, "trace.json").toPath,
        Json.render(TraceReport(spans.all, tr, t, cpus)))
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
