package graft.ext

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkTestBase
import graft.streaming.StreamingStats

/** The micro-batch sink runner ([[Freeze.sink]]): the per-batch plan
  * built once per query, a constant, small number of jobs per trigger,
  * no code generated after warm-up, no file for an empty trigger, and a
  * `batch_id` that keeps its type — on the two sinks the reference
  * consumer runs, the ingest gate and the stats sink.
  */
class MicroBatchSinkSpec extends SparkTestBase {
  import spark.implicits._

  /** Job starts by job group; a streaming query runs its batches'
    * jobs under its run id.
    */
  private object Jobs extends SparkListener {
    val groups = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      groups.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    private var sentinels = 0
    /** Jobs `q` has run so far, once the (ordered, async) listener bus
      * has delivered every event before a sentinel job's.
      */
    def of(q: StreamingQuery): Int = synchronized {
      sentinels += 1
      val mark = s"micro-batch-sink-spec-$sentinels"
      spark.sparkContext.setJobGroup(mark, mark)
      try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis + 20000
      while (!groups.contains(mark) && System.currentTimeMillis < deadline) Thread.sleep(10)
      assert(groups.contains(mark), "listener bus never delivered the sentinel")
      groups.asScala.count(_ == q.runId.toString)
    }
  }
  spark.sparkContext.addSparkListener(Jobs)

  /** The executed plans of the parquet appends into `dir`. */
  private class Writes(dir: String) extends QueryExecutionListener {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.analyzed.exists {
            case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString.endsWith(dir)
            case _ => false
          }) plans.add(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private object Leaves extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): Seq[SparkPlan] = collectLeaves(plan)
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def dataBatches(q: StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  /** The exact Spark schema a sink wrote, nullability included (a
    * parquet read back reports every column nullable).
    */
  private def writtenSchema(dir: String): StructType = {
    val f = new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(f.getPath), new Configuration()))
    try DataType.fromJson(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")).asInstanceOf[StructType]
    finally reader.close()
  }

  private def parquetFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  test("gate sink: 2 jobs and no codegen per batch after warm-up, cached scans only; rows equal ingestGate") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 4 === 0)
      .select("doc_id", "text", "source").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String, String)]
    val out = Files.createTempDirectory("mbs_gate_out").toString
    val ckpt = Files.createTempDirectory("mbs_gate_ckpt").toString
    val writes = new Writes(out)
    spark.listenerManager.register(writes)
    // one partition per batch, as a single-partition topic delivers it
    val query = Ingest.gateSink(input.toDF().toDF("doc_id", "text", "source").coalesce(1),
      base, out, ckpt, triggerMs = 0L).start()
    val batches = arrivals.grouped(8).toSeq
    try {
      def feed(rows: Seq[(Long, String, String)]): Unit = {
        input.addData(rows: _*)
        query.processAllAvailable()
      }
      batches.take(2).foreach(feed) // warm-up
      val (jobs0, batches0, compiles0) = (Jobs.of(query), dataBatches(query), compiles)
      batches.drop(2).foreach(feed)
      val (jobs1, batches1, compiles1) = (Jobs.of(query), dataBatches(query), compiles)
      val n = batches1 - batches0
      assert(n >= batches.size - 2, s"only $n timed batches ran")
      assert(compiles1 == compiles0,
        s"${compiles1 - compiles0} codegen compilations over $n warm batches")
      // the empty check and the write: the index lookup adds no job
      assert(jobs1 - jobs0 == 2 * n, s"${jobs1 - jobs0} jobs over $n gate batches")
    } finally {
      query.stop()
      spark.listenerManager.unregister(writes)
    }
    // every branch of every batch's plan reads the persisted batch: the
    // 5 key kinds scan the cache, and the only other leaf is the tag
    val plans = writes.plans.asScala.toSeq
    assert(plans.size == batches.size, s"${plans.size} gate writes seen")
    plans.foreach { p =>
      val (cached, other) = Leaves.of(p).partition(_.isInstanceOf[InMemoryTableScanExec])
      assert(cached.size == 5 && other.map(_.nodeName) == Seq("LocalTableScan"),
        s"a gate batch must read the persisted batch in all 5 branches:\n$p")
    }

    val written = writtenSchema(out)
    assert(written.fieldNames.toSeq == Seq("doc_id", "url_dup", "exact_dup", "near_dup",
      "cdc_owned_frac", "quality_pass", "admitted", "batch_id"))
    assert(written("batch_id") == StructField("batch_id", LongType, nullable = false))
    assert(written.fields.tail.forall(!_.nullable), s"verdicts must stay non-nullable: $written")
    val streamed = spark.read.parquet(out).drop("batch_id").collect().map(_.toSeq)
    val batch = Ingest.ingestGate(spark, sfDir).collect().map(_.toSeq)
    assert(streamed.length == arrivals.size)
    assert(streamed.toSet == batch.toSet, "multi-batch gate sink must equal ingestGate")
  }

  test("stats sink: 2 jobs and no codegen per batch after warm-up; non-nullable tag columns") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val out = Files.createTempDirectory("mbs_stats_out").toString
    val ckpt = Files.createTempDirectory("mbs_stats_ckpt").toString
    // one partition per batch, as a single-partition topic delivers it
    val query = StreamingStats.statsSink(
      input.toDF().toDF("domain", "content").coalesce(1),
      out, ckpt, triggerMs = 0L).start()
    def feed(i: Int): Unit = {
      input.addData((0 to i).map(j => (s"d${j % 3}", "x" * (j + 1))): _*)
      query.processAllAvailable()
    }
    try {
      (1 to 2).foreach(feed) // warm-up
      val (jobs0, compiles0) = (Jobs.of(query), compiles)
      (3 to 6).foreach(feed)
      val (jobs1, compiles1) = (Jobs.of(query), compiles)
      assert(compiles1 == compiles0,
        s"${compiles1 - compiles0} codegen compilations over 4 warm stats batches")
      // the empty check and the write: the tag join adds no job
      assert(jobs1 - jobs0 == 2 * 4, s"${jobs1 - jobs0} jobs over 4 stats batches")
    } finally query.stop()
    val written = writtenSchema(out)
    assert(written.fieldNames.toSeq ==
      Seq("batch_id", "timestamp", "total_documents", "domains", "size_stats"))
    assert(written("batch_id") == StructField("batch_id", LongType, nullable = false))
    assert(written("timestamp") == StructField("timestamp", TimestampType, nullable = false))
    val rows = spark.read.parquet(out).orderBy("batch_id").collect()
    assert(rows.map(_.getAs[Long]("batch_id")).toSeq == (0L to 5L))
    assert(rows.map(_.getAs[Long]("total_documents")).toSeq == (2L to 7L))
    // current_timestamp() is computed per trigger, not frozen into the plan
    val stamps = rows.map(_.getAs[java.sql.Timestamp]("timestamp"))
    assert(stamps.zip(stamps.tail).forall { case (a, b) => a.before(b) },
      s"the stats timestamp must advance every batch: ${stamps.toSeq}")
  }

  test("the runner calls each sink's per-batch function once per query") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sfDir)
    val arrivals = docs.filter(col("doc_id") % 4 === 0)
      .select("doc_id", "text", "source").as[(Long, String, String)]
      .collect().sortBy(_._1).take(12).toSeq
    val gateIn = MemoryStream[(Long, String, String)]
    val statsIn = MemoryStream[(String, String)]
    val gateOut = Files.createTempDirectory("mbs_once_gate_out").toString
    val gateCkpt = Files.createTempDirectory("mbs_once_gate_ckpt").toString
    val statsOut = Files.createTempDirectory("mbs_once_stats_out").toString
    val (gateCalls, statsCalls) = (new AtomicInteger, new AtomicInteger)
    val keys = Ingest.frozenGateKeys(gateCkpt, docs.filter(col("doc_id") % 4 =!= 0))
    val gate = Freeze.sink(gateIn.toDF().toDF("doc_id", "text", "source"), gateOut, gateCkpt,
      triggerMs = 0L) { b => gateCalls.incrementAndGet(); Ingest.gateBatch(keys)(b) }.start()
    val stats = Freeze.taggedSink(statsIn.toDF().toDF("domain", "content"), statsOut,
      Files.createTempDirectory("mbs_once_stats_ckpt").toString, triggerMs = 0L) { (b, t) =>
      statsCalls.incrementAndGet(); StreamingStats.tagged(b, t)
    }.start()
    try {
      arrivals.grouped(4).foreach { rows =>
        gateIn.addData(rows: _*)
        statsIn.addData(rows.map { case (_, t, s) => (s, t) }: _*)
        gate.processAllAvailable()
        stats.processAllAvailable()
      }
      assert(dataBatches(gate) == 3 && dataBatches(stats) == 3)
    } finally {
      gate.stop()
      stats.stop()
    }
    assert(gateCalls.get == 1 && statsCalls.get == 1,
      s"per-batch functions called ${gateCalls.get} (gate), ${statsCalls.get} (stats) times")
    assert(spark.read.parquet(gateOut).count() == arrivals.size)
    assert(spark.read.parquet(statsOut).select("batch_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L))
  }

  test("a per-batch function that reads the batch or starts a job is rejected at construction") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    def build(perBatch: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      Freeze.sink(input.toDF().toDF("v"), Files.createTempDirectory("mbs_guard_out").toString,
        Files.createTempDirectory("mbs_guard_ckpt").toString, triggerMs = 0L)(perBatch)
    val counted = intercept[IllegalArgumentException](build { b =>
      b.select(lit(b.count()).as("n"))
    })
    assert(counted.getMessage.contains("without reading the batch"), counted.getMessage)
    val sized = intercept[IllegalArgumentException](build { b =>
      if (b.queryExecution.optimizedPlan.stats.sizeInBytes > 0) b else b.limit(1)
    })
    assert(sized.getMessage.contains("without reading the batch"), sized.getMessage)
    val job = intercept[IllegalArgumentException](build { b =>
      b.withColumn("n", lit(spark.range(3).count()))
    })
    assert(job.getMessage.contains("Spark jobs"), job.getMessage)
  }

  test("an empty trigger writes no file; the persisted batch is released") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val out = Files.createTempDirectory("mbs_empty_out").toString
    val ckpt = Files.createTempDirectory("mbs_empty_ckpt").toString
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val query = Freeze.sink(input.toDF().toDF("v"), out, ckpt, triggerMs = 0L)(
      _.select((col("v") * 2).as("w"))).start()
    try {
      input.addData(Seq.empty[Long])
      query.processAllAvailable()
      assert(query.recentProgress.nonEmpty, "the empty offset must run a trigger")
      assert(parquetFiles(out).isEmpty, s"empty trigger wrote ${parquetFiles(out)}")
      input.addData(1L, 2L)
      query.processAllAvailable()
    } finally query.stop()
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet.subsetOf(pinnedBefore),
      "every micro-batch persist must be released")
    assert(writtenSchema(out) == StructType(Seq(
      StructField("w", LongType, nullable = false),
      StructField("batch_id", LongType, nullable = false))))
    assert(spark.read.parquet(out).as[(Long, Long)].collect().toSet ==
      Set((2L, 1L), (4L, 1L)))
  }
}
