package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** Streaming analytics (SURVEY.md §2.11): the reference's foreachBatch
  * per-micro-batch stats, plus the proper stateful forms it left unbuilt
  * (watermarked tumbling-window counts).
  *
  * The reference computed stats with 4 separate jobs per batch and printed
  * them (`spark/consumer.py:33-100`), then re-parsed its own console logs
  * (`spark/export_stats.py`). Here each micro-batch computes the same stats
  * in ONE aggregation pass and writes them to a structured sink — the stats
  * table is then queryable/joinable instead of being scraped.
  *
  * The stats row's tag columns, `batch_id` and `timestamp`, come first
  * and come from the sink runner's one-row tag frame
  * ([[graft.ext.Freeze.sink]]): both change every batch, and as
  * literals in generated code they would compile new code per trigger.
  */
object StreamingStats {

  /** Per-batch stats in one pass: total count, per-domain counts as a map,
    * and min/max/avg/total of content length — the union of the reference's
    * A1+A3+A4 (`consumer.py:47-76`) without its redundant double count
    * (§2.12 defect 4). Columns: batch_id, timestamp, total_documents,
    * domains, size_stats.
    */
  def batchStats(batch: DataFrame, batchId: Long): DataFrame =
    tagged(batch, graft.ext.Freeze.batchTag(batch.sparkSession, batchId))

  /** The stats row behind the one-row tag frame: the tag carries
    * `batch_id` and `timestamp` (`current_timestamp()`, folded into
    * the tag's local rows at optimization), so neither per-batch value
    * is a literal in generated code.
    */
  private[graft] def tagged(batch: DataFrame, tag: DataFrame): DataFrame = {
    val withLen = batch.select(col("domain"), length(col("content")).cast("long").as("len"))
    val stats = withLen
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("cnt"), min(col("len")).as("mn"),
        max(col("len")).as("mx"), sum(col("len")).as("tot"))
      .agg(
        sum(col("cnt")).as("total_documents"),
        map_from_entries(sort_array(collect_list(struct(col("domain"), col("cnt"))))).as("domains"),
        min(col("mn")).as("min_size"),
        max(col("mx")).as("max_size"),
        sum(col("tot")).as("total_size")
      )
      .select(
        coalesce(col("total_documents"), lit(0L)).as("total_documents"),
        col("domains"),
        map(
          lit("nhỏ nhất"), col("min_size"),
          lit("lớn nhất"), col("max_size"),
          lit("trung bình"), (col("total_size") / col("total_documents")).cast("long"),
          lit("tổng"), col("total_size")
        ).as("size_stats")
      )
    tag.select(col("batch_id"), current_timestamp().as("timestamp")).crossJoin(stats)
  }

  /** foreachBatch stats runner (K2) on [[graft.ext.Freeze.sink]]'s
    * runner: empty batches short-circuit (reference
    * `consumer.py:36-40`); stats append to a parquet path.
    */
  def statsSink(docs: DataFrame, statsPath: String, checkpoint: String,
                triggerMs: Long = 10000L): DataStreamWriter[Row] =
    graft.ext.Freeze.taggedSink(docs, statsPath, checkpoint, triggerMs)(tagged)

  /** Watermarked tumbling-window counts — the intent behind the reference's
    * unused `window` import (`consumer.py:5`; SURVEY §2.9). State is bounded
    * by the watermark; at scale this is the shape that replaces per-batch
    * snapshots with true event-time aggregation.
    */
  def windowedDomainCounts(docs: DataFrame,
                           window_ : String = "10 seconds",
                           watermark: String = "1 minute"): DataFrame =
    docs
      .withWatermark("kafka_timestamp", watermark)
      .groupBy(window(col("kafka_timestamp"), window_), col("domain"))
      .agg(count(lit(1)).as("doc_count"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("domain"), col("doc_count"))

  /** Event-time SESSION windows per domain: activity bursts separated
    * by ≥ `gap` of silence become separate sessions (dynamic-width
    * windows, unlike the fixed tumbling grid above). Streaming
    * counterpart of the batch gaps-and-islands sessionization
    * (`ExtraQueries.sessionStats`): state per open session, closed and
    * emitted once the watermark passes the session end.
    */
  def sessionWindowCounts(docs: DataFrame,
                          gap: String = "30 seconds",
                          watermark: String = "1 minute"): DataFrame =
    docs
      .withWatermark("kafka_timestamp", watermark)
      .groupBy(session_window(col("kafka_timestamp"), gap), col("domain"))
      .agg(count(lit(1)).as("doc_count"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("domain"), col("doc_count"))

  /** Streaming exact dedup on ingest: drop re-deliveries of the same
    * content within the watermark horizon. State is keyed by content
    * hash and expired by the watermark — bounded, unlike an unbounded
    * `dropDuplicates` — which is exactly the shape a training-data
    * ingest needs (the same crawled page re-pushed within a window must
    * not enter the corpus twice).
    */
  def streamingDedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", graft.ext.Dedup.contentHash(col("content")))
      .withWatermark("kafka_timestamp", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .drop("content_hash")

  /** Stream-stream join with event-time bounds: enrich each document
    * with the matching-domain control event that precedes it by at most
    * `joinWindow`. Both sides are watermarked so join state is bounded —
    * the canonical Structured Streaming two-stream pattern.
    */
  def joinWithControlStream(docs: DataFrame, controls: DataFrame,
                            watermark: String = "1 minute",
                            joinWindow: String = "30 seconds"): DataFrame = {
    val d = docs.withWatermark("kafka_timestamp", watermark)
    val c = controls.withWatermark("control_ts", watermark)
    d.join(c,
      col("domain") === col("control_domain") &&
        col("control_ts") <= col("kafka_timestamp") &&
        col("control_ts") >= col("kafka_timestamp") - expr(s"INTERVAL $joinWindow"))
  }

  /** Cross-batch roll-ups over the persisted stats table (A5/A6 —
    * reference `export_stats.py:81,89-92`): total documents across batches
    * and per-domain totals from the map column.
    */
  def rollupStats(stats: DataFrame): DataFrame =
    stats.select(explode(col("domains")).as(Seq("domain", "cnt")))
      .groupBy(col("domain"))
      .agg(sum(col("cnt")).as("total_docs"))
      .orderBy(col("total_docs").desc, col("domain"))

  /** Top-K domains across all batches (reference `export_stats.py:96-98`). */
  def topDomains(stats: DataFrame, k: Int = 10): DataFrame =
    rollupStats(stats).limit(k)
}
