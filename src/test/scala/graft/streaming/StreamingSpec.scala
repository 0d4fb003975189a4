package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ingest.ConsumerPlan

/** SURVEY §2.11: the reference consumer pipeline (J1→P1–P4→foreachBatch
  * stats) driven through a MemoryStream with FIXTURES-shaped JSON — the
  * hermetic stand-in for the Kafka source (same downstream plan).
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def docJson(domain: String, filename: String, content: String): String =
    s"""{"domain":"$domain","filename":"$filename","content":"$content","file_path":"/$domain/$filename"}"""

  /** (key, value) columns -> Kafka-envelope shape: binary key/value +
    * fixed timestamp. The single definition all envelope tests share.
    */
  private def toEnvelope(df: org.apache.spark.sql.DataFrame) =
    df.toDF("k", "v").select(
      $"k".cast("binary").as("key"),
      $"v".cast("binary").as("value"),
      lit(Timestamp.valueOf("2024-01-01 00:00:10")).as("timestamp"))

  private def envelopeStream(input: MemoryStream[(String, String)]) =
    toEnvelope(input.toDF())

  private def envelopeOf(rows: Seq[(String, String)]) =
    toEnvelope(rows.toDF("k", "v"))

  test("consumer plan: decode, flatten, null-reject malformed JSON") {
    val envelope = envelopeOf(Seq(
      ("a_d1", docJson("a", "d1.txt", "xxxx")),
      ("a_d2", docJson("a", "d2.txt", "yyyyyy")),
      ("b_d3", docJson("b", "d3.txt", "zz")),
      ("bad", "{not valid json")))
    val docs = ConsumerPlan(envelope)
    val rows = docs.orderBy($"kafka_key").collect()
    assert(rows.length == 3) // malformed row filtered (P4)
    assert(rows.map(_.getAs[String]("domain")).toSeq == Seq("a", "a", "b"))
    assert(rows.head.getAs[String]("content") == "xxxx")
    assert(rows.head.getAs[Timestamp]("kafka_timestamp") != null)
  }

  test("producer encode round-trips through the consumer decode") {
    val docs = Seq(("a", "f1.txt", "nội dung tiếng Việt", "/a/f1.txt"))
      .toDF("domain", "filename", "content", "file_path")
    val env = ConsumerPlan.encodeEnvelope(docs)
      .select($"key".cast("binary"), $"value".cast("binary"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("timestamp"))
    val back = ConsumerPlan(env).collect().head
    assert(back.getAs[String]("kafka_key") == "a_f1.txt")
    assert(back.getAs[String]("content") == "nội dung tiếng Việt")
    assert(back.getAs[String]("file_path") == "/a/f1.txt")
  }

  test("batchStats: one-pass totals, domain map, size stats") {
    val docs = Seq(
      ("a", "aaaa"), ("a", "bb"), ("b", "cccccc")
    ).toDF("domain", "content")
    val stats = StreamingStats.batchStats(docs, batchId = 7L).collect().head
    assert(stats.getAs[Long]("batch_id") == 7L)
    assert(stats.getAs[Long]("total_documents") == 3L)
    assert(stats.getAs[Map[String, Long]]("domains") == Map("a" -> 2L, "b" -> 1L))
    val size = stats.getAs[Map[String, Long]]("size_stats")
    assert(size("nhỏ nhất") == 2L && size("lớn nhất") == 6L &&
      size("tổng") == 12L && size("trung bình") == 4L)
  }

  test("streaming foreachBatch stats sink: per-batch rows, empty batch short-circuits") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val docs = ConsumerPlan(envelopeStream(input))
    val statsPath = Files.createTempDirectory("stats").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val query = StreamingStats.statsSink(docs, statsPath, ckpt, triggerMs = 50L).start()
    try {
      input.addData(("a_1", docJson("a", "1.txt", "aaaa")), ("b_2", docJson("b", "2.txt", "bb")))
      query.processAllAvailable()
      input.addData(("bad", "{malformed")) // all rows filtered -> empty batch
      query.processAllAvailable()
      input.addData(("c_3", docJson("c", "3.txt", "cccccc")))
      query.processAllAvailable()
    } finally query.stop()
    val stats = spark.read.parquet(statsPath).orderBy($"batch_id")
    val rows = stats.collect()
    assert(rows.length == 2, "empty batch must not write a stats row")
    assert(rows(0).getAs[Long]("total_documents") == 2L)
    assert(rows(1).getAs[Long]("total_documents") == 1L)
    // A5/A6 rollups over the persisted stats table
    val roll = StreamingStats.rollupStats(stats).collect()
    assert(roll.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 1L), ("c", 1L)))
    assert(StreamingStats.topDomains(stats, 2).count() == 2)
  }

  test("rate-limited ingestion: bounded chunks per trigger produce per-batch stats") {
    // O4 semantics check: with a bounded number of records admitted per
    // trigger (maxOffsetsPerTrigger on a real Kafka source; chunked
    // addData on MemoryStream — the same micro-batch boundary mechanism),
    // each trigger yields its OWN stats row with that chunk's counts,
    // instead of one merged row for the backlog.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val docs = ConsumerPlan(envelopeStream(input))
    val statsPath = Files.createTempDirectory("stats_rate").toString
    val ckpt = Files.createTempDirectory("ckpt_rate").toString
    val query = StreamingStats.statsSink(docs, statsPath, ckpt, triggerMs = 50L).start()
    val chunkSizes = Seq(4, 2, 3)
    try {
      chunkSizes.zipWithIndex.foreach { case (sz, chunk) =>
        input.addData((0 until sz).map(i =>
          (s"d${chunk}_$i", docJson(s"dom$chunk", s"f$i.txt", "x" * (i + 1)))))
        query.processAllAvailable() // trigger boundary: one micro-batch per chunk
      }
    } finally query.stop()
    val rows = spark.read.parquet(statsPath).orderBy($"batch_id").collect()
    assert(rows.length == chunkSizes.length,
      s"each bounded chunk must produce exactly one stats row, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("total_documents")).toSeq ==
      chunkSizes.map(_.toLong), "per-batch doc counts must match chunk sizes")
    val ids = rows.map(_.getAs[Long]("batch_id"))
    assert(ids.sameElements(ids.sorted) && ids.distinct.length == ids.length,
      "batch ids advance monotonically, one per trigger")
  }

  test("stats sink restarts from checkpoint without reprocessing old batches") {
    implicit val sqlCtx = spark.sqlContext
    val statsPath = Files.createTempDirectory("stats_restart").toString
    val ckpt = Files.createTempDirectory("ckpt_restart").toString

    val input = MemoryStream[(String, String)]
    val docs = ConsumerPlan(envelopeStream(input))
    val q1 = StreamingStats.statsSink(docs, statsPath, ckpt, triggerMs = 50L).start()
    try {
      input.addData(("a_1", docJson("a", "1.txt", "aaaa")))
      q1.processAllAvailable()
    } finally q1.stop()
    val afterFirst = spark.read.parquet(statsPath).count()
    assert(afterFirst == 1)

    // second query, SAME source + checkpoint: offsets resume where the
    // first run committed, batch ids advance, nothing reprocesses
    val q2 = StreamingStats.statsSink(docs, statsPath, ckpt, triggerMs = 50L).start()
    try {
      input.addData(("b_2", docJson("b", "2.txt", "bb")))
      q2.processAllAvailable()
    } finally q2.stop()
    val stats = spark.read.parquet(statsPath).orderBy($"batch_id").collect()
    assert(stats.length == 2, "restart must not duplicate the first batch's stats")
    assert(stats.map(_.getAs[Long]("batch_id")).distinct.length == 2,
      "batch ids must advance across the restart")
  }

  test("session windows: gap-separated bursts close as distinct sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val docs = input.toDF().toDF("domain", "kafka_timestamp")
    // 30s gap: events at :01/:09/:25 chain one session (each within 30s
    // of the previous); :02:00 starts a new one. Append mode emits a
    // session only after the watermark passes its end, so a far-future
    // event closes everything deterministically.
    val sessions = StreamingStats.sessionWindowCounts(docs, "30 seconds", "10 seconds")
    val query = sessions.writeStream.format("memory")
      .queryName("sw_test").outputMode("append").start()
    try {
      input.addData(
        ("a", Timestamp.valueOf("2024-01-01 00:00:01")),
        ("a", Timestamp.valueOf("2024-01-01 00:00:09")),
        ("a", Timestamp.valueOf("2024-01-01 00:00:25")),
        ("a", Timestamp.valueOf("2024-01-01 00:02:00")),
        ("b", Timestamp.valueOf("2024-01-01 00:00:05")))
      query.processAllAvailable()
      input.addData(("z", Timestamp.valueOf("2024-01-01 01:00:00"))) // advance watermark
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("sw_test")
      .orderBy($"domain", $"session_start").collect()
      .map(r => (r.getString(2), r.getAs[Timestamp]("session_start").toString,
        r.getAs[Timestamp]("session_end").toString, r.getLong(3)))
    assert(rows.toSeq == Seq(
      ("a", "2024-01-01 00:00:01.0", "2024-01-01 00:00:55.0", 3L), // merged burst
      ("a", "2024-01-01 00:02:00.0", "2024-01-01 00:02:30.0", 1L), // after the gap
      ("b", "2024-01-01 00:00:05.0", "2024-01-01 00:00:35.0", 1L)))
  }

  test("watermarked tumbling-window counts over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val docs = input.toDF().toDF("domain", "kafka_timestamp")
    val windowed = StreamingStats.windowedDomainCounts(docs, "10 seconds", "1 minute")
    val query = windowed.writeStream.format("memory")
      .queryName("wc_test").outputMode("complete").start()
    try {
      input.addData(
        ("a", Timestamp.valueOf("2024-01-01 00:00:01")),
        ("a", Timestamp.valueOf("2024-01-01 00:00:09")),
        ("a", Timestamp.valueOf("2024-01-01 00:00:11")),
        ("b", Timestamp.valueOf("2024-01-01 00:00:03")))
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("wc_test")
      .orderBy($"win_start", $"domain").collect()
      .map(r => (r.getAs[Timestamp]("win_start").toString, r.getString(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      ("2024-01-01 00:00:00.0", "a", 2L),
      ("2024-01-01 00:00:00.0", "b", 1L),
      ("2024-01-01 00:00:10.0", "a", 1L)))
  }

  test("streaming decontamination: per-batch hashed-probe check matches batch mode") {
    implicit val sqlCtx = spark.sqlContext
    // eval doc: 7 tokens -> three 5-token shingles
    val evalText = "alpha beta gamma delta epsilon zeta eta"
    val evalDocs = Seq((1000L, evalText)).toDF("doc_id", "text")
    val train = Seq(
      1L -> evalText,                                       // exact leak: 3/3
      2L -> "alpha beta gamma delta epsilon unrelated words here now", // 1/5
      3L -> "totally different content with no shared phrases at all", // clean
      4L -> "eta zeta epsilon delta gamma beta alpha")      // reversed: clean
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("decon_out").toString
    val ckpt = Files.createTempDirectory("decon_ckpt").toString
    val query = graft.ext.Corpus.decontaminationSink(
      input.toDF().toDF("doc_id", "text"), evalDocs, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(train(0), train(1))
      query.processAllAvailable()
      input.addData(train(2), train(3)) // no hits -> batch appends nothing
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out)
      .select($"doc_id", $"n_shingles", $"n_contaminated", $"contamination")
      .collect().map(_.toSeq).toSet
    // per-doc results depend only on the doc and the eval set, so the
    // union of per-batch outputs must equal the one-shot batch result
    val batch = graft.ext.Corpus
      .decontaminationStatsAgainst(train.toDF("doc_id", "text"), evalDocs)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(byDoc(1L) == ((3L, 1.0)), "exact leak must be 100% contaminated")
    assert(byDoc(2L)._1 == 1L, "partial overlap shares one shingle")
    assert(!byDoc.contains(3L) && !byDoc.contains(4L), "clean docs absent")
  }

  test("streaming span dedup: per-batch stats vs static keepers match batch mode") {
    implicit val sqlCtx = spark.sqlContext
    // base corpus owns the passage's three 5-gram spans
    val passage = "alpha beta gamma delta epsilon zeta eta"
    val keepers = graft.ext.Cleaning.keeperSpanHashes(
      Seq(100L -> passage).toDF("doc_id", "text"))
    val arrivals = Seq(
      1L -> s"$passage tail1 tail2 tail3",                      // 6 spans, 3 owned
      2L -> "totally fresh content with no shared passages at all", // clean
      3L -> "too short")                                        // 0 spans
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("span_out").toString
    val ckpt = Files.createTempDirectory("span_ckpt").toString
    val query = graft.ext.Cleaning.spanDedupSink(
      input.toDF().toDF("doc_id", "text"), keepers, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals(0), arrivals(1))
      query.processAllAvailable()
      input.addData(arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    // per-doc results depend only on the doc and the keeper set, so the
    // union of per-batch outputs must equal the one-shot batch result
    val batch = graft.ext.Cleaning
      .spanDedupStatsAgainst(arrivals.toDF("doc_id", "text"), keepers)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(byDoc(1L) == ((6L, 3L, false)),
      s"passage doc: 3 of 6 spans owned by the base, dropped at 0.5: $byDoc")
    assert(byDoc(2L)._2 == 0L && byDoc(2L)._3, "clean doc keeps")
    assert(byDoc(3L) == ((0L, 0L, true)), "short doc reports zero spans, keeps")
  }

  test("streaming paragraph dedup: per-batch stats vs frozen keeper paragraphs match batch mode") {
    implicit val sqlCtx = spark.sqlContext
    // base corpus owns one boilerplate paragraph
    val boiler = "all rights reserved contact us at example"
    val base = Seq(100L -> s"base opening\n\n$boiler").toDF("doc_id", "text")
    val arrivals = Seq(
      1L -> s"fresh intro\n\n$boiler\n\nfresh closing",  // 3 paras, 1 owned
      2L -> s"  $boiler  ",                              // trim-identical: whole doc owned
      3L -> "entirely new paragraph\n\nanother new one") // clean
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("para_out").toString
    val ckpt = Files.createTempDirectory("para_ckpt").toString
    val query = graft.ext.Cleaning.paragraphDedupSink(
      input.toDF().toDF("doc_id", "text"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals(0), arrivals(1))
      query.processAllAvailable()
      input.addData(arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Cleaning
      .paragraphDedupStatsAgainst(arrivals.toDF("doc_id", "text"),
        graft.ext.Cleaning.keeperParagraphHashes(base))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(byDoc(1L) == ((3L, 1L, false)),
      s"quoting doc: 1 of 3 paragraphs owned by the base, dropped at 1/3: $byDoc")
    assert(byDoc(2L) == ((1L, 1L, false)),
      s"whole-doc boilerplate (whitespace-variant) must be removed: $byDoc")
    assert(byDoc(3L) == ((2L, 0L, true)), "clean doc keeps")
  }

  test("streaming url dedup: recrawl of a base-owned URL flagged; batch parity holds") {
    implicit val sqlCtx = spark.sqlContext
    val base = Seq(
      100L -> "https://news.example.com/articles/1?a=1",
      101L -> "https://news.example.com/articles/2").toDF("doc_id", "url")
    val arrivals = Seq(
      // recrawl of article 1, dressed: case + port + slash + tracker
      1L -> "HTTPS://News.Example.COM:443/articles/1/?a=1&utm_source=rss",
      2L -> "https://news.example.com/articles/9",  // fresh URL
      3L -> "https://news.example.com/articles/2#top") // fragment recrawl
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("url_out").toString
    val ckpt = Files.createTempDirectory("url_ckpt").toString
    val query = graft.ext.Cleaning.urlDedupSink(
      input.toDF().toDF("doc_id", "url"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals(0), arrivals(1))
      query.processAllAvailable()
      input.addData(arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Cleaning
      .urlDedupAgainst(arrivals.toDF("doc_id", "url"),
        graft.ext.Cleaning.keeperCanonUrls(base))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(byDoc(1L) == ((100L, true)), s"dressed recrawl must flag: $byDoc")
    assert(byDoc(2L) == ((2L, false)), s"fresh URL keeps itself: $byDoc")
    assert(byDoc(3L) == ((101L, true)), s"fragment recrawl must flag: $byDoc")
  }

  test("streaming c4 cleaner: per-batch cleaned output unions to batch mode") {
    implicit val sqlCtx = spark.sqlContext
    val good = "This line carries plenty of proper words and ends well."
    val arrivals = Seq(
      1L -> s"$good\nfragment\n$good\n$good",       // kept: 3 good lines
      2L -> s"$good\n$good",                        // too short -> dropped
      3L -> s"$good\n$good\n$good\nbad { brace")    // page poison -> dropped
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("c4_out").toString
    val ckpt = Files.createTempDirectory("c4_ckpt").toString
    val query = graft.ext.Cleaning.c4CleanedSink(
      input.toDF().toDF("doc_id", "text"), out, ckpt, triggerMs = 50L).start()
    try {
      input.addData(arrivals(0), arrivals(1))
      query.processAllAvailable()
      input.addData(arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Cleaning.c4CleanedDocs(arrivals.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val kept = spark.read.parquet(out).collect()
    assert(kept.length == 1 && kept.head.getLong(0) == 1L &&
      kept.head.getString(1) == Seq(good, good, good).mkString("\n"),
      s"only doc 1 survives, cleaned: ${kept.toList}")
  }

  test("streaming semantic-outlier monitor: frozen centroids score arrivals; batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val baseDocs = Seq((0L, "srcA"), (1L, "srcA"), (2L, "srcA"))
      .toDF("doc_id", "source")
    val baseEmb = Seq(
      0L -> Array(1.0f, 0.00f, 0f, 0f),
      1L -> Array(1.0f, 0.01f, 0f, 0f),
      2L -> Array(1.0f, 0.02f, 0f, 0f)).toDF("vec_id", "embedding")
    val arrivals = Seq(
      (100L, "srcA", Array(1.0f, 0.01f, 0f, 0f)),  // on-topic
      (101L, "srcA", Array(0f, 0f, 1.0f, 0f)),     // orthogonal drift
      (102L, "srcZ", Array(1.0f, 0f, 0f, 0f)))     // uncovered domain
    val input = MemoryStream[(Long, String, Array[Float])]
    val out = Files.createTempDirectory("outlier_out").toString
    val ckpt = Files.createTempDirectory("outlier_ckpt").toString
    val query = graft.ext.Similarity.semanticOutlierSink(
      input.toDF().toDF("doc_id", "source", "embedding"),
      baseDocs, baseEmb, out, ckpt, triggerMs = 50L).start()
    try {
      input.addData(arrivals(0), arrivals(1))
      query.processAllAvailable()
      input.addData(arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Similarity
      .semanticOutliersAgainst(arrivals.toDF("doc_id", "source", "embedding"),
        graft.ext.Similarity.domainCentroidsDf(
          graft.ext.Similarity.labeledEmbeddings(baseDocs, baseEmb)))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(2)), r.getBoolean(3)))).toMap
    assert(!byDoc(100L)._2 && byDoc(100L)._1.exists(_.asInstanceOf[Double] > 0.9),
      s"on-topic arrival must not flag: $byDoc")
    assert(byDoc(101L)._2, s"orthogonal arrival must flag: $byDoc")
    assert(byDoc(102L) == ((None, false)),
      s"uncovered domain passes un-scored, not as an outlier: $byDoc")
  }

  test("streaming boilerplate cleaner: frozen per-domain dictionary cleans arrivals; batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val banner = "Subscribe to our newsletter for updates today."
    val base = (0L to 9L).map(i =>
      (i, "srcA", s"unique line number $i stays right here.\n$banner"))
      .toDF("doc_id", "source", "text")  // banner df 10/10 in srcA -> flagged
    val arrivals = Seq(
      (100L, "srcA", s"$banner\nfresh content line one hundred."),
      (101L, "srcB", s"$banner\nother domain keeps its banner."))
    val input = MemoryStream[(Long, String, String)]
    val out = Files.createTempDirectory("boiler_out").toString
    val ckpt = Files.createTempDirectory("boiler_ckpt").toString
    val query = graft.ext.Cleaning.boilerplateCleanSink(
      input.toDF().toDF("doc_id", "source", "text"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals(0))
      query.processAllAvailable()
      input.addData(arrivals(1))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Cleaning
      .boilerplateCleanedAgainst(arrivals.toDF("doc_id", "source", "text"),
        graft.ext.Cleaning.boilerplateDictDf(base))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(byDoc(100L) == ((1L, "fresh content line one hundred.")),
      s"srcA arrival must lose the frozen banner: $byDoc")
    assert(byDoc(101L)._1 == 0L && byDoc(101L)._2.contains(banner),
      s"the dictionary is per-domain — srcB keeps the line: $byDoc")
  }

  test("streaming exact dedup: frozen content hashes flag re-posted text; batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val base = Seq(100L -> "shared boilerplate body", 101L -> "original essay")
      .toDF("doc_id", "text")
    val arrivals = Seq(
      1L -> "shared boilerplate body",  // exact re-post
      2L -> "genuinely new content")
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("xd_out").toString
    val ckpt = Files.createTempDirectory("xd_ckpt").toString
    val query = graft.ext.Dedup.exactDedupSink(
      input.toDF().toDF("doc_id", "text"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Dedup.exactDedupAgainst(
        arrivals.toDF("doc_id", "text"),
        graft.ext.Dedup.keeperContentHashes(base))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(byDoc(1L) == ((100L, true)) && byDoc(2L) == ((2L, false)), s"$byDoc")
  }

  test("streaming incremental minhash: arrivals probe the frozen band index; batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val passage = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearCopy = (1 to 60).map(i => if (i % 20 == 0) s"X$i" else s"tok$i").mkString(" ")
    val fresh = (1 to 60).map(i => s"other$i").mkString(" ")
    val base = Seq(100L -> passage).toDF("doc_id", "text")
    val arrivals = Seq(1L -> nearCopy, 2L -> fresh)
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("mh_out").toString
    val ckpt = Files.createTempDirectory("mh_ckpt").toString
    val query = graft.ext.Dedup.minhashDedupSink(
      input.toDF().toDF("doc_id", "text"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals(0))
      query.processAllAvailable()
      input.addData(arrivals(1))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Dedup.minhashNearDupsAgainst(
        arrivals.toDF("doc_id", "text"),
        graft.ext.Dedup.minhashBandIndex(base))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L &&
      rows.head.getLong(1) == 100L && rows.head.getDouble(2) > 0.5,
      s"only the near-copy arrival may flag: ${rows.toList}")
  }

  test("streaming winnow-accelerated span dedup: candidate prefilter keeps batch parity") {
    implicit val sqlCtx = spark.sqlContext
    // base passage spans >= w + n - 1 = 8 tokens, so an arrival copying
    // it MUST be flagged a candidate by its winnowed fingerprints and
    // then exact-checked — per-doc output equals spanDedupStatsAgainst
    val passage = (1 to 10).map(i => s"base$i").mkString(" ")
    val base = Seq(100L -> s"$passage closing words here").toDF("doc_id", "text")
    val keepers = graft.ext.Cleaning.keeperSpanHashes(base)
    val baseFps = graft.ext.Cleaning.winnowKeeperFingerprints(base)
    val arrivals = Seq(
      1L -> s"$passage tail1 tail2 tail3",                        // copies the passage
      2L -> "totally fresh content with no shared passages at all", // non-candidate
      3L -> "too short")
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("wspan_out").toString
    val ckpt = Files.createTempDirectory("wspan_ckpt").toString
    val query = graft.ext.Cleaning.winnowSpanDedupSink(
      input.toDF().toDF("doc_id", "text"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals(0), arrivals(1))
      query.processAllAvailable()
      input.addData(arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batchWin = graft.ext.Cleaning
      .winnowSpanDedupStatsAgainst(arrivals.toDF("doc_id", "text"), baseFps, keepers)
      .collect().map(_.toSeq).toSet
    assert(streamed == batchWin, s"streamed $streamed != batch $batchWin")
    // and the winnow-accelerated batch equals the exact Against form on
    // this guarantee-length fixture (the planted-passage contract)
    val batchExact = graft.ext.Cleaning
      .spanDedupStatsAgainst(arrivals.toDF("doc_id", "text"), keepers)
      .collect().map(_.toSeq).toSet
    assert(batchWin == batchExact, s"winnow $batchWin != exact $batchExact")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(byDoc(1L)._2 == 6L, s"all six passage spans owned by the base: $byDoc")
    assert(byDoc(2L)._2 == 0L && byDoc(2L)._3, "non-candidate doc keeps with zero removed")
    assert(byDoc(3L) == ((0L, 0L, true)), "short doc reports zero spans, keeps")
  }

  test("streaming backoff LM scoring: per-batch scores vs frozen table match batch mode") {
    implicit val sqlCtx = spark.sqlContext
    // base corpus: 11 trigrams total (the backoff separation fixture)
    val base = ((1L to 5L).map(i => i -> "x a b") ++
      (11L to 15L).map(i => i -> "y a c") :+ (31L -> "p q r"))
      .toDF("doc_id", "text")
    val table = graft.ext.TextAnalysis.backoffScoreTable(graft.ext.TextAnalysis.tokenized(base))
    val arrivals = Seq(
      1L -> "x a b",    // known trigram: scored from the table
      2L -> "p q zzz",  // trigram the base never saw -> OOV floor
      3L -> "only two") // no trigram, absent from output
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("lm_out").toString
    val ckpt = Files.createTempDirectory("lm_ckpt").toString
    val query = graft.ext.TextAnalysis.backoffScoreSink(
      input.toDF().toDF("doc_id", "text"), table, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals(0))
      query.processAllAvailable()
      input.addData(arrivals(1), arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.TextAnalysis
      .backoffScoreAgainst(graft.ext.TextAnalysis.tokenized(arrivals.toDF("doc_id", "text")), table)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // known trigram scores exactly as the batch operator's table rule:
    // c3(x a b) = 5 >= 2 over ctx2(x, a) = 5
    assert(byDoc(1L) == math.floor(math.log(5.0 / 5) * 1e6 + 0.5) / 1e6)
    // OOV floor: alpha^2 / (N + 1) with N = 11 base trigrams
    assert(byDoc(2L) == math.floor(math.log(0.5 * 0.5 / 12) * 1e6 + 0.5) / 1e6,
      s"OOV doc must take the floor: ${byDoc(2L)}")
    assert(!byDoc.contains(3L), "two-token docs open no trigram")
  }

  test("streaming smoothed-LM scoring: frozen WB/KN tables match batch mode, OOV floored") {
    implicit val sqlCtx = spark.sqlContext
    // base corpus: repeated and singleton 5-grams so WB/KN smoothing has
    // both predictable and diverse contexts to weigh
    val base = ((1L to 5L).map(i => i -> "x a b c d") ++
      (11L to 13L).map(i => i -> "y a b c e") :+ (31L -> "p q r s t"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      1L -> "x a b c d",       // known 5-gram: scored from the table
      2L -> "p q r s zzz",     // 5-gram the base never saw -> OOV floor
      3L -> "just four tokens") // no 5-gram, absent from output
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    val ckpts = Seq(
      ("wb", graft.ext.TextAnalysis.wbScoreTableDf(base)),
      ("kn", graft.ext.TextAnalysis.knScoreTableDf(base))).map { case (tag, table) =>
      val input = MemoryStream[(Long, String)]
      val out = Files.createTempDirectory(s"sm_${tag}_out").toString
      val ckpt = Files.createTempDirectory(s"sm_${tag}_ckpt").toString
      val query = graft.ext.TextAnalysis.smoothedScoreSink(
        input.toDF().toDF("doc_id", "text"), table, out, ckpt,
        triggerMs = 50L).start()
      try {
        // while the stream runs, the sink's frozen table is pinned
        assert(spark.sparkContext.getPersistentRDDs.size > pinnedBefore,
          s"$tag: running sink must hold its frozen table pinned")
        input.addData(arrivals(0))
        query.processAllAvailable()
        input.addData(arrivals(1), arrivals(2))
        query.processAllAvailable()
      } finally query.stop()
      val streamed = spark.read.parquet(out).drop("batch_id")
        .collect().map(_.toSeq).toSet
      val batch = graft.ext.TextAnalysis
        .smoothedScoreAgainst(graft.ext.TextAnalysis.tokenized(arrivals.toDF("doc_id", "text")), table)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, s"$tag: streamed $streamed != batch $batch")
      val byDoc = spark.read.parquet(out).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      // OOV floor is exactly half the smallest in-table probability
      val mlpMin = table.agg(min(col("mlp"))).collect()(0).getLong(0)
      assert(byDoc(2L) == (mlpMin - 693147L).toDouble / 1e6,
        s"$tag: OOV doc must take the floor: ${byDoc(2L)} vs table min $mlpMin")
      assert(byDoc(2L) < byDoc(1L), s"$tag: OOV must score below a base 5-gram")
      assert(!byDoc.contains(3L), s"$tag: four-token docs open no 5-gram")
      ckpt
    }
    // the autoRelease listener (installed by SparkTestBase/LocalSession)
    // unpersists each sink's pinned table when its query terminates —
    // the termination event is async, so wait bounded for the drain
    val deadline = System.currentTimeMillis + 20000
    while (spark.sparkContext.getPersistentRDDs.size != pinnedBefore &&
           System.currentTimeMillis < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.size == pinnedBefore,
      "query termination must auto-release the sink's frozen table")
    assert(ckpts.forall(c => !graft.ext.Freeze.pinnedScopes
        .contains(java.nio.file.Paths.get(c).toAbsolutePath.normalize.toString)),
      "terminated sinks must leave no registered scope behind")
    // manual release stays a harmless idempotent no-op
    ckpts.foreach(graft.ext.Freeze.release)
    assert(spark.sparkContext.getPersistentRDDs.size == pinnedBefore)
  }

  test("streaming mixture filter: frozen plan, content-deterministic keeps, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // base corpus: 'web' is token-heavy so its sample_rate lands < 1,
    // 'ref' is small so it keeps everything (rate clamps to 1.0)
    val base = ((1L to 40L).map(i =>
      (i, "web1", (1 to 50).map(j => s"w${i}_$j").mkString(" "))) ++
      (101L to 103L).map(i => (i, "ref2", s"ref doc $i short")))
      .toDF("doc_id", "source", "text")
    val arrivals = base.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val input = MemoryStream[(Long, String, String)]
    val out = Files.createTempDirectory("mix_out").toString
    val ckpt = Files.createTempDirectory("mix_ckpt").toString
    val query = graft.ext.Corpus.mixtureFilterSink(
      input.toDF().toDF("doc_id", "source", "text"), base, out, ckpt,
      budgetTokens = 800L, triggerMs = 50L).start()
    try {
      input.addData(arrivals.take(20): _*); query.processAllAvailable()
      input.addData(arrivals.drop(20): _*); query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val plan = graft.ext.Corpus.mixturePlanDf(base, budgetTokens = 800L)
      .select(col("source"), col("sample_rate"))
    val batch = graft.ext.Corpus.mixtureFilterAgainst(base, plan)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    // the plan actually filters: web subsampled, ref kept whole
    val bySource = streamed.groupBy(_(1))
    assert(bySource("ref2").size == 3, "rate-1.0 source keeps everything")
    assert(bySource("web1").size < 40 && bySource("web1").nonEmpty,
      s"sub-1.0 source must be thinned: ${bySource("web1").size}/40 kept")
    graft.ext.Freeze.release(ckpt)
  }

  test("streaming ANN serving: frozen SQ index answers arriving queries, batch-split invariant") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // three well-separated clusters; single cell (nlist=1) so pruning
    // is exact and the expected neighbors are unambiguous
    val base = Seq(
      (0L, Array(10f, 0f, 0f)), (1L, Array(9f, 1f, 0f)),
      (2L, Array(0f, 10f, 0f)), (3L, Array(1f, 9f, 0f)),
      (4L, Array(0f, 0f, 10f)), (5L, Array(0f, 1f, 9f)))
      .toDF("vec_id", "embedding")
    val batch1 = Seq((100L, Array(1f, 0f, 0f)))
    val batch2 = Seq((101L, Array(0f, 1f, 0f)), (102L, Array(0f, 0f, 1f)))
    def serve(batches: Seq[Seq[(Long, Array[Float])]]): Set[Seq[Any]] = {
      val input = MemoryStream[(Long, Array[Float])]
      val out = Files.createTempDirectory("ann_out").toString
      val ckpt = Files.createTempDirectory("ann_ckpt").toString
      val query = graft.ext.Similarity.annServeSink(
        input.toDF().toDF("vec_id", "embedding"), base, out, ckpt,
        k = 2, nlist = 1, triggerMs = 50L).start()
      try {
        batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
      } finally query.stop()
      graft.ext.Freeze.release(ckpt)
      spark.read.parquet(out).drop("batch_id").collect().map(_.toSeq).toSet
    }
    val split = serve(Seq(batch1, batch2))
    val oneShot = serve(Seq(batch1 ++ batch2))
    assert(split == oneShot, s"batch split changed results: $split vs $oneShot")
    // nearest cluster member ranks first for each query
    val top1 = split.toSeq.filter(_(1) == 1).map(r => r(0) -> r(2)).toMap
    assert(top1 == Map(100L -> 0L, 101L -> 2L, 102L -> 4L),
      s"wrong nearest neighbors: $top1")
  }

  test("streaming graph-ANN serving: frozen kNN graph answers arriving queries, batch-split invariant") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // three well-separated clusters; the kNN graph connects everything
    // within 8 beam rounds, so the beam finds the exact neighbors
    val base = Seq(
      (0L, Array(10f, 0f, 0f)), (1L, Array(9f, 1f, 0f)),
      (2L, Array(0f, 10f, 0f)), (3L, Array(1f, 9f, 0f)),
      (4L, Array(0f, 0f, 10f)), (5L, Array(0f, 1f, 9f)))
      .toDF("vec_id", "embedding")
    val batch1 = Seq((100L, Array(1f, 0f, 0f)))
    val batch2 = Seq((101L, Array(0f, 1f, 0f)), (102L, Array(0f, 0f, 1f)))
    def serve(batches: Seq[Seq[(Long, Array[Float])]]): Set[Seq[Any]] = {
      val input = MemoryStream[(Long, Array[Float])]
      val out = Files.createTempDirectory("gann_out").toString
      val ckpt = Files.createTempDirectory("gann_ckpt").toString
      val query = graft.ext.Similarity.graphAnnServeSink(
        input.toDF().toDF("vec_id", "embedding"), base, out, ckpt,
        k = 2, triggerMs = 50L).start()
      try {
        batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
      } finally query.stop()
      graft.ext.Freeze.release(ckpt)
      spark.read.parquet(out).drop("batch_id").collect().map(_.toSeq).toSet
    }
    val split = serve(Seq(batch1, batch2))
    val oneShot = serve(Seq(batch1 ++ batch2))
    assert(split == oneShot, s"batch split changed results: $split vs $oneShot")
    // union of batches equals the one-shot serve-mode reference kernel
    val once = graft.ext.Similarity.graphAnnServeOnce(
      (batch1 ++ batch2).toDF("vec_id", "embedding"), base, k = 2)
      .collect().map(_.toSeq).toSet
    assert(split == once, s"sink diverged from the one-shot kernel: $split vs $once")
    // nearest cluster member ranks first for each query
    val top1 = split.toSeq.filter(_(1) == 1).map(r => r(0) -> r(2)).toMap
    assert(top1 == Map(100L -> 0L, 101L -> 2L, 102L -> 4L),
      s"wrong nearest neighbors: $top1")
    // BUCKETED serve state drives the same stream to the same results
    // (the long-lived-snapshot deployment shape; nothing frozen/pinned)
    val prefix = s"gann_sink_state_${System.nanoTime()}"
    val (embT, edgesT) =
      graft.ext.Similarity.bucketedAnnState(spark, base, prefix, buckets = 4)
    try {
      val input = MemoryStream[(Long, Array[Float])]
      val out = Files.createTempDirectory("gannb_out").toString
      val ckpt = Files.createTempDirectory("gannb_ckpt").toString
      val query = graft.ext.Similarity.graphAnnServeSinkOn(
        input.toDF().toDF("vec_id", "embedding"), embT, edgesT, entry = 0L,
        out, ckpt, k = 2, triggerMs = 50L).start()
      try {
        Seq(batch1, batch2).foreach { b =>
          input.addData(b: _*); query.processAllAvailable() }
      } finally query.stop()
      val bucketed = spark.read.parquet(out).drop("batch_id")
        .collect().map(_.toSeq).toSet
      assert(bucketed == split,
        s"bucketed-state sink diverged from the frozen-state sink: $bucketed vs $split")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_emb")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_edges")
    }
  }

  test("streaming semantic decontamination: frozen eval slice, per-batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // base: eval ids 7 (axis 0) and 27 (axis 1); arrivals avoid %20==7
    // so batch-mode eval on (base ∪ arrivals) is exactly base's slice
    val base = Seq(
      (7L, Array(1f, 0f, 0f)), (27L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val batch1 = Seq((1L, Array(2f, 0f, 0f)), (2L, Array(0f, 0f, 5f)))
    // id 47 lands on the base's eval residue (47 % 20 == 7) — external
    // arrivals are ALL corpus vectors to check, so it must be scored
    val batch2 = Seq((3L, Array(0f, 0f, 0f)), (4L, Array(0f, 3f, 0f)),
      (47L, Array(5f, 0f, 0f)))
    val input = MemoryStream[(Long, Array[Float])]
    val out = Files.createTempDirectory("semdecon_out").toString
    val ckpt = Files.createTempDirectory("semdecon_ckpt").toString
    val query = graft.ext.Similarity.semanticDecontaminationSink(
      input.toDF().toDF("vec_id", "embedding"), base, out, ckpt,
      tau = 0.9, triggerMs = 50L).start()
    try {
      input.addData(batch1: _*); query.processAllAvailable()
      input.addData(batch2: _*); query.processAllAvailable()
    } finally query.stop()
    val streamedRows = spark.read.parquet(out).drop("batch_id").collect()
    val streamed = streamedRows.filterNot(_.getLong(0) == 47L)
      .map(_.toSeq).toSet
    val all = base.unionAll(
      (batch1 ++ batch2).filterNot(_._1 == 47L).toDF("vec_id", "embedding"))
    val batch = graft.ext.Similarity.semanticDecontaminationDf(all, tau = 0.9)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    // the eval-residue arrival was scored, not silently dropped (the
    // batch form's %20 carve-out applies to the base table, not to
    // external arrivals)
    val r47 = streamedRows.filter(_.getLong(0) == 47L)
    assert(r47.length == 1 && r47.head.getDouble(1) == 1.0 &&
      r47.head.getLong(2) == 7L && r47.head.getBoolean(3),
      s"eval-residue arrival must be scored like any corpus vector: ${r47.toSeq}")
    // oversized-eval refusal holds at sink construction too
    val refusal = intercept[IllegalArgumentException] {
      graft.ext.Similarity.semanticDecontaminationSink(
        input.toDF().toDF("vec_id", "embedding"), base, out, ckpt,
        maxBroadcastEvalBytes = 0L)
    }
    assert(refusal.getMessage.contains("maxBroadcastEvalBytes"))
    graft.ext.Freeze.release(ckpt)
  }

  test("streaming calibration + ROC monitors: frozen base, exact cross-batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val good = "the a of and to in is on for " + (1 to 30).map(i => s"w$i").mkString(" ")
    val junk = Seq.fill(40)("zzzzzzzzzzzz").mkString(" ")
    val base = Seq((1L, good, "en"), (2L, good + " extra", "en"),
      (3L, junk, "de"), (4L, junk + " more", "de")).toDF("doc_id", "text", "lang")
    val batch1 = Seq((10L, good + " one", "en"), (11L, junk + " alt", "de"))
    val batch2 = Seq((12L, good + " two more", "en"), (13L, junk, "en"))
    val all = (batch1 ++ batch2).toDF("doc_id", "text", "lang")

    // ---- calibration monitor
    val inC = MemoryStream[(Long, String, String)]
    val outC = Files.createTempDirectory("calib_out").toString
    val ckptC = Files.createTempDirectory("calib_ckpt").toString
    val qc = graft.ext.TextAnalysis.calibrationSink(
      inC.toDF().toDF("doc_id", "text", "lang"), base, outC, ckptC,
      triggerMs = 50L).start()
    try {
      inC.addData(batch1: _*); qc.processAllAvailable()
      inC.addData(batch2: _*); qc.processAllAvailable()
    } finally qc.stop()
    val calRows = spark.read.parquet(outC)
    // per-batch rows ARE the batch operator's table: batch 1 alone must
    // equal qualityCalibrationDf on batch 1's docs (hist-based form ==
    // direct one-shuffle form, integer sums throughout)
    val b1Stream = calRows.filter(col("batch_id") === 0)
      .drop("base_pos_rate", "drift", "batch_id").collect().map(_.toSeq).toSet
    val b1Batch = graft.ext.TextAnalysis
      .qualityCalibrationDf(batch1.toDF("doc_id", "text", "lang"))
      .collect().map(_.toSeq).toSet
    assert(b1Stream == b1Batch, s"hist-form calibration diverged:\n$b1Stream\n$b1Batch")
    // count columns aggregate exactly across batches
    val streamedCounts = calRows.groupBy(col("bin"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_pos")).as("n_pos"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batchCounts = graft.ext.TextAnalysis.qualityCalibrationDf(all)
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(streamedCounts == batchCounts,
      s"cross-batch counts: $streamedCounts vs $batchCounts")
    // the frozen base column matches the base corpus's batch table
    val basePosRate = graft.ext.TextAnalysis.qualityCalibrationDf(base)
      .collect().map(r => r.getInt(0) -> r.getDouble(4)).toMap
    calRows.collect().foreach { r =>
      val bin = r.getInt(0)
      val bpr = Option(r.get(r.fieldIndex("base_pos_rate"))).map(_.asInstanceOf[Double])
      assert(bpr == basePosRate.get(bin),
        s"bin $bin base_pos_rate $bpr != ${basePosRate.get(bin)}")
    }

    // ---- ROC monitor
    val inR = MemoryStream[(Long, String, String)]
    val outR = Files.createTempDirectory("roc_out").toString
    val ckptR = Files.createTempDirectory("roc_ckpt").toString
    val qr = graft.ext.TextAnalysis.rocSink(
      inR.toDF().toDF("doc_id", "text", "lang"), base, outR, ckptR,
      triggerMs = 50L).start()
    try {
      inR.addData(batch1: _*); qr.processAllAvailable()
      inR.addData(batch2: _*); qr.processAllAvailable()
    } finally qr.stop()
    val rocRows = spark.read.parquet(outR)
    assert(rocRows.count() == 18, "9 thresholds x 2 batches")
    // threshold counts aggregate exactly across batches
    val streamedRoc = rocRows.groupBy(col("threshold"))
      .agg(sum(col("n_pred")).as("n_pred"), sum(col("tp")).as("tp"))
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batchRoc = graft.ext.TextAnalysis.rocPointsDf(all)
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamedRoc == batchRoc, s"cross-batch ROC: $streamedRoc vs $batchRoc")
    // the frozen base columns match the base corpus's batch table
    val baseRoc = graft.ext.TextAnalysis.rocPointsDf(base)
      .collect().map(r => r.getDouble(0) -> ((r.getDouble(4), r.getDouble(5)))).toMap
    rocRows.collect().foreach { r =>
      val th = r.getDouble(0)
      val (btpr, bfpr) = (r.getDouble(r.fieldIndex("base_tpr")),
        r.getDouble(r.fieldIndex("base_fpr")))
      assert((btpr, bfpr) == baseRoc(th), s"threshold $th frozen base drifted")
      assert(r.getDouble(r.fieldIndex("tpr_drift")) ==
        math.rint(math.abs(r.getDouble(4) - btpr) * 1e6) / 1e6)
    }
  }

  test("streaming gopher filter: per-batch verdicts match batch mode") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      1L -> ("the a " + Seq.fill(40)("word").mkString(" ")),   // keeps
      2L -> ("the a " + Seq.fill(10)("word").mkString(" ")),   // too short
      3L -> Seq.fill(42)("word").mkString(" "),                // no stopwords
      4L -> ("the a " + Seq.fill(40)("ab").mkString(" ")))     // mean len < 3
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("gopher_out").toString
    val ckpt = Files.createTempDirectory("gopher_ckpt").toString
    val query = graft.ext.Cleaning.gopherFilterSink(
      input.toDF().toDF("doc_id", "text"), out, ckpt, triggerMs = 50L).start()
    try {
      input.addData(docs(0), docs(1))
      query.processAllAvailable()
      input.addData(docs(2), docs(3))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Cleaning
      .gopherFiltersDf(docs.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val kept = spark.read.parquet(out).filter($"keep").collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L), "only the clean doc keeps")
  }

  test("streaming textrank: per-batch keywords match batch mode") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      1L -> ("spark engine runs the spark plan while the engine keeps " +
        "spark plan state inside engine memory"),
      2L -> ("vector index probes vector cells then index probes merge " +
        "vector cells again"),
      3L -> "a bb cc",                                     // all tokens < minLen (4)
      4L -> ("window frames order window rows and frames bound window " +
        "rows by order"))
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("trk_out").toString
    val ckpt = Files.createTempDirectory("trk_ckpt").toString
    val query = graft.ext.TextAnalysis.textrankSink(
      input.toDF().toDF("doc_id", "text"), out, ckpt, triggerMs = 50L).start()
    try {
      input.addData(docs(0), docs(1))
      query.processAllAvailable()
      input.addData(docs(2), docs(3))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.TextAnalysis
      .textrankKeywordsDf(graft.ext.TextAnalysis.tokenized(docs.toDF("doc_id", "text")))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    assert(streamed.nonEmpty && !streamed.exists(_.head == 3L),
      "the sub-minLen doc must emit no keywords; the others must")
  }

  test("streaming snippets: per-batch KWIC rows match batch mode, non-hits silent") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      1L -> ("the planner picked a hash join over the sort merge join " +
        "because the build side fit in memory"),
      2L -> "no watched phrase anywhere in this arrival",
      3L -> "HASH JOIN leads this one so the window clamps left")
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("snip_out").toString
    val ckpt = Files.createTempDirectory("snip_ckpt").toString
    val query = graft.ext.Search.snippetSink(
      input.toDF().toDF("doc_id", "text"), out, ckpt, triggerMs = 50L).start()
    try {
      input.addData(docs(0), docs(1))
      query.processAllAvailable()
      input.addData(docs(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Search
      .searchSnippetsDf(docs.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    assert(!streamed.exists(_.head == 2L), "the phrase-free doc emits no row")
    assert(streamed.exists(_.head == 3L), "the uppercase hit emits a row")
  }

  test("streaming BPE scoring: frozen merges, per-batch stats match batch mode") {
    implicit val sqlCtx = spark.sqlContext
    // base corpus rich in 'lowest'-family words: merges must bite on
    // arrivals sharing the morphology and fall back to chars elsewhere
    val base = (1L to 20L).map(i =>
      i -> "low lower lowest newest widest low low newest").toDF("doc_id", "text")
    val arrivals = Seq(1L -> "lowest newest low", 2L -> "zq", 3L -> "low low lowest")
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("bpe_out").toString
    val ckpt = Files.createTempDirectory("bpe_ckpt").toString
    val query = graft.ext.TextAnalysis.bpeScoreSink(
      input.toDF().toDF("doc_id", "text"), base, out, ckpt, triggerMs = 50L).start()
    try {
      input.addData(arrivals(0))
      query.processAllAvailable()
      input.addData(arrivals(1), arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val ranks = graft.functions.BpeKernel.train(
      Map("low" -> 60L, "lower" -> 20L, "lowest" -> 20L,
        "newest" -> 40L, "widest" -> 20L), 200)
      .zipWithIndex.map { case (p, i) => p -> i }.toMap
    val batch = graft.ext.TextAnalysis
      .bpeStatsWithRanks(arrivals.toDF("doc_id", "text"), ranks)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    // morphology the base saw compresses; the unseen word stays chars
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byDoc(1L) < "lowestnewestlow".length, "trained merges must compress known words")
    assert(byDoc(2L) == 2L, "unseen bigrams must fall back to one symbol per char")
  }

  test("streaming compression ratio: stateless per-batch stats match batch mode") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(1L -> ("repeat me " * 200).trim,
      2L -> "ordinary words here", 3L -> "")
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("defl_out").toString
    val ckpt = Files.createTempDirectory("defl_ckpt").toString
    val query = graft.ext.TextAnalysis.compressionSink(
      input.toDF().toDF("doc_id", "text"), out, ckpt, triggerMs = 50L).start()
    try {
      input.addData(docs(0), docs(1))
      query.processAllAvailable()
      input.addData(docs(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.TextAnalysis
      .compressionStatsDf(docs.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    assert(spark.read.parquet(out).filter($"too_repetitive").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("streaming k-means assignment: per-batch histograms match batch mode") {
    implicit val sqlCtx = spark.sqlContext
    // fixed model: two centroids on the first axis (micro-int units)
    val cents = Array(Array(0L, 0L), Array(10000000L, 0L))
    val vecs = Seq(
      1L -> Array(0.1f, 0f), 2L -> Array(9.8f, 0f),
      3L -> Array(0.4f, 0f), 4L -> Array(10.3f, 0f))
    val input = MemoryStream[(Long, Array[Float])]
    val out = Files.createTempDirectory("kmeans_out").toString
    val ckpt = Files.createTempDirectory("kmeans_ckpt").toString
    val query = graft.ext.Clustering.assignmentSink(
      input.toDF().toDF("vec_id", "embedding"), cents, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(vecs(0), vecs(1))
      query.processAllAvailable()
      input.addData(vecs(2), vecs(3))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out)
    // every vector assigned to its planted cell, across all batches
    val perCell = streamed.groupBy($"cluster")
      .agg(org.apache.spark.sql.functions.sum($"n_vectors").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perCell == Map(0 -> 2L, 1 -> 2L), s"got $perCell")
    // column-wise union equals the one-shot batch histogram
    val batch = graft.ext.Clustering
      .batchHistogram(vecs.toDF("vec_id", "embedding"), cents)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perCell == batch)
  }

  test("streaming top-K sampler: complete-mode agg converges to the batch result") {
    implicit val sqlCtx = spark.sqlContext
    // the bounded TopKByKey aggregator is merge-associative, so Spark can
    // run it as a streaming stateful aggregation: after all rows arrive,
    // complete-mode output must equal the batch aggregation — the same
    // batch/streaming symmetry contract the other corpus ops have
    val rows = (1L to 120L).map(i => (s"g${i % 3}", f"h${(i * 53) % 97}%03d", i))
    val input = MemoryStream[(String, String, Long)]
    val agg = input.toDF().toDF("g", "h", "id")
      .groupBy($"g")
      .agg(graft.functions.TopKSample.firstKByKey($"h", $"id", 5).as("ids"))
    val query = agg.writeStream
      .queryName("topk_stream").outputMode("complete").format("memory").start()
    try {
      input.addData(rows.take(60): _*)
      query.processAllAvailable()
      input.addData(rows.drop(60): _*)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("topk_stream")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val batch = rows.toDF("g", "h", "id")
      .groupBy($"g")
      .agg(graft.functions.TopKSample.firstKByKey($"h", $"id", 5).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    assert(batch.keySet == Set("g0", "g1", "g2") && batch.values.forall(_.length == 5))
  }

  test("streaming DSIR scoring: per-batch weights vs frozen model match batch mode") {
    implicit val sqlCtx = spark.sqlContext
    // base corpus: target slice (%20 == 7) speaks alpha/beta, raw slice
    // mixes; the frozen model scores arrivals, including an
    // out-of-vocabulary doc whose buckets the base never saw
    val base = Seq(
      (7L, "alpha beta gamma alpha beta"),
      (27L, "beta gamma alpha beta gamma"),
      (1L, "alpha beta gamma alpha"),
      (2L, "zig zag zig zag zig")).toDF("doc_id", "text")
    val arrivals = Seq(
      10L -> "alpha beta gamma",                 // target-like
      11L -> "zig zag zig",                      // raw-only grams
      12L -> "never seen tokens arriving here")  // all OOV buckets
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("dsir_out").toString
    val ckpt = Files.createTempDirectory("dsir_ckpt").toString
    val query = graft.ext.Corpus.dsirScoreSink(
      input.toDF().toDF("doc_id", "text"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals(0), arrivals(1))
      query.processAllAvailable()
      input.addData(arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out)
      .select($"doc_id", $"n_grams", $"llr_micro", $"avg_llr_nano")
      .collect().map(_.toSeq).toSet
    // batch reference: score the same arrivals against the same base
    // model + OOV constant via the public against-form
    val delta = graft.ext.Corpus.dsirDeltaTable(graft.ext.Corpus.dsirBucketCounts(base).localCheckpoint())
    val tot = 8L -> 7L // target/raw gram totals of the base fixture
    def snapLn(t: Long) = math.floor(math.log(1.0 / (t + 4096)) * 1e6 + 0.5).toLong
    val oov = snapLn(tot._1) - snapLn(tot._2)
    val batch = graft.ext.Corpus
      .dsirScoreAgainst(arrivals.toDF("doc_id", "text"), delta, oov)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(byDoc(10L) > 0, "target-like arrival must score positive")
    assert(byDoc(11L) < 0, "raw-only arrival must score negative")
    // OOV delta of this fixture: ln(1/(8+B)) - ln(1/(7+B)) < 0 slightly
    assert(byDoc(12L) == oov * 1000,
      "all-OOV doc must carry exactly the OOV constant per gram")
  }

  test("streaming split assignment: near-dup arrivals inherit the frozen split; batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val passage = (1 to 60).map(i => s"tok$i").mkString(" ")
    val base = Seq(100L -> passage).toDF("doc_id", "text")
    def contentSplit(text: String): String = {
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
      if (b < "e6") "train" else if (b < "f3") "val" else "test"
    }
    val baseSplit = contentSplit(passage)
    // pick a near-copy whose OWN content split differs from the base's
    // (otherwise inheritance is indistinguishable from the fallback) —
    // deterministic search over suffix variants
    val nearCopy = (0 until 200).iterator
      .map(k => s"$passage recrawl$k")
      .find(t => contentSplit(t) != baseSplit)
      .getOrElse(fail("no differing variant in 200 candidates"))
    val fresh = (1 to 60).map(i => s"other$i").mkString(" ")
    val arrivals = Seq(1L -> nearCopy, 2L -> fresh)
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("sa_out").toString
    val ckpt = Files.createTempDirectory("sa_ckpt").toString
    val query = graft.ext.Corpus.splitAssignSink(
      input.toDF().toDF("doc_id", "text"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Corpus.splitAssignAgainst(
        arrivals.toDF("doc_id", "text"),
        graft.ext.Dedup.minhashBandIndex(base),
        graft.ext.Corpus.leakageSafeSplitsDf(base, 0.7)
          .select(col("doc_id"), col("split")))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(byDoc(1L) == ((true, 100L, baseSplit)),
      s"near-copy must inherit the base split even though its own content " +
        s"split is ${contentSplit(nearCopy)}: $byDoc")
    assert(byDoc(2L) == ((false, 2L, contentSplit(fresh))),
      s"fresh arrival must fall back to its content split: $byDoc")
  }

  test("streaming CDC containment: frozen chunk index flags offset-shifted recrawls; batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val passage = (1 to 80).map(i => s"cd$i").mkString(" ")
    val base = Seq(100L -> s"$passage original tail words").toDF("doc_id", "text")
    val arrivals = Seq(
      1L -> s"fresh lead-in shifts every offset $passage",  // recrawl, shifted
      2L -> (1 to 40).map(i => s"novel$i").mkString(" "))   // genuinely new
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("cdc_out").toString
    val ckpt = Files.createTempDirectory("cdc_ckpt").toString
    val query = graft.ext.Corpus.cdcDedupSink(
      input.toDF().toDF("doc_id", "text"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Corpus.cdcContainmentAgainst(
        arrivals.toDF("doc_id", "text"),
        graft.ext.Corpus.keeperChunkFingerprints(base))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(byDoc(1L) > 0.5,
      s"offset-shifted recrawl must be mostly owned by the base: $byDoc")
    assert(byDoc(2L) == 0.0, s"novel doc must own all its chunks: $byDoc")
  }

  test("streaming crawl-priority: frozen rank/trust serve table, batch parity, zero-link contract") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the GraphSpec planted graph, tagged so docs 0-2 seed the trust set
    val base = Seq(
      0L -> "alpha beta gamma delta", 1L -> "beta gamma epsilon zeta",
      2L -> "gamma delta alpha beta", 3L -> "zeta eta theta iota",
      4L -> "iota kappa alpha gamma", 5L -> "kappa lambda mu nu",
      6L -> "mu nu alpha beta gamma", 7L -> "nu xi omicron pi",
      8L -> "pi rho alpha delta",     9L -> "solo"
    ).toDF("doc_id", "text")
      .withColumn("source", when($"doc_id" < 3, "src0").otherwise("srcX"))
    val arrivals = Seq(
      100L -> "alpha beta gamma delta", // base bigrams: resolvable targets
      101L -> "solo")                   // one token, no bigrams: zero row
    // the batch expectation runs FIRST, over the base's own fixture
    // graph (released when it is done), so the sink's leak baseline is
    // captured after it
    val (batch, trustTotal) = graft.ext.FixtureGraph.of(base) { g =>
      val (serve, last) = graft.ext.Graph.rankServeStateOn(
        base, g.edges, $"source" === lit("src0"), graft.ext.Graph.RankIters)
      last.foreach(g.own)
      (graft.ext.Graph.crawlPriorityAgainst(arrivals.toDF("doc_id", "text"), serve)
        .collect().map(_.toSeq).toSet,
        serve.agg(sum($"trust_nano")).collect()(0).getLong(0))
    }
    assert(trustTotal > 0L, "seeded serve table must carry trust mass")
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("tr_out").toString
    val ckpt = Files.createTempDirectory("tr_ckpt").toString
    // leak accounting by RDD ID, not count: earlier tests' non-blocking
    // unpersists may still drain concurrently, but they can only remove
    // BASELINE ids — anything NEW after this point is this sink's
    val beforeIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def newIds = spark.sparkContext.getPersistentRDDs.keySet.toSet -- beforeIds
    val query = graft.ext.Graph.trustRankSink(
      input.toDF().toDF("doc_id", "text"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      // while the stream runs, the frozen serve table stays pinned
      assert(newIds.nonEmpty,
        "running sink must hold its frozen serve table pinned")
      input.addData(arrivals(0))
      query.processAllAvailable()
      input.addData(arrivals(1))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // an arrival sharing the hub bigrams links at real frontier mass
    assert(byDoc(100L)._1 > 0 && byDoc(100L)._2 > 0,
      s"bigram-bearing arrival must land rank mass: $byDoc")
    // the never-scored contract: a linkless page still gets its row
    assert(byDoc(101L) == ((0L, 0L, 0L)),
      s"no-bigram arrival must score (0, 0, 0): $byDoc")
    // query termination auto-releases the pinned serve table AND the
    // sink must have released the rank/edge checkpoints behind it
    // (bounded wait: the termination event and unpersists are async)
    val deadline = System.currentTimeMillis + 20000
    while (newIds.nonEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    assert(newIds.isEmpty,
      s"sink must leave no persisted RDD behind, leaked ids: $newIds")
    assert(!graft.ext.Freeze.pinnedScopes.contains(
        java.nio.file.Paths.get(ckpt).toAbsolutePath.normalize.toString),
      "terminated sink must leave no registered scope behind")
  }

  test("streaming fuzzy-match sink: frozen deletion-key index, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = Seq(1L -> "carrot", 2L -> "parrot", 3L -> "banana")
      .toDF("key", "name")
    val arrivals = Seq(
      10L -> "carot",   // deletion of carrot: matches 1 (and parrot? lev(carot,parrot)=2 no)
      11L -> "banana",  // exact
      12L -> "zzz")     // no match: no output row
    val batch = graft.ext.EntityResolution
      .fuzzyJoinDf(arrivals.toDF("probe_id", "probe_name"), target)
      .collect().map(_.toSeq).toSet
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("fz_out").toString
    val ckpt = Files.createTempDirectory("fz_ckpt").toString
    val query = graft.ext.EntityResolution.fuzzyMatchSink(
      input.toDF().toDF("probe_id", "probe_name"), target, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals(0), arrivals(1))
      query.processAllAvailable()
      input.addData(arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    // the no-match arrival produced NO row — the sink's sparse contract
    assert(!streamed.exists(_.head == 12L))
    assert(streamed.exists(_.head == 10L) && streamed.exists(_.head == 11L))
  }

  test("streaming substring excision: per-batch accounting vs frozen gram index matches batch mode") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val k = graft.ext.Cleaning.SubstrK
    val rep = (0 until k + 10).map(i => s"shared$i").mkString(" ")
    val base = Seq(100L -> s"preamble $rep coda").toDF("doc_id", "text")
    val arrivals = Seq(
      1L -> (Seq("x1", "x2") ++ rep.split(" ") ++ Seq("y1")).mkString(" "), // one base span
      2L -> (1 to 40).map(i => s"fresh$i").mkString(" "),                    // clean
      3L -> rep)                                                             // fully excised
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("substr_out").toString
    val ckpt = Files.createTempDirectory("substr_ckpt").toString
    val query = graft.ext.Cleaning.substringExciseSink(
      input.toDF().toDF("doc_id", "text"), base, out, ckpt,
      triggerMs = 50L).start()
    try {
      input.addData(arrivals(0), arrivals(1))
      query.processAllAvailable()
      input.addData(arrivals(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    // per-doc results depend only on the doc and the frozen index, so
    // the union of per-batch outputs must equal the one-shot batch run
    val batch = graft.ext.Cleaning
      .substringExciseAgainst(arrivals.toDF("doc_id", "text"),
        graft.ext.Cleaning.substringGramIndex(base))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val byDoc = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byDoc(1L) == ((1L, (k + 10).toLong, 3L)),
      s"arrival 1 loses exactly the shared block: $byDoc")
    assert(!byDoc.contains(2L), "clean docs are not in the cut list")
    assert(byDoc(3L) == ((1L, (k + 10).toLong, 0L)), "full-dup arrival keeps nothing")
  }

}
