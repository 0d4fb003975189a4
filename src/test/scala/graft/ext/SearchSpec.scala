package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** BM25 retrieval: exact-score replay against a driver-side
  * computation on a planted corpus, the postings audit contract, and
  * the frozen-index serving sink's batch parity.
  */
class SearchSpec extends SparkTestBase {

  private def plantedDocs = {
    import spark.implicits._
    Seq(
      1L -> "hash join hash join hash",   // tf(hash)=3, tf(join)=2, dl=5
      2L -> "hash scan scan",             // tf(hash)=1, tf(scan)=2, dl=3
      3L -> "merge sort sort sort merge", // no probe overlap with {hash,join}
      4L -> "join",                       // tf(join)=1, dl=1
      5L -> "alpha beta gamma"
    ).toDF("doc_id", "text")
  }

  /** Driver-side BM25 with the operator's exact snapping. */
  private def bm25Replay(docs: Seq[(Long, String)], terms: Seq[String]): Map[Long, (Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val n = docs.size
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val tf = for { (id, ts) <- toks.toSeq; t <- terms
                   c = ts.count(_ == t) if c > 0 } yield (id, t, c)
    val df = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size }
    tf.groupBy(_._1).map { case (id, xs) =>
      val score = xs.map { case (_, t, c) =>
        val idf = math.log(1.0 + (n.toDouble - df(t) + 0.5) / (df(t) + 0.5))
        val norm = Search.K1 * ((1.0 - Search.B) + Search.B * toks(id).size / avgdl)
        math.floor(idf * c / (c + norm) * 1e6 + 0.5).toLong
      }.sum
      id -> ((score, xs.size.toLong))
    }
  }

  test("bm25 matches a driver-side exact-snap replay on a planted corpus") {
    val docsSeq = Seq(1L -> "hash join hash join hash", 2L -> "hash scan scan",
      3L -> "merge sort sort sort merge", 4L -> "join", 5L -> "alpha beta gamma")
    val terms = Seq("hash", "join")
    val docs = plantedDocs
    val stats = docs.agg(count(lit(1)), sum(size(split(trim(col("text")), "\\s+"))))
      .head()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val got = Search.bm25Against(Search.postingsDf(docs, Some(terms)), terms, n, avgdl, 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = bm25Replay(docsSeq, terms)
    assert(got == want, s"got $got want $want")
    // doc 1 (dense in both terms) must outrank the single-term docs
    assert(got(1L)._1 > got(2L)._1 && got(1L)._1 > got(4L)._1)
    assert(!got.contains(3L) && !got.contains(5L), "no-overlap docs don't score")
  }

  test("postings audit: df/total_tf consistent, ranks dense per term") {
    val rows = Search.termPostings(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byTerm = rows.groupBy(_.getString(0))
    assert(byTerm.keySet == Search.ProbeTerms.toSet,
      "every probe term appears at fixture scale")
    byTerm.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to rs.length).toSeq)
      // top doc's tf bounded by the term's total
      assert(rs.map(_.getLong(5)).max <= rs.head.getLong(2))
      assert(rs.head.getLong(1) >= rs.length, "df covers at least the listed docs")
    }
  }

  test("query-likelihood ranks exactly like a driver-side Dirichlet replay") {
    val rows = Search.queryLikelihoodTopK(spark, sfDir).collect()
    assert(rows.length == 10)
    // ranks dense, ordering by (score desc, doc_id)
    assert(rows.map(_.getLong(2)).toSeq == (1L to 10L))
    val ordered = rows.map(r => (r.getLong(1), r.getLong(0)))
    assert(ordered.zip(ordered.tail).forall { case ((s1, d1), (s2, d2)) =>
      s1 > s2 || (s1 == s2 && d1 < d2) })
    // replay the top doc's exact score driver-side from the raw corpus
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val c = docs.values.map(_.size).sum.toLong
    val cf = Search.ProbeTerms.map(t =>
      t -> docs.values.map(_.count(_ == t)).sum.toLong).toMap
    def score(id: Long): Long = Search.ProbeTerms.map { t =>
      val tf = docs(id).count(_ == t)
      math.floor(math.log((tf + Search.Mu * cf(t) / c.toDouble) /
        (docs(id).size + Search.Mu)) * 1e6 + 0.5).toLong
    }.sum
    rows.foreach(r => assert(r.getLong(1) == score(r.getLong(0)),
      s"score of doc ${r.getLong(0)} drifted"))
  }

  test("phrase hits count exact adjacent occurrences") {
    import spark.implicits._
    val rows = Search.phraseHits(spark, sfDir).collect()
    assert(rows.nonEmpty, "the probe phrase occurs at fixture scale")
    // replay: count adjacent (hash, join) pairs driver-side
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val want = docs.map { case (id, ts) =>
      id -> ts.sliding(2).count(_ == Search.ProbePhrase)
    }.filter(_._2 > 0)
    assert(rows.map(r => r.getLong(0) -> r.getLong(1).toInt).toMap == want)
  }

  test("hybrid RRF: fusion beats each single ranker's recall@3 on a planted corpus") {
    import spark.implicits._
    // relevant docs 10..12 rank 2-4 in BOTH modalities; doc 1 is a
    // term-stuffed lexical distractor (lexical rank 1), doc 2 an
    // embedding near-clone of the probe (semantic rank 1). Each single
    // ranker's top-3 holds 2/3 relevant; RRF's agreement bonus
    // (2 moderate ranks beat 1 top rank: 2/(60+4) > 1/(60+1)) puts all
    // three relevant docs on top.
    val probeText = Search.ProbeTerms.mkString(" ")
    val docs = Seq(
      1L -> (probeText + " ") * 10,  // lexical distractor: tf 10 each
      10L -> (probeText + " ") * 6,
      11L -> (probeText + " ") * 5,
      12L -> (probeText + " ") * 4,
      2L -> "alpha beta gamma",      // semantic distractor: no probe terms
      3L -> "delta epsilon zeta"
    ).map { case (id, t) => (id, t.trim) }.toDF("doc_id", "text")
    val emb = Seq(
      0L -> Array(1.0f, 0.0f, 0.0f),       // the probe vector
      2L -> Array(1.0f, 0.001f, 0.0f),     // semantic distractor: ~1.0
      10L -> Array(0.98f, 0.2f, 0.0f),
      11L -> Array(0.97f, 0.24f, 0.0f),
      12L -> Array(0.96f, 0.28f, 0.0f),
      1L -> Array(0.0f, 1.0f, 0.0f),       // lexical distractor: orthogonal
      3L -> Array(0.0f, 0.0f, 1.0f)
    ).toDF("vec_id", "embedding")
    // depth = 4 so each distractor stays OUTSIDE the other modality's
    // list (at the default 20 this 6-doc fixture lands everyone in both)
    val out = Search.hybridRrfDf(docs, emb, depth = 4).collect()
    val lexTop3 = out.filter(r => !r.isNullAt(1) && r.getLong(1) <= 3).map(_.getLong(0)).toSet
    val semTop3 = out.filter(r => !r.isNullAt(2) && r.getLong(2) <= 3).map(_.getLong(0)).toSet
    val fusedTop3 = out.filter(_.getLong(4) <= 3).map(_.getLong(0)).toSet
    val relevant = Set(10L, 11L, 12L)
    assert((lexTop3 & relevant).size == 2, s"lexical top-3 planted at 2/3: $lexTop3")
    assert((semTop3 & relevant).size == 2, s"semantic top-3 planted at 2/3: $semTop3")
    assert(fusedTop3 == relevant,
      s"fusion must put all three relevant docs on top: $fusedTop3")
    // the fused score is the exact micro sum of the two contributions
    out.foreach { r =>
      def c(i: Int) = if (r.isNullAt(i)) 0L
        else math.floor(1e6 / (Search.RrfKConst + r.getLong(i)) + 0.5).toLong
      assert(r.getLong(3) == c(1) + c(2), s"rrf_micro mismatch: $r")
    }
  }

  test("incremental postings: merged stats are exact sums over the disjoint split") {
    import spark.implicits._
    // base docs (ids 1,2,3 — % 4 != 0) and arrivals (4, 8 — % 4 == 0)
    val docs = Seq(
      1L -> "hash join hash",   // base: tf(hash)=2, tf(join)=1
      2L -> "hash scan",        // base: tf(hash)=1, tf(scan)=1
      3L -> "merge merge",      // base: tf(merge)=2
      4L -> "hash hash hash",   // delta: tf(hash)=3
      8L -> "scan window"       // delta: tf(scan)=1, tf(window)=1
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("pinc_fx").toString
    docs.withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Search.postingsIncremental(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("hash") == ((2L, 1L, 3L, 6L)), s"hash: ${got("hash")}")
    assert(got("scan") == ((1L, 1L, 2L, 2L)), s"scan: ${got("scan")}")
    assert(got("merge") == ((1L, 0L, 1L, 2L)), "base-only term merges unchanged")
    assert(got("window") == ((0L, 1L, 1L, 1L)), "delta-only term appears with base df 0")
  }

  test("query expansion: feedback co-occurrence surfaces, query terms excluded, idf damps") {
    import spark.implicits._
    // docs 1-2 match the probe terms hard and share the distinctive
    // term 'tungsten'; 'filler' appears EVERYWHERE (idf ~ 0 damps it);
    // doc 9 never enters the feedback set so 'absent' cannot surface
    val docs = Seq(
      1L -> "hash join tungsten filler",
      2L -> "hash join scan tungsten filler",
      3L -> "merge window filler",
      9L -> "absent filler unrelated"
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("qexp_fx").toString
    docs.withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Search.queryExpansion(spark, dir, m = 2).collect()
    val terms = rows.map(_.getString(0)).toSeq
    assert(!terms.exists(Search.ProbeTerms.contains),
      s"query's own terms must be excluded: $terms")
    assert(!terms.contains("absent"), "terms outside the feedback set cannot surface")
    val score = rows.map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(score.contains("tungsten"), s"shared feedback term must surface: $terms")
    assert(score("tungsten") > score.getOrElse("filler", 0L),
      s"idf must damp the ubiquitous term: $score")
  }

  test("hybrid serving sink: frozen artifacts, batch parity, both modalities bite") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Seq(
      1L -> "hash join hash join hash",
      2L -> "hash scan scan",
      3L -> "merge sort merge",
      4L -> "alpha beta gamma").toDF("doc_id", "text")
    val bemb = Seq(
      1L -> Array(1.0f, 0.0f),
      2L -> Array(0.9f, 0.3f),
      3L -> Array(0.0f, 1.0f),
      4L -> Array(0.1f, 0.995f)).toDF("vec_id", "embedding")
    // query 101: lexical terms hit docs 1-2, embedding points at 3-4 —
    // the fused list must carry BOTH modalities' docs
    val queries = Seq(
      (101L, "hash join", Array(0.0f, 1.0f)),
      (102L, "merge", Array(1.0f, 0.05f)))
    val input = MemoryStream[(Long, String, Array[Float])]
    val out = Files.createTempDirectory("hybrid_out").toString
    val ckpt = Files.createTempDirectory("hybrid_ckpt").toString
    val query = Search.hybridServeSink(
      input.toDF().toDF("query_id", "query_text", "query_embedding"),
      base, bemb, out, ckpt, triggerMs = 50L).start()
    try {
      input.addData(queries(0))
      query.processAllAvailable()
      input.addData(queries(1))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .collect().map(_.toSeq).toSet
    // batch replay: the same artifacts rebuilt deterministically —
    // stats as the 1-row frame the sink freezes (r16: the kernel takes
    // the broadcast stats frame instead of collected scalars)
    val (index, dfAll, stats) = Search.lexicalServePlans(base)
    val cents = Clustering.kmeansCentroids(bemb, 1)
    val cellTable = bemb
      .select(col("vec_id"), col("embedding"), Similarity.norm(col("embedding")).as("nrm"))
      .join(Clustering.cellAssignments(bemb, cents), Seq("vec_id"))
    val batch = Search.hybridScoreBatch(
      queries.toDF("query_id", "query_text", "query_embedding"),
      index, dfAll, stats, cellTable, cents,
      Search.RrfDepth, Search.RrfTopK)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    val q101 = streamed.filter(_.head == 101L).map(r => r(1).asInstanceOf[Long])
    assert(q101.intersect(Set(1L, 2L)).nonEmpty && q101.intersect(Set(3L, 4L)).nonEmpty,
      s"fused list must carry both lexical and semantic docs: $q101")
  }

  test("bm25 serving sink: frozen postings index, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = plantedDocs
    val queries = Seq((10L, "hash join"), (11L, "merge"), (12L, "zzz nohit"))
    // batch expectation: score each query with the batch core
    val stats = base.agg(count(lit(1)), sum(size(split(trim(col("text")), "\\s+")))).head()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val expect = queries.flatMap { case (qid, qtext) =>
      val terms = qtext.split("\\s+").toSeq.distinct
      Search.bm25Against(Search.postingsDf(base, Some(terms)), terms, n, avgdl, 5)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }.toSet
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("bm_out").toString
    val ckpt = Files.createTempDirectory("bm_ckpt").toString
    val query = Search.bm25ServeSink(
      input.toDF().toDF("query_id", "query_text"), base, out, ckpt,
      k = 5, triggerMs = 50L).start()
    try {
      input.addData(queries(0), queries(1))
      query.processAllAvailable()
      input.addData(queries(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(streamed == expect, s"streamed $streamed != batch $expect")
    assert(!streamed.exists(_._1 == 12L), "no-hit query emits no rows")
  }

  test("query expansion sink: frozen feedback statistics, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = plantedDocs
    val queries = Seq((20L, "hash"), (21L, "sort"), (22L, "zzz nohit"))
    // batch expectation: the registered expansion kernel run with the
    // query's own terms as the probe set
    val expect = queries.flatMap { case (qid, qtext) =>
      val terms = qtext.split("\\s+").toSeq.distinct
      Search.queryExpansionOn(Search.postingsDf(base), Search.corpusStatsDf(base),
          m = 2, topK = 5, terms = terms)
        .collect().map(r => (qid, r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
    }.toSet
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("qe_out").toString
    val ckpt = Files.createTempDirectory("qe_ckpt").toString
    val query = Search.queryExpansionSink(
      input.toDF().toDF("query_id", "query_text"), base, out, ckpt,
      m = 2, topK = 5, triggerMs = 50L).start()
    try {
      input.addData(queries(0), queries(1))
      query.processAllAvailable()
      input.addData(queries(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    assert(streamed == expect, s"streamed $streamed != batch $expect")
    assert(expect.nonEmpty, "fixture must produce expansions")
    assert(!streamed.exists(_._1 == 22L), "no-hit query expands to nothing")
  }

  test("chunk BM25 serving sink: frozen chunk index + store, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // a base corpus where chunking matters: doc 1 long with a buried
    // passage, short docs beside it (the chunk fixture's shape)
    val longDoc = {
      val toks = Array.tabulate(200)(i => s"w$i")
      for (i <- 0 until 3) { toks(100 + 2 * i) = "hash"; toks(101 + 2 * i) = "join" }
      toks.mkString(" ")
    }
    val base = ((1L -> longDoc) +: (2L to 6L).map(i =>
      i -> ("hash join " + (1 to 20).map(j => s"s$j").mkString(" ")))).toDF("doc_id", "text")
    val queries = Seq((30L, "hash join"), (31L, "join"), (32L, "zzz nohit"))
    val expect = queries.flatMap { case (qid, qtext) =>
      val terms = qtext.split("\\s+").toSeq.distinct
      Search.chunkBm25TopKDf(base, k = 4, terms = terms)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getString(5)))
    }.toSet
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("cb_out").toString
    val ckpt = Files.createTempDirectory("cb_ckpt").toString
    val query = Search.chunkBm25ServeSink(
      input.toDF().toDF("query_id", "query_text"), base, out, ckpt,
      k = 4, triggerMs = 50L).start()
    try {
      input.addData(queries(0), queries(1))
      query.processAllAvailable()
      input.addData(queries(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6)))
      .toSet
    assert(streamed == expect, s"streamed $streamed != batch $expect")
    assert(expect.nonEmpty, "fixture must retrieve chunks")
    assert(!streamed.exists(_._1 == 32L), "no-hit query emits no rows")
  }

  test("section splitter: ids, levels, preamble, heading paths with clearing") {
    import spark.implicits._
    // hand-written markdown: preamble content, nested h1>h2>h3, an h3
    // under a NEW h2 (clears the old h3), and a trailing h1 (clears
    // everything deeper)
    val md = Seq(7L -> Seq(
      "intro line one", "intro line two", // preamble -> section 0
      "# alpha", "a1 a2",                 // 1: alpha
      "## beta", "b1",                    // 2: alpha > beta
      "### gamma", "c1 c2 c3",            // 3: alpha > beta > gamma
      "## delta", "d1",                   // 4: alpha > delta (gamma cleared)
      "# omega", "",                      // 5: omega (everything cleared)
      "#notaheading e1"                   // no '#+ ' match -> content of 5
    ).mkString("\n")).toDF("doc_id", "md")
    val rows = Search.sectionChunksDf(md).collect()
      .map(r => r.getAs[Long]("section_id") ->
        ((r.getAs[Long]("level"), r.getAs[String]("heading_path"),
          r.getAs[Long]("n_lines"), r.getAs[Long]("cl")))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(rows(0L) == ((0L, "", 2L, 6L)), s"preamble: ${rows(0L)}")
    assert(rows(1L) == ((1L, "alpha", 1L, 2L)))
    assert(rows(2L) == ((2L, "alpha > beta", 1L, 1L)))
    assert(rows(3L) == ((3L, "alpha > beta > gamma", 1L, 3L)))
    assert(rows(4L) == ((2L, "alpha > delta", 1L, 1L)), s"h3 must clear: ${rows(4L)}")
    // section 5: '' line + '#notaheading e1' join to ' #notaheading e1'
    // -> 2 tokens after trim-split
    assert(rows(5L) == ((1L, "omega", 2L, 2L)), s"h1 clears all: ${rows(5L)}")
  }

  test("section retrieval recovers a passage the fixed 64-token windows split") {
    import spark.implicits._
    // doc 1: a dense hash/join passage (20 pairs = 40 tokens) inside a
    // ' table '-delimited section, positioned at token ~45 so it
    // straddles the 64-token window boundary AND outruns the stride-48
    // overlap — no single fixed window contains it whole. Decoy docs
    // carry a sparse hit each.
    val passage = Seq.fill(20)("hash join").mkString(" ")
    val buried = (1 to 43).map(i => s"f$i").mkString(" ") +
      " table " + passage + " table " + (1 to 40).map(i => s"g$i").mkString(" ")
    val docs = ((1L -> buried) +:
      (2L to 6L).map(i => i -> ("hash " + (1 to 30).map(j => s"s$j").mkString(" ")))).toDF("doc_id", "text")
    val sec = Search.sectionBm25Ranked(
      Search.sectionChunksDf(Search.sectionMdFrame(docs)), 3, Search.ProbeTerms).collect()
    assert(sec.head.getAs[Long]("doc_id") == 1L, "section ranking must surface the buried passage")
    val winPath = sec.head.getAs[String]("heading_path")
    assert(winPath == s"DOC 1 > ${Search.SectionH2Term}",
      s"winner must carry its heading path: '$winPath'")
    val winSnippet = sec.head.getAs[String]("snippet")
    assert(winSnippet.contains("hash"), "winner snippet anchors on a probe term")
    // the winning SECTION holds the whole passage (all 20 'hash join'
    // occurrences); the best fixed WINDOW cannot — the passage spans
    // token positions 45..84, crossing the [1,64] boundary and longer
    // than the 16-token stride overlap, so every window truncates it
    def hits(s: String): Int = s.sliding("hash join".length).count(_ == "hash join")
    val secText = Search.sectionChunksDf(Search.sectionMdFrame(docs))
      .filter(col("doc_id") === 1L && col("heading") === Search.SectionH2Term)
      .select(col("section_text")).collect().head.getString(0)
    assert(hits(secText) == 20, s"section holds the whole passage: ${hits(secText)}")
    val chunk = Search.chunkBm25TopKDf(docs, k = 3).collect()
    val chunkWin = chunk.filter(_.getAs[Long]("doc_id") == 1L)
    assert(chunkWin.nonEmpty, "fixed windows still score the doc")
    val winChunkText = {
      val cid = chunkWin.head.getAs[Long]("chunk_id")
      // re-derive doc 1's winning chunk text via the public geometry
      val toks = buried.split("\\s+")
      val start = (cid * Search.ChunkStride).toInt
      toks.slice(start, start + Search.ChunkTok).mkString(" ")
    }
    assert(hits(winChunkText) < 20,
      s"every fixed window truncates the passage: ${hits(winChunkText)}")
  }

  test("section BM25 serving sink: frozen section index + path store, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the buried-passage corpus again: doc 1's ' table '-delimited
    // section holds the dense passage; queries stream against the
    // frozen section index and must reproduce the batch ranking WITH
    // the heading-path payload
    val passage = Seq.fill(10)("hash join").mkString(" ")
    val base = ((1L -> ((1 to 20).map(i => s"f$i").mkString(" ") +
      " table " + passage + " window " + (1 to 15).map(i => s"g$i").mkString(" "))) +:
      (2L to 5L).map(i => i -> ("hash join " + (1 to 12).map(j => s"s$j").mkString(" "))))
      .toDF("doc_id", "text")
    val queries = Seq((40L, "hash join"), (41L, "join"), (42L, "zzz nohit"))
    val expect = queries.flatMap { case (qid, qtext) =>
      val terms = qtext.split("\\s+").toSeq.distinct
      Search.sectionBm25Ranked(Search.sectionChunksDf(Search.sectionMdFrame(base)), 4, terms)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getLong(4), r.getLong(5), r.getString(6)))
    }.toSet
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("sb_out").toString
    val ckpt = Files.createTempDirectory("sb_ckpt").toString
    val query = Search.sectionBm25ServeSink(
      input.toDF().toDF("query_id", "query_text"), base, out, ckpt,
      k = 4, triggerMs = 50L).start()
    try {
      input.addData(queries(0), queries(1))
      query.processAllAvailable()
      input.addData(queries(2))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(out).drop("batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5), r.getLong(6), r.getString(7)))
      .toSet
    assert(streamed == expect, s"streamed $streamed != batch $expect")
    assert(expect.nonEmpty, "fixture must retrieve sections")
    assert(streamed.exists(_._5.endsWith(Search.SectionH2Term)),
      "winners carry heading paths")
    assert(!streamed.exists(_._1 == 42L), "no-hit query emits no rows")
  }

  test("serve-kernel KWIC anchors case-insensitively (mixed-case token regression)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // tokens keep their case through the postings (tokenizer does not
    // lower), so a query term 'Hash' can WIN the scoring join yet —
    // before the r16 review fix — lose its snippet row to the
    // case-sensitive instr against the lowered store text, silently
    // dropping the (query, doc) result from the sink output
    val base = Seq(
      1L -> "Hash Join alpha beta gamma delta",
      2L -> "plain words only here").toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("cs_out").toString
    val ckpt = Files.createTempDirectory("cs_ckpt").toString
    val query = Search.sectionBm25ServeSink(
      input.toDF().toDF("query_id", "query_text"), base, out, ckpt,
      k = 3, triggerMs = 50L).start()
    try {
      input.addData((50L, "Hash"))
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.read.parquet(out).collect()
    assert(rows.nonEmpty, "the mixed-case winner must keep its result row")
    val snip = rows.head.getAs[String]("snippet")
    assert(snip.contains("Hash"), s"snippet must anchor on the match: '$snip'")
  }

  test("snippets: position, count, case-insensitivity, window clamps both ends") {
    import spark.implicits._
    val pad = Search.SnippetPad // 40
    val phrase = Search.ProbePhrase.mkString(" ") // "hash join"
    val midPrefix = "x" * 60
    val docs = Seq(
      // match at string start: window clamps left to char 1
      0L -> s"$phrase then sixty more characters of trailing context follow here",
      // mid-string match with full context both sides, uppercase form
      1L -> (midPrefix + " HASH JOIN " + "y" * 60),
      // match near the end: window clamps right at string end
      2L -> ("z" * 30 + " " + phrase),
      // two occurrences: pos is the FIRST, n_hits counts both
      3L -> s"$phrase and later another $phrase occurs",
      4L -> "no occurrence here at all"
    ).toDF("doc_id", "text")
    val got = Search.searchSnippetsDf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(!got.contains(4L), "non-matching docs emit no row")
    val t0 = s"$phrase then sixty more characters of trailing context follow here"
    assert(got(0L) == ((1L, 1L, t0.substring(0, phrase.length + pad))),
      s"left clamp: ${got(0L)}")
    // doc 1: pos = 62 (1-based), window = [22, 62+9+40-1=110]
    val t1 = midPrefix + " HASH JOIN " + "y" * 60
    assert(got(1L)._1 == 62L && got(1L)._2 == 1L)
    assert(got(1L)._3 == t1.substring(21, 21 + pad + phrase.length + pad),
      s"mid window: '${got(1L)._3}'")
    // doc 2: pos = 32, text ends at 40 < pos+9+40-1 — right clamp
    val t2 = "z" * 30 + " " + phrase
    assert(got(2L) == ((32L, 1L, t2.substring(0, t2.length))),
      s"right clamp: ${got(2L)}")
    assert(got(3L)._1 == 1L && got(3L)._2 == 2L, s"first-pos + count: ${got(3L)}")
  }

  test("chunk BM25 surfaces a buried passage that doc-level BM25 misses") {
    import spark.implicits._
    // doc 1: a 400-token document with a dense "hash join hash join"
    // passage at tokens 201-204 — at doc granularity dl=400 length-
    // normalizes it below eleven 10-token single-hit docs (2..12), so
    // it falls OUT of the doc-level top-10; at chunk granularity the
    // passage sits inside one 64-token window at full strength
    val longDoc = {
      val toks = Array.tabulate(400)(i => s"w$i")
      // dense passage, tf 3 per term, 0-based 200..205 (chunk 4)
      for (i <- 0 until 3) { toks(200 + 2 * i) = "hash"; toks(201 + 2 * i) = "join" }
      toks.mkString(" ")
    }
    // both probe terms in every short doc so idf can't single out the
    // passage terms; dl 30 keeps the chunk-level mean close to 64
    val shorts = (2L to 12L).map(i =>
      i -> ("hash join " + (1 to 28).map(j => s"s$j").mkString(" ")))
    val docs = ((1L -> longDoc) +: shorts).toDF("doc_id", "text")
    val docTop = Search.bm25AgainstStats(Search.postingsDf(docs, Some(Search.ProbeTerms)),
      Search.ProbeTerms, Search.corpusStatsDf(docs), 10).collect().map(_.getLong(0)).toSet
    assert(!docTop.contains(1L),
      s"fixture broken: the long doc must miss the doc-level top-10: $docTop")
    val chunkTop = Search.chunkBm25TopKDf(docs, 10).collect()
    val first = chunkTop.minBy(_.getAs[Long]("rank"))
    assert(first.getAs[Long]("doc_id") == 1L,
      s"the buried passage must rank FIRST at chunk granularity: ${first}")
    // the passage (1-based tokens 201..206) is fully inside chunks 3
    // (145..208) and 4 (193..256); equal scores tie to the LOWER id
    assert(first.getAs[Long]("chunk_id") == 3L, s"wrong best chunk: $first")
    assert(first.getAs[String]("snippet").contains("hash join"),
      s"snippet must show the passage: ${first.getAs[String]("snippet")}")
    // roll-up is per doc: no doc appears twice
    val ids = chunkTop.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length, "one row per document")
  }

  test("MaxScore pruning: exact parity with exhaustive BM25, and the pruning bites") {
    import spark.implicits._
    // 3 strong docs carry all five probe terms (short → high scores);
    // 20 weak docs carry a single 'merge' diluted in 30 fillers — each
    // weak doc's present-term bound (U_merge alone) sits far below the
    // k-th strong full score, so the bound filter must drop them
    // UNSCORED while the final ranking stays bit-identical
    val strong = (1L to 3L).map(i => i -> "hash join scan window merge")
    val weak = (10L to 29L).map(i =>
      i -> ("merge " + (1 to 30).map(j => s"f$j").mkString(" ")))
    val docs = (strong ++ weak).toDF("doc_id", "text")
    val k = 3
    val ca = Search.bm25ContribAll(docs)
    val pruned = Search.bm25MaxScoreTopKOn(ca, k).collect().toSeq
    val exhaustive = Search.bm25AgainstStats(Search.postingsDf(docs, Some(Search.ProbeTerms)),
      Search.ProbeTerms, Search.corpusStatsDf(docs), k).collect().toSeq
    assert(pruned == exhaustive,
      s"pruned and exhaustive rankings must be identical:\n$pruned\n$exhaustive")
    // the pruning is not vacuous: some candidate's bound < theta
    val bounds = Search.bm25MaxScoreBounds(ca, k).collect()
    val nPruned = bounds.count(r => r.getLong(1) < r.getLong(2))
    assert(nPruned >= 20,
      s"the weak docs must be pruned by the bound filter, pruned=$nPruned")
    // parity must also hold on the real corpus
    val p2 = Search.bm25MaxScoreTopK(spark, sfDir).collect().toSeq
    val e2 = Search.bm25TopK(spark, sfDir).collect().toSeq
    assert(p2 == e2, "corpus parity")
  }

  test("block-max pruning: bounds dominate global MaxScore, parity intact") {
    import spark.implicits._
    // same shape as the MaxScore fixture: strong docs clustered in low
    // doc-id blocks, weak docs in a high block whose block-max for
    // 'merge' is far below the global max (set by the strong docs) —
    // the per-block bound must be tighter for every doc and prune at
    // least as many
    val strong = (1L to 3L).map(i => i -> "hash join scan window merge")
    val weak = (1000L to 1019L).map(i =>
      i -> ("merge " + (1 to 30).map(j => s"f$j").mkString(" ")))
    val docs = (strong ++ weak).toDF("doc_id", "text")
    val k = 3
    val ca = Search.bm25ContribAll(docs)
    val pruned = Search.bm25BlockMaxTopKOn(ca, Search.blockMaxTable(ca), k).collect().toSeq
    val exhaustive = Search.bm25AgainstStats(Search.postingsDf(docs, Some(Search.ProbeTerms)),
      Search.ProbeTerms, Search.corpusStatsDf(docs), k).collect().toSeq
    assert(pruned == exhaustive,
      s"block-max pruned ranking must equal exhaustive:\n$pruned\n$exhaustive")
    val global = Search.bm25MaxScoreBounds(ca, k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val block = Search.bm25BlockMaxBoundFrame(ca, Search.blockMaxTable(ca), k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(global.keySet == block.keySet, "same candidate sets")
    block.foreach { case (id, (b, _)) =>
      assert(b <= global(id)._1,
        s"block bound must never exceed the global bound: doc $id $b > ${global(id)._1}")
    }
    val prunedGlobal = global.count { case (_, (b, th)) => b < th }
    val prunedBlock = block.count { case (_, (b, th)) => b < th }
    assert(prunedBlock >= prunedGlobal && prunedBlock >= 20,
      s"block-max must prune at least as much: block=$prunedBlock global=$prunedGlobal")
  }

  test("stats-frame BM25 equals the scalar form bit-for-bit") {
    // bm25AgainstStats rides (cs_n, cs_s) as a broadcast 1-row frame;
    // the arithmetic tree is bm25Against's with lit(nDocs)/lit(avgdl)
    // replaced by the equivalent stat columns — scores must be
    // IEEE-identical, not just close
    val docs = plantedDocs
    val terms = Seq("hash", "join")
    val stats = docs.agg(count(lit(1)), sum(size(split(trim(col("text")), "\\s+"))))
      .head()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val scalar = Search.bm25Against(Search.postingsDf(docs, Some(terms)),
      terms, n, avgdl, 10).collect().toSeq
    val lazyF = Search.bm25AgainstStats(Search.postingsDf(docs, Some(terms)),
      terms, Search.corpusStatsDf(docs), 10).collect().toSeq
    assert(lazyF == scalar, s"lazy $lazyF vs scalar $scalar")
  }

  test("retrieval query builders launch zero Spark jobs at plan build") {
    // the r6 decontamination discipline (CorpusSpec's laziness test):
    // corpus stats ride as broadcast 1-row frames — building any
    // retrieval core over a fresh, lazy build runs nothing
    val tracker = spark.sparkContext.statusTracker
    def jobIds: Set[Int] = tracker.getJobIdsForGroup(null).toSet
    def awaitNewJob(base: Set[Int]): Unit = {
      val deadline = System.nanoTime() + 10e9.toLong
      while ((jobIds -- base).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
    }
    // resolve the sources OUTSIDE the measured region (schema
    // inference runs a footer-read job — a read-API cost, not builder
    // eagerness; the CorpusSpec convention), then drain the async
    // listener bus with a sentinel
    val docs = graft.Tables.fanOut(graft.Tables.documents(spark, sfDir))
    val emb = graft.Tables.embeddings(spark, sfDir)
    locally { val b = jobIds; spark.range(1).collect(); awaitNewJob(b) }
    val before = jobIds
    val probed = Search.postingsDf(docs, Some(Search.ProbeTerms))
    val stats = Search.corpusStatsDf(docs)
    val ca = Search.bm25ContribAll(docs)
    val secs = Search.sectionChunksDf(Search.sectionMdFrame(docs))
    Search.bm25AgainstStats(probed, Search.ProbeTerms, stats, Search.ProbeTopK)
    Search.queryLikelihoodTopKOn(probed, stats)
    Search.hybridRrfDf(docs, emb)
    Search.queryExpansionOn(Search.postingsDf(docs), stats,
      Search.FbDocs, Search.FbTerms, Search.ProbeTerms)
    Search.bm25TermBoundsOn(ca)
    Search.bm25MaxScoreTopKOn(ca, Search.ProbeTopK)
    Search.chunkBm25TopKDf(docs)
    Search.blockMaxTable(ca)
    Search.bm25BlockMaxTopKOn(ca, Search.blockMaxTable(ca), Search.ProbeTopK)
    // the serving sinks' artifact PLANS (index/df/stats/store) must
    // also be lazy — construction jobs are the freezes alone, so a
    // future constructor `.head()` (the r15 judge's eager-stats
    // finding) fails here
    Search.lexicalServePlans(docs)
    Search.chunkServePlans(docs)
    Search.sectionServePlans(docs)
    Search.sectionBm25Ranked(secs, Search.SectionTopK, Search.ProbeTerms)
    Search.sectionDedupOn(secs)
    Search.hardNegativesOn(ca)
    Search.retrievalEvalAuditOn(ca)
    Search.postingsSizeModelOn(probed)
    Search.bm25ParamSweepOn(probed, stats)
    spark.range(1).collect() // sentinel: shuffle-free -> exactly 1 job
    awaitNewJob(before)
    val ran = (jobIds -- before).size
    assert(ran == 1,
      s"retrieval builders must be lazy — ${ran - 1} extra job(s) ran at plan build")
  }

  test("serving-sink stats derive from the pinned postings index, not a second corpus pass") {
    // the df and stats plans must share the postings subtree, so once
    // the sink freezes the index their freezes read the InMemory copy
    val docs = plantedDocs
    val (index, dfAll, stats) = Search.lexicalServePlans(docs)
    val pinned = index.persist()
    try {
      pinned.count()
      assert(dfAll.queryExecution.executedPlan.toString.contains("InMemory"),
        "df table must read the pinned index")
      assert(stats.queryExecution.executedPlan.toString.contains("InMemory"),
        "stats frame must read the pinned index")
      // and the derived stats equal the direct corpusStatsDf values
      val direct = Search.corpusStatsDf(docs).collect().head
      val derived = stats.collect().head
      assert(direct.getLong(0) == derived.getLong(0) &&
        direct.getLong(1) == derived.getLong(1),
        s"derived stats $derived != corpus stats $direct")
    } finally pinned.unpersist()
  }

  /** Driver-side per-(term, doc) BM25 contribution with the operator's
    * exact snapping — the ground truth for the hard-negative and
    * eval-audit replays.
    */
  private def contribReplay(docs: Seq[(Long, String)], terms: Seq[String],
                            k1: Double = Search.K1,
                            b: Double = Search.B): Seq[(String, Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val n = docs.size
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val tf = for { (id, ts) <- toks.toSeq; t <- terms
                   c = ts.count(_ == t) if c > 0 } yield (id, t, c)
    val df = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size }
    tf.map { case (id, t, c) =>
      val idf = math.log(1.0 + (n.toDouble - df(t) + 0.5) / (df(t) + 0.5))
      val norm = k1 * ((1.0 - b) + b * toks(id).size / avgdl)
      (t, id, math.floor(idf * c / (c + norm) * 1e6 + 0.5).toLong)
    }
  }

  test("hard negatives: per-term positives, margin pruning, bounded rank order") {
    import spark.implicits._
    // doc 6 contains 'hash' diluted across 41 tokens — its contribution
    // falls below half the dense positive's, so the margin MUST prune it
    val docsSeq = Seq(
      1L -> "hash join hash join hash", 2L -> "hash scan scan",
      3L -> "merge sort sort sort merge", 4L -> "join", 5L -> "alpha beta gamma",
      6L -> ("hash " + Seq.fill(40)("filler").mkString(" ")))
    val docs = docsSeq.toDF("doc_id", "text")
    val expected = contribReplay(docsSeq, Search.ProbeTerms)
      .groupBy(_._1).flatMap { case (t, xs) =>
        val sorted = xs.sortBy { case (_, id, c) => (-c, id) }
        val (_, posId, posC) = sorted.head
        sorted.tail.take(Search.MaxHardNegs).zipWithIndex.collect {
          case ((_, id, c), i) if c * 2 >= posC =>
            (t, (i + 1).toLong, id, c, posId, posC)
        }
      }.toSet
    val got = Search.hardNegativesOn(Search.bm25ContribAll(docs)).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected, s"got $got want $expected")
    // the fixture must exercise the margin: doc 6 is a 'hash' candidate
    // (rank <= MaxHardNegs + 1) yet absent from the mined negatives
    val hashCands = contribReplay(docsSeq, Search.ProbeTerms).filter(_._1 == "hash")
    assert(hashCands.exists(_._2 == 6L), "doc 6 must be a hash candidate")
    assert(!got.exists(g => g._1 == "hash" && g._3 == 6L),
      "the diluted candidate must be margin-pruned")
    assert(got.nonEmpty, "the fixture must yield at least one negative")
  }

  test("retrieval eval audit matches a driver-side nDCG/MRR/MAP replay") {
    import spark.implicits._
    val docsSeq = Seq(
      1L -> "hash join hash join hash", 2L -> "hash scan scan",
      3L -> "merge sort sort sort merge", 4L -> "join", 5L -> "alpha beta gamma",
      6L -> "hash join scan window merge merge")
    val docs = docsSeq.toDF("doc_id", "text")
    val cand = contribReplay(docsSeq, Search.ProbeTerms)
      .groupBy(_._2).map { case (id, xs) =>
        (id, xs.map(_._3).sum, xs.size.toLong)
      }.toSeq
    val sys = cand.sortBy { case (id, s, _) => (-s, id) }.take(Search.EvalK)
    val ideal = cand.sortBy { case (id, _, r) => (-r, id) }.take(Search.EvalK)
    def gm(rel: Long, r: Int): Long =
      math.floor(((1L << rel) - 1).toDouble * Search.NdcgDiscounts(r - 1)
        * 1e6 + 0.5).toLong
    val dcg = sys.zipWithIndex.map { case ((_, _, rel), i) => gm(rel, i + 1) }.sum
    val idcg = ideal.zipWithIndex.map { case ((_, _, rel), i) => gm(rel, i + 1) }.sum
    val firstRel = sys.zipWithIndex.collectFirst {
      case ((_, _, rel), i) if rel >= Search.RelGrade => i + 1 }
    val mrrMicro = firstRel.map(r => math.floor(1e6 / r + 0.5).toLong).getOrElse(0L)
    var relcnt = 0L
    val sumP = sys.zipWithIndex.map { case ((_, _, rel), i) =>
      if (rel >= Search.RelGrade) { relcnt += 1
        math.floor(relcnt.toDouble * 1e6 / (i + 1) + 0.5).toLong
      } else 0L
    }.sum
    val nRel = cand.count(_._3 >= Search.RelGrade).toLong
    val row = Search.retrievalEvalAuditOn(Search.bm25ContribAll(docs)).collect().head
    assert(row.getLong(0) == cand.size.toLong, "n_candidates")
    assert(row.getLong(1) == nRel, "n_relevant")
    assert(row.getLong(2) == dcg, s"dcg ${row.getLong(2)} != $dcg")
    assert(row.getLong(3) == idcg, s"idcg ${row.getLong(3)} != $idcg")
    assert(row.getDouble(4) ==
      math.floor(dcg.toDouble / idcg * 1e6 + 0.5) / 1e6, "ndcg_r")
    assert(row.getDouble(5) == mrrMicro.toDouble / 1e6, "mrr_r")
    assert(row.getDouble(6) ==
      math.floor(sumP.toDouble / math.min(nRel, Search.EvalK) + 0.5) / 1e6,
      "map_r")
    // the graded fixture must spread: doc 6 hits all five probe terms,
    // so the ideal head outranks every bi-term doc's grade
    assert(cand.exists(_._3 == 5L) && cand.exists(_._3 == 2L))
  }

  test("bm25 param sweep: full per-cell metric replay, default cell = eval audit") {
    import spark.implicits._
    val docsSeq = Seq(
      1L -> "hash join hash join hash", 2L -> "hash scan scan",
      3L -> "merge sort sort sort merge", 4L -> "join", 5L -> "alpha beta gamma",
      6L -> "hash join scan window merge merge")
    val docs = docsSeq.toDF("doc_id", "text")
    def metrics(k1: Double, b: Double): (Long, Long, Double, Double) = {
      val cand = contribReplay(docsSeq, Search.ProbeTerms, k1, b)
        .groupBy(_._2).map { case (id, xs) => (id, xs.map(_._3).sum, xs.size.toLong) }.toSeq
      val rel = contribReplay(docsSeq, Search.ProbeTerms)
        .groupBy(_._2).map { case (id, xs) => id -> xs.size.toLong }
      val sys = cand.sortBy { case (id, s, _) => (-s, id) }.take(Search.EvalK)
      val ideal = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(Search.EvalK)
      def gm(r: Long, rk: Int): Long =
        math.floor(((1L << r) - 1).toDouble * Search.NdcgDiscounts(rk - 1)
          * 1e6 + 0.5).toLong
      val dcg = sys.zipWithIndex.map { case ((_, _, r), i) => gm(r, i + 1) }.sum
      val idcg = ideal.zipWithIndex.map { case ((_, r), i) => gm(r, i + 1) }.sum
      val minr = sys.zipWithIndex.collectFirst {
        case ((_, _, r), i) if r >= Search.RelGrade => i + 1 }
      val ndcg = if (idcg > 0) math.floor(dcg.toDouble / idcg * 1e6 + 0.5) / 1e6 else 0.0
      val mrr = minr.map(r => math.floor(1e6 / r + 0.5).toLong).getOrElse(0L).toDouble / 1e6
      (dcg, idcg, ndcg, mrr)
    }
    val got = Search.bm25ParamSweepOn(Search.postingsDf(docs, Some(Search.ProbeTerms)),
      Search.corpusStatsDf(docs)).collect()
    assert(got.length == Search.BmSweepGrid.size)
    got.foreach { r =>
      val (dcg, idcg, ndcg, mrr) = metrics(r.getDouble(0), r.getDouble(1))
      assert(r.getLong(2) == dcg && r.getLong(3) == idcg &&
        r.getDouble(4) == ndcg && r.getDouble(5) == mrr,
        s"cell (${r.getDouble(0)}, ${r.getDouble(1)}): got $r want ($dcg, $idcg, $ndcg, $mrr)")
    }
    // the default cell must reproduce the standalone audit's metrics
    val audit = Search.retrievalEvalAuditOn(Search.bm25ContribAll(docs)).collect().head
    val dflt = got.find(r =>
      r.getDouble(0) == Search.K1 && r.getDouble(1) == Search.B).get
    assert(dflt.getLong(2) == audit.getLong(2) &&
      dflt.getLong(3) == audit.getLong(3) &&
      dflt.getDouble(4) == audit.getDouble(4) &&
      dflt.getDouble(5) == audit.getDouble(5),
      s"default sweep cell $dflt drifted from the audit $audit")
  }

  test("MMR diversification: exact greedy replay, near-duplicate demoted") {
    import spark.implicits._
    // doc 2 is an EXACT duplicate of doc 1: pure BM25 ranks it second,
    // MMR's similarity term must push it behind the dissimilar docs
    val docsSeq = Seq(
      1L -> "hash join hash join hash join hash window",
      2L -> "hash join hash join hash join hash window",
      3L -> "scan merge",
      4L -> "window merge",
      5L -> "alpha beta scan")
    val docs = docsSeq.toDF("doc_id", "text")
    val scores: Map[Long, Long] = contribReplay(docsSeq, Search.ProbeTerms)
      .groupBy(_._2).map { case (id, xs) => id -> xs.map(_._3).sum }
    val pool = scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(Search.MmrPool)
    def shingles(t: String): Set[String] = {
      val ts = t.split("\\s+").toSeq
      (1 to math.max(ts.size - 2, 1))
        .map(i => ts.slice(i - 1, i - 1 + 3).mkString(" ")).toSet
    }
    val sh = docsSeq.toMap.map { case (id, t) => id -> shingles(t) }
    def simM(x: Long, y: Long): Long = {
      val i = (sh(x) intersect sh(y)).size
      val u = (sh(x) union sh(y)).size
      if (u == 0) 0L else math.floor(i.toDouble * 1e6 / u + 0.5).toLong
    }
    var selected = Vector.empty[(Long, Long, Long, Long, Long)]
    for (r <- 1 to Search.MmrK) {
      val cand = pool.filterNot(p => selected.exists(_._2 == p._1))
      if (cand.nonEmpty) {
        val pick = cand.map { case (id, s) =>
          val ms = if (selected.isEmpty) 0L
            else selected.map(sel => simM(id, sel._2)).max
          (id, s, ms, s - ms)
        }.sortBy { case (id, _, _, obj) => (-obj, id) }.head
        selected :+= ((r.toLong, pick._1, pick._2, pick._3, pick._4))
      }
    }
    val got = Search.mmrDiversifyOn(Search.bm25ContribAll(docs), docs).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toVector
    assert(got == selected, s"got $got want $selected")
    // the fixture bites: doc 2 is BM25-second yet not MMR-second, and
    // when it finally enters, its redundancy term is total (sim = 1e6)
    assert(pool(1)._1 == 2L, "fixture: the duplicate must rank second in BM25")
    assert(got(1)._2 != 2L, "the near-duplicate must be demoted from slot 2")
    val dup = got.find(_._2 == 2L).get
    assert(dup._4 == 1000000L, s"duplicate's max sim must be total: $dup")
  }

  test("postings size model prices delta gaps and tfs at LEB128 widths") {
    import spark.implicits._
    // gaps: 0-(-1)=1, 127, 1, 16272 -> 1+1+1+2 bytes; tfs 1,1,1,2 -> 4 bytes
    val docs = Seq(0L -> "hash", 127L -> "hash", 128L -> "hash",
      16400L -> "hash hash").toDF("doc_id", "text")
    val rows = Search.postingsSizeModelOn(Search.postingsDf(docs, Some(Search.ProbeTerms)))
      .collect()
    assert(rows.length == 1, s"only 'hash' posts: ${rows.mkString}")
    val r = rows.head
    assert(r.getString(0) == "hash")
    assert(r.getLong(1) == 4L, "df")
    assert(r.getLong(2) == 5L, s"gap_bytes ${r.getLong(2)}")
    assert(r.getLong(3) == 4L, "tf_bytes")
    assert(r.getLong(4) == 64L, "raw_bytes")
    assert(r.getDouble(5) == 0.140625, s"frac ${r.getDouble(5)}")
  }

  /** Runs `body` and returns its result, the jobs it started and how
    * many of its actions derived tokens from the raw document scan — an
    * explode over a file relation in the cache-substituted plan — where
    * a session pin holds the derived frame (a pin's plan is a leaf).
    */
  private def rawDerivationsIn[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val derived = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.optimizedPlan.exists {
              case g: Generate => g.child.exists(_.isInstanceOf[LogicalRelation])
              case _ => false
            }) derived.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // jobsStartedBy drains the listener bus, so every action's
      // execution-end event has reached the listener when it returns
      val (out, jobs) = org.apache.spark.sql.GraftSql.jobsStartedBy(spark)(body)
      (out, jobs, derived.get)
    } finally spark.listenerManager.unregister(listener)
  }

  test("warm retrieval and LM queries read the session pins: no raw-scan derivation, nothing left pinned") {
    val queries = Seq("q_bm25_topk", "q_postings_size_model", "q_term_postings",
      "q_kn_logprob_wide", "q_mmr_diversify", "q_graph_ann_topk")
    val runs = queries.map { q =>
      def run() = graft.SparkEntry.queries(q)(spark, sfDir).collect()
      val first = run()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (again, jobs, derived) = rawDerivationsIn(run())
      val left = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      assert(again.toSeq == first.toSeq, s"$q: a warm run must replay the first")
      (derived == 0 && left == 0,
        s"$q: $jobs jobs, $derived raw-scan derivations, $left RDDs left")
    }
    assert(runs.forall(_._1), runs.map(_._2).mkString("warm runs: ", "; ", ""))
  }
}
