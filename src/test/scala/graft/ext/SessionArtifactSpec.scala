package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** The session-artifact contract: every (spark, dir) entry point that
  * consumes a session-scoped cached artifact (shared edge tables, the
  * oriented-triangle pair, the SCC labels, the 5-gram LM blocks, the
  * bigram counts) must return BIT-IDENTICAL rows to a reference that
  * builds its own artifacts — the caches change where the work happens,
  * never what is computed. The reference is the query's core run over
  * a FRESH, uncached build (for the link-graph family a fresh edge
  * checkpoint, [[FixtureGraph]]) so it stays independent of the session
  * pins; the semantic-dedup fits compare against a standalone refit.
  * Some test names still say "Df form(s)" so the suite's test ids stay
  * stable. The tri-scale DuckDB oracles gate the same property
  * end-to-end; this spec pins it directly at unit granularity so a
  * cache-keying or release bug fails here first, with a readable diff,
  * instead of as a hash mismatch in the oracle gate.
  */
class SessionArtifactSpec extends SparkTestBase {
  import org.apache.spark.sql.functions.{col, lit}

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case null => "∅"
      case x => x
    }).toSet

  private def docs = graft.Tables.fanOut(graft.Tables.documents(spark, sfDir))
  private def rawDocs = graft.Tables.documents(spark, sfDir)

  test("pagerank via sessionEdges equals the standalone Df form") {
    val core = FixtureGraph.of(docs)(g => rows(
      Graph.rankLoopOn(docs, g.edges, lit(true), Graph.RankIters, 100)
        .select("doc_id", "rank_nano", "out_deg", "in_deg")))
    assert(rows(Graph.pagerank(spark, sfDir)) == core)
  }

  test("link components via sessionUndirected equal the standalone Df form") {
    val core = FixtureGraph.of(docs)(g => rows(Graph.minLabelComponentsOn(
      docs.select("doc_id"), g.undirected, Graph.ComponentRounds)._1))
    assert(rows(Graph.linkComponents(spark, sfDir)) == core)
  }

  test("SCC via the session label cache equals the standalone Df form") {
    val core = FixtureGraph.of(docs)(g => rows(Graph.sccDf(docs.select("doc_id"), g.edges)))
    assert(rows(Graph.linkScc(spark, sfDir)) == core)
  }

  test("transitivity and clustering coefficient via the shared triangle pair equal Df forms") {
    val (transitivity, cc) = FixtureGraph.of(docs) { g =>
      val (oe, udeg) = g.oriented
      (rows(Graph.graphTransitivityOn(docs, oe, udeg)),
        rows(Graph.clusteringCoefficientOn(docs, oe, udeg)))
    }
    assert(rows(Graph.graphTransitivity(spark, sfDir)) == transitivity)
    assert(rows(Graph.clusteringCoefficient(spark, sfDir)) == cc)
  }

  test("crawl depth and reciprocity via sessionEdges equal Df forms") {
    val (depth, reciprocity) = FixtureGraph.of(docs)(g =>
      (rows(Graph.crawlDepthOn(docs, g.edges, col("source") === lit("src0"), Graph.BfsRounds)),
        rows(Graph.graphReciprocityOn(g.edges))))
    assert(rows(Graph.crawlDepth(spark, sfDir)) == depth)
    assert(rows(Graph.graphReciprocity(spark, sfDir)) == reciprocity)
  }

  test("node embeddings and link-prediction AUC via the session walk table equal the cores") {
    val (emb, auc) = FixtureGraph.of(docs) { g =>
      val (w, last) = Graph.walksOn(docs, g.edges)
      last.foreach(g.own)
      val walks = g.own(w.localCheckpoint())
      val pairs = g.own(Graph.walkPairsFrom(walks, Graph.WalkWindow).localCheckpoint())
      val em = g.own(Graph.nodeEmbeddingsOnPairs(pairs, docs.count()).localCheckpoint())
      (rows(em), rows(Graph.linkPredictionAucOnEdges(g.edges, em, docs.count())))
    }
    assert(rows(Graph.nodeEmbeddings(spark, sfDir)) == emb)
    assert(rows(Graph.linkPredictionAuc(spark, sfDir)) == auc)
  }

  test("the triangle pair and assortativity via sessionUndirected equal the core orientation") {
    val (oe, udeg) = Graph.orientedTriangleState(spark, sfDir)
    val (coreOe, coreUdeg, assortativity) = FixtureGraph.of(docs) { g =>
      val (foe, fudeg) = g.oriented
      (rows(foe), rows(fudeg), rows(Graph.degreeAssortativityOn(foe)))
    }
    assert(rows(oe) == coreOe && rows(udeg) == coreUdeg)
    assert(rows(Graph.degreeAssortativity(spark, sfDir)) == assortativity)
  }

  test("convergence audit and degrees via sessionEdges equal the cores") {
    val (audit, degrees) = FixtureGraph.of(docs)(g =>
      (rows(Graph.pagerankConvergenceOn(spark, docs, g.edges, Graph.RankIters)),
        rows(Graph.linkGraphDegreesOn(docs, g.edges))))
    assert(rows(Graph.pagerankConvergence(spark, sfDir)) == audit)
    assert(rows(Graph.linkGraphDegrees(spark, sfDir)) == degrees)
  }

  test("KN and WB scoring via the session LM blocks equal the Df forms") {
    // the registered 5-gram scorers (both key widths for KN) against
    // their cores over a fresh type table of the raw corpus
    val toks = TextAnalysis.tokenized(rawDocs)
    def fresh(wide: Boolean) = {
      val c5 = TextAnalysis.fivegramTypeTable(toks, wide)
      (c5, TextAnalysis.fivegramWindowCounts(c5), TextAnalysis.smoothedStatTable(c5))
    }
    val (c5, windows, smoothed) = fresh(TextAnalysis.chooseWideKeys(rawDocs))
    assert(rows(TextAnalysis.knLogProb(spark, sfDir)) ==
      rows(TextAnalysis.knScoreOn(toks, c5, smoothed)))
    assert(rows(TextAnalysis.wbLogProb(spark, sfDir)) ==
      rows(TextAnalysis.wbScoreOn(toks, c5, smoothed)))
    assert(rows(TextAnalysis.fivegramLogProb(spark, sfDir)) ==
      rows(TextAnalysis.fivegramScoreOn(toks, c5, windows)))
    assert(rows(TextAnalysis.interpLogProb(spark, sfDir)) ==
      rows(TextAnalysis.interpScoreOn(toks, c5, windows)))
    val (w5, _, wSmoothed) = fresh(wide = true)
    assert(rows(graft.SparkEntry.queries("q_kn_logprob_wide")(spark, sfDir)) ==
      rows(TextAnalysis.knScoreOn(toks, w5, wSmoothed)))
  }

  test("bigram scorer and collocations via the shared count table equal the Df forms") {
    val toks = TextAnalysis.tokenized(rawDocs)
    val c2 = TextAnalysis.bigramCountTable(toks)
    assert(rows(TextAnalysis.bigramLogProb(spark, sfDir)) ==
      rows(TextAnalysis.bigramScoreOn(toks, c2)))
    assert(rows(TextAnalysis.topCollocations(spark, sfDir)) == rows(TextAnalysis
      .topCollocationsOn(c2, TextAnalysis.CollocTopK, TextAnalysis.CollocMinCount)))
    assert(rows(TextAnalysis.backoffLogProb(spark, sfDir)) ==
      rows(TextAnalysis.backoffScoreOn(toks,
        TextAnalysis.backoffMlpTable(TextAnalysis.trigramCountTable(toks)))))
  }

  test("semantic dedup drop lists via the session fit caches equal standalone fits") {
    // the r15 share: the registered queries take the derived-k cells
    // fit (and the PQ raw codebooks) from the session caches; both
    // fits are deterministic, so the queries must equal the cores over
    // a fresh fit of the same vectors
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cents = Clustering.kmeansCentroids(emb, Similarity.semDedupCells(emb))
    assert(rows(graft.SparkEntry.queries("q_semantic_dedup")(spark, sfDir)) ==
      rows(Similarity.semDedupLabelStats(emb, Similarity.semanticDedupDropList(emb, cents))))
    assert(rows(graft.SparkEntry.queries("q_semantic_dedup_pq")(spark, sfDir)) ==
      rows(Similarity.semDedupLabelStats(emb,
        Similarity.semanticDedupPqDropList(emb, cents, Similarity.rawPqFit(emb)))))
  }

  test("retrieval session frames equal the standalone Df forms") {
    // each registered retrieval query against its core over a fresh
    // build: the contribution frame, the probe postings + corpus
    // stats, and the section split
    val ca = Search.bm25ContribAll(docs)
    assert(rows(Search.bm25TermBounds(spark, sfDir)) == rows(Search.bm25TermBoundsOn(ca)))
    assert(rows(Search.bm25MaxScoreTopK(spark, sfDir)) ==
      rows(Search.bm25MaxScoreTopKOn(ca, Search.ProbeTopK)))
    assert(rows(Search.bm25BlockMaxBounds(spark, sfDir)) == rows(Search.blockMaxTable(ca)))
    assert(rows(Search.bm25BlockMaxTopK(spark, sfDir)) ==
      rows(Search.bm25BlockMaxTopKOn(ca, Search.blockMaxTable(ca), Search.ProbeTopK)))
    assert(rows(Search.hardNegatives(spark, sfDir)) == rows(Search.hardNegativesOn(ca)))
    assert(rows(Search.retrievalEvalAudit(spark, sfDir)) ==
      rows(Search.retrievalEvalAuditOn(ca)))
    val probed = Search.postingsDf(docs, Some(Search.ProbeTerms))
    val stats = Search.corpusStatsDf(docs)
    assert(rows(Search.queryLikelihoodTopK(spark, sfDir)) ==
      rows(Search.queryLikelihoodTopKOn(probed, stats)))
    assert(rows(Search.bm25TopK(spark, sfDir)) ==
      rows(Search.bm25AgainstStats(probed, Search.ProbeTerms, stats, Search.ProbeTopK)))
    assert(rows(Search.postingsSizeModel(spark, sfDir)) ==
      rows(Search.postingsSizeModelOn(probed)))
    val secs = Search.sectionChunksDf(Search.sectionMdFrame(docs))
    assert(rows(Search.sectionBm25TopK(spark, sfDir)) ==
      rows(Search.sectionBm25Ranked(secs, Search.SectionTopK, Search.ProbeTerms)))
    assert(rows(Search.sectionDedup(spark, sfDir)) == rows(Search.sectionDedupOn(secs)))
  }

  /** One consumer query per declared session artifact (artifact name →
    * a registered query that builds it). A new artifact without an
    * entry here fails the cold-contract test below.
    */
  private val consumers = Seq(
    "graph_edges" -> "q_pagerank",
    "graph_edges_dst" -> "q_hits",
    "graph_undirected" -> "q_link_components",
    "pagerank_incr_base" -> "q_pagerank_incremental",
    "rank_serve" -> "q_trustrank",
    "hits_state" -> "q_hits",
    "walk_table" -> "q_random_walks",
    "n2v_walk_table" -> "q_node2vec_walks",
    "node_embeddings" -> "q_node_embeddings",
    "components_state" -> "q_link_components",
    "scc_labels" -> "q_link_scc",
    "bowtie_regions" -> "q_web_bowtie",
    "labelprop_state" -> "q_label_propagation",
    "kcore_state" -> "q_kcore_membership",
    "triangle_state" -> "q_clustering_coefficient",
    "bm25_contrib" -> "q_bm25_term_bounds",
    "blockmax_bounds" -> "q_bm25_blockmax_bounds",
    "section_chunks" -> "q_section_chunks",
    "postings_index" -> "q_query_expansion",
    "ql_stats" -> "q_query_likelihood_topk",
    "ql_postings" -> "q_query_likelihood_topk",
    "knn_graph" -> "q_knn_graph",
    "pq_codebooks" -> "q_ivf_pq_topk",
    "pq_codebooks" -> "q_semantic_dedup_pq",
    "kmeans_fit" -> "q_kmeans",
    "bpe_merges" -> "q_bpe_stats",
    "bpe_enc_lens" -> "q_bpe_stats",
    "unigram_pieces" -> "q_unigram_tokenizer",
    "unigram_enc_lens" -> "q_unigram_tokenizer",
    "source_word_counts" -> "q_bpe_fertility",
    "tokenized_docs" -> "q_bigram_logprob",
    "lm_bigram_counts" -> "q_bigram_logprob",
    "moore_lewis_lm" -> "q_moore_lewis",
    "lm_backoff_scores" -> "q_backoff_logprob",
    "lm_5gram_types" -> "q_fivegram_logprob",
    "lm_5gram_windows" -> "q_fivegram_logprob",
    "lm_5gram_smoothed" -> "q_wb_logprob",
    "base_band_index" -> "q_dedup_cascade",
    "base_content_keepers" -> "q_dedup_cascade",
    "base_url_keepers" -> "q_dedup_cascade",
    "neardup_clusters" -> "q_neardup_clusters",
    "substr_spans" -> "q_substring_dedup",
    "substr_base_grams" -> "q_substring_incremental",
    "boiler_dict" -> "q_boilerplate_cleaned",
    "base_chunk_keepers" -> "q_cdc_incremental",
    "dsir_weights" -> "q_dsir_weights",
    "base_splits" -> "q_split_inheritance",
    "base_gate_index" -> "q_ingest_gate",
    "table_schema" -> "q_pagerank")

  /** The RDD a pinned frame holds in the block manager: the checkpoint
    * RDD of a checkpointed frame, the column-buffer RDD of a persisted
    * one.
    */
  private def pinnedRddIds(df: DataFrame): Seq[Int] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Seq(l.rdd.id)
      case _ => ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
        .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id).toSeq
    }
  }

  /** A copy of the sf0.001 corpus in a new directory: the ArtifactStore
    * keys artifacts on the directory's file mtimes, so nothing earlier
    * suites stored for `sfDir` is served for it.
    */
  private def withFreshCorpus(body: String => Unit): Unit = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val src = Paths.get(sfDir)
    val dst = Files.createTempDirectory("graft-cold-contract")
    def walk(p: Path) = Files.walk(p).iterator().asScala.toSeq
    try {
      walk(src).foreach { p =>
        val q = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
      body(dst.toString)
    } finally walk(dst).reverse.foreach(Files.delete)
  }

  test("clearing all session caches rebuilds bit-identical artifacts (cold-bench contract)") {
    // SessionCaches.clearAll between two builds must be invisible in
    // results: every artifact is deterministic, so the cold bench's
    // per-query clears can only change WHERE time is spent. The first
    // pass builds every artifact (store misses on a fresh corpus), the
    // second reads them back from the store.
    withFreshCorpus { dir =>
      val queries = consumers.map(_._2).distinct
      def run() = queries.map(q => q -> rows(graft.SparkEntry.queries(q)(spark, dir)))
      graft.SessionCaches.clearAll(spark)
      graft.ArtifactLedger.reset()
      val before = run()
      val declared = graft.SessionCaches.artifacts.map(_.name).toSet
      assert(declared == consumers.map(_._1).toSet,
        "every declared artifact needs exactly one listed consumer")
      val unbuilt = declared -- graft.ArtifactLedger.snapshot.keySet
      assert(unbuilt.isEmpty, s"declared artifacts not built by their consumers: $unbuilt")

      val held = graft.SessionCaches.artifacts.flatMap(_.heldFrames(spark))
      val pinned = held.flatMap(pinnedRddIds).toSet
      assert(held.nonEmpty && pinned.size == held.size,
        s"${held.size} held frames, ${pinned.size} pinned RDDs")
      assert(pinned.subsetOf(spark.sparkContext.getPersistentRDDs.keySet.toSet))
      graft.SessionCaches.clearAll(spark)
      assert(graft.SessionCaches.artifacts.forall(_.heldFrames(spark).isEmpty))
      val leaked = pinned intersect spark.sparkContext.getPersistentRDDs.keySet.toSet
      assert(leaked.isEmpty, s"cleared artifacts still pin RDDs $leaked")

      val after = run()
      before.zip(after).foreach { case ((q, a), (_, b)) =>
        assert(a == b, s"$q: clearAll must be result-invisible")
      }
      graft.SessionCaches.clearAll(spark)
    }
    // regression: the block-max BOUNDS consumer as the FIRST build in
    // a cold session once hit a recursive computeIfAbsent (its
    // artifact derives from the contribution artifact, and both shared
    // one map) — rebuild it first-thing after a clear
    graft.SessionCaches.clearAll(spark)
    assert(rows(Search.bm25BlockMaxBounds(spark, sfDir)) ==
      rows(Search.blockMaxTable(Search.bm25ContribAll(docs))))
  }

  test("trained subword tables: session cache hit is bit-identical to a retrain (r19)") {
    // both trainers are deterministic functions of (corpus, params), so
    // cached-vs-cleared results must match bit for bit — the trainer
    // caches joined the session-artifact program in r19
    val cached = (rows(TextAnalysis.unigramVocab(spark, sfDir)),
      rows(TextAnalysis.bpeMerges(spark, sfDir)),
      rows(TextAnalysis.tokenizerBakeoff(spark, sfDir)))
    graft.SessionCaches.clearAll(spark)
    val retrained = (rows(TextAnalysis.unigramVocab(spark, sfDir)),
      rows(TextAnalysis.bpeMerges(spark, sfDir)),
      rows(TextAnalysis.tokenizerBakeoff(spark, sfDir)))
    assert(cached == retrained, "trainer cache must be result-invisible")
  }
}
