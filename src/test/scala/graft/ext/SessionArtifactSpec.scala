package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** The session-artifact contract: every (spark, dir) entry point that
  * consumes a session-scoped cached artifact (shared edge tables, the
  * oriented-triangle pair, the SCC labels, the 5-gram LM blocks, the
  * bigram counts) must return BIT-IDENTICAL rows to the standalone Df
  * form that builds its own artifacts — the caches change where the
  * work happens, never what is computed. The tri-scale DuckDB oracles
  * gate the same property end-to-end; this spec pins it directly at
  * unit granularity so a cache-keying or release bug fails here first,
  * with a readable diff, instead of as a hash mismatch in the driver.
  */
class SessionArtifactSpec extends SparkTestBase {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case null => "∅"
      case x => x
    }).toSet

  private def docs = graft.Tables.fanOut(graft.Tables.documents(spark, sfDir))
  private def rawDocs = graft.Tables.documents(spark, sfDir)

  test("pagerank via sessionEdges equals the standalone Df form") {
    val cached = Graph.pagerank(spark, sfDir)
    val standalone = Graph.pagerankDf(docs)
    assert(rows(cached) == rows(standalone))
  }

  test("link components via sessionUndirected equal the standalone Df form") {
    assert(rows(Graph.linkComponents(spark, sfDir)) ==
      rows(Graph.linkComponentsDf(docs)))
  }

  test("SCC via the session label cache equals the standalone Df form") {
    assert(rows(Graph.linkScc(spark, sfDir)) == rows(Graph.linkSccDf(docs)))
  }

  test("transitivity and clustering coefficient via the shared triangle pair equal Df forms") {
    assert(rows(Graph.graphTransitivity(spark, sfDir)) ==
      rows(Graph.graphTransitivityDf(docs)))
    assert(rows(Graph.clusteringCoefficient(spark, sfDir)) ==
      rows(Graph.clusteringCoefficientDf(docs)))
  }

  test("crawl depth and reciprocity via sessionEdges equal Df forms") {
    import org.apache.spark.sql.functions._
    assert(rows(Graph.crawlDepth(spark, sfDir)) ==
      rows(Graph.crawlDepthDf(docs, col("source") === lit("src0"))))
    assert(rows(Graph.graphReciprocity(spark, sfDir)) ==
      rows(Graph.graphReciprocityDf(docs)))
  }

  test("KN and WB scoring via the session LM blocks equal the Df forms") {
    val wide = TextAnalysis.chooseWideKeys(rawDocs)
    assert(rows(TextAnalysis.knLogProb(spark, sfDir)) ==
      rows(TextAnalysis.knLogProbDf(rawDocs, wideKeys = wide)))
    assert(rows(TextAnalysis.wbLogProb(spark, sfDir)) ==
      rows(TextAnalysis.wbLogProbDf(rawDocs, wide)))
  }

  test("bigram scorer and collocations via the shared count table equal the Df forms") {
    assert(rows(TextAnalysis.bigramLogProb(spark, sfDir)) ==
      rows(TextAnalysis.bigramLogProbDf(rawDocs)))
    assert(rows(TextAnalysis.topCollocations(spark, sfDir)) ==
      rows(TextAnalysis.topCollocationsDf(rawDocs)))
  }

  test("semantic dedup drop lists via the session fit caches equal standalone fits") {
    // the r15 share: the registered wrappers take the derived-k cells
    // fit (and the PQ raw codebooks) from the session caches; both
    // fits are deterministic, so the drop lists must be IDENTICAL to
    // a standalone refit — the fitKey=None path planted-fixture tests
    // exercise
    val emb = graft.Tables.embeddings(spark, sfDir)
    assert(rows(Similarity.semanticDedupDropList(emb,
        fitKey = Some((spark, sfDir)))) ==
      rows(Similarity.semanticDedupDropList(emb)))
    assert(rows(Similarity.semanticDedupPqDropList(emb,
        fitKey = Some((spark, sfDir)))) ==
      rows(Similarity.semanticDedupPqDropList(emb)))
  }

  test("retrieval session frames equal the standalone Df forms") {
    // r16: the registered bound-table/pruned evaluators ride the
    // pinned contribution + block-max artifacts
    assert(rows(Search.bm25TermBounds(spark, sfDir)) ==
      rows(Search.bm25TermBoundsDf(docs)))
    assert(rows(Search.bm25MaxScoreTopK(spark, sfDir)) ==
      rows(Search.bm25MaxScoreTopKDf(docs)))
    assert(rows(Search.bm25BlockMaxBounds(spark, sfDir)) ==
      rows(Search.bm25BlockMaxBoundsDf(docs)))
    assert(rows(Search.bm25BlockMaxTopK(spark, sfDir)) ==
      rows(Search.bm25BlockMaxTopKDf(docs)))
    assert(rows(Search.queryLikelihoodTopK(spark, sfDir)) ==
      rows(Search.queryLikelihoodTopKDf(docs)))
    // r16 amendment: the registered section family (ranking AND the
    // winners-only payload) rides the session section-chunks artifact
    assert(rows(Search.sectionBm25TopK(spark, sfDir)) ==
      rows(Search.sectionBm25TopKDf(docs)))
    assert(rows(Search.sectionDedup(spark, sfDir)) ==
      rows(Search.sectionDedupDf(docs)))
    // r16 amendment: hard negatives + eval audit ride the session
    // contribution frame
    assert(rows(Search.hardNegatives(spark, sfDir)) ==
      rows(Search.hardNegativesDf(docs)))
    assert(rows(Search.retrievalEvalAudit(spark, sfDir)) ==
      rows(Search.retrievalEvalAuditDf(docs)))
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
    "base_gate_index" -> "q_ingest_gate")

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
      rows(Search.bm25BlockMaxBoundsDf(docs)))
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
