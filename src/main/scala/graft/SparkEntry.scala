package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.{CoreQueries, Expectations, ExtraQueries, RelationalQueries}
import graft.extract.TextExtract
import graft.ext.{Cleaning, Clustering, Dedup, Similarity, TextAnalysis}
import graft.ingest.CorpusSource

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (plus the training-data-pipeline
  * extensions) is exposed as a named query; each SQL-expressible one has a
  * DuckDB oracle in [[oracleSql]] with identical column names and identical
  * deterministic ORDER BY. Double aggregates use the exact-decimal-sum
  * pattern on both sides (see graft.analytics.dsum) so hash-compare is
  * stable.
  */
object SparkEntry {

  /** Text-corpus fixture dir for the wholetext queries — overridable so
    * the query surface works on any checkout location (the driver's
    * DuckDB oracle reads the same resolved path via oracleSql).
    */
  private[graft] val corpusDir: String =
    sys.env.getOrElse("SPARK_GRAFT_CORPUS_DIR",
      sys.props.getOrElse("graft.corpus.dir",
        "/root/repo/src/test/resources/corpus"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.domainStats(spark, "/root/testdata/sf0.001")

  /** Queries that stay in the correctness gate (Verify + oracle) but
    * are NOT bench residents — the displace rule's answer to expensive
    * parameter-width variants of an already-priced policy. Current
    * set: q_kn_logprob_wide is Kneser-Ney at the 16-byte gram-key
    * width; q_kn_logprob already prices the KN policy itself, and the
    * width switch is the auto-policy's job. q_pagerank_converge
    * (r14 ruling) re-runs the vanilla rank recurrence over the session
    * edge pin — the recurrence q_pagerank's session serve table
    * already prices — adding only the per-round movement diagnostic:
    * a diagnostic variant, not a distinct capability (BASELINE.md
    * records both decisions). Correctness coverage is unchanged:
    * Verify runs EVERY query.
    */
  val correctnessOnly: Set[String] =
    Set("q_kn_logprob_wide", "q_pagerank_converge")

  /** The registered queries with no oracle SQL: the correctness gate
    * checks them for rows > 0 only, and ScalaTest ground truth covers
    * their values. Every registered query is in exactly one of this set
    * and `oracleSql.keySet` (SparkEntrySpec), so none can leave the
    * gate silently.
    */
  val rowsOnly: Set[String] = Set(
    "q_approx_distincts", "q_bpe_fertility", "q_bpe_merges", "q_bpe_stats",
    "q_compression_ratio", "q_hot_terms", "q_media_features", "q_pack_stats",
    "q_sketch_overlap", "q_tokenizer_bakeoff", "q_unigram_fertility",
    "q_unigram_tokenizer", "q_unigram_vocab")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference analytics surface (SURVEY §2.6–§2.8)
    "q_domain_stats"      -> (CoreQueries.domainStats _),
    "q_global_size_stats" -> (CoreQueries.globalSizeStats _),
    "q_topk_domains"      -> (CoreQueries.topkDomains _),
    "q_sample_docs"       -> (CoreQueries.sampleDocs _),
    "q_filtered_projection" -> (CoreQueries.filteredProjection _),
    "q_length_histogram"  -> (CoreQueries.lengthHistogram _),
    "q_json_extract_stats" -> (CoreQueries.jsonExtractStats _),
    "q_event_type_rollup" -> (CoreQueries.eventTypeRollup _),
    "q_tumbling_windows"  -> (CoreQueries.tumblingWindowCounts _),
    "q_monthly_orders"    -> (CoreQueries.monthlyOrders _),
    // ---- relational coverage (SURVEY §2.5/§2.9/§2.10, §7.2 step 4)
    "q1_pricing_summary"  -> (RelationalQueries.q1PricingSummary _),
    "q_distinct_counts"   -> (RelationalQueries.distinctCounts _),
    "q_orders_rollup"     -> (RelationalQueries.ordersRollup _),
    "q_lineitem_cube"     -> (RelationalQueries.lineitemCube _),
    "q_top_orders"        -> (RelationalQueries.topOrders _),
    "q_join_nation_region" -> (RelationalQueries.joinNationRegion _),
    "q_join_customer_orders" -> (RelationalQueries.joinCustomerOrders _),
    "q3_shipping"         -> (RelationalQueries.q3Shipping _),
    "q5_local_supplier"   -> (RelationalQueries.q5LocalSupplier _),
    "q_semi_join"         -> (RelationalQueries.semiJoinCustomers _),
    "q_anti_join"         -> (RelationalQueries.antiJoinCustomers _),
    "q_outer_join_histogram" -> (RelationalQueries.outerJoinHistogram _),
    "q_range_join"        -> (RelationalQueries.rangeJoinBalance _),
    "q_asof_join"         -> (RelationalQueries.asofJoinEvents _),
    "q_asof_join_custom"  -> (ExtraQueries.asofJoinCustom _),
    "q_window_top_customers" -> (RelationalQueries.windowTopCustomers _),
    "q_window_running_total" -> (RelationalQueries.windowRunningTotal _),
    "q_window_lag"        -> (RelationalQueries.windowLagEvents _),
    "q_window_rank"       -> (RelationalQueries.windowRankShare _),
    "q_set_union"         -> (RelationalQueries.setUnionNations _),
    "q_set_intersect"     -> (RelationalQueries.setIntersectNations _),
    "q_set_except"        -> (RelationalQueries.setExceptNations _),
    // ---- text extraction (SURVEY §2.8 T3–T9)
    "q_extract_metadata"  -> (TextExtract.extractDocMetadata _),
    "q_normalized_preview" -> (TextExtract.normalizedPreview _),
    // ---- SURVEY §2 closers: S2/S3, T9, T10, O5, parse_vn_date
    "q_sql_over_view"     -> (ExtraQueries.sqlOverView _),
    "q_log_line_parse"    -> (ExtraQueries.logLineParse _),
    "q_offset_slice"      -> ((s: SparkSession, d: String) => ExtraQueries.offsetSlice(s, d)),
    "q_html_to_markdown"  -> (ExtraQueries.htmlToMarkdownDocs _),
    "q_vn_dates"          -> ((s: SparkSession, d: String) => ExtraQueries.vnDates(s, d)),
    "q_wholetext_corpus"  -> ((s: SparkSession, _: String) =>
      CorpusSource.wholeTextCorpus(s, corpusDir)
        .select(col("domain"), col("filename"), length(col("content")).cast("long").as("n_chars"))
        .orderBy(col("filename"))),
    "q_media_features"    -> (ExtraQueries.mediaFeatures _),
    "q_session_stats"     -> (ExtraQueries.sessionStats _),
    "q_approx_distincts"  -> (ExtraQueries.approxDistincts _),
    "q_above_avg_orders"  -> (ExtraQueries.aboveAvgOrders _),
    "q_min_price_per_part" -> (ExtraQueries.minPricePerPart _),
    "q_large_qty_orders"  -> ((s: SparkSession, d: String) => ExtraQueries.largeQuantityOrders(s, d)),
    "q_late_priority_counts" -> (ExtraQueries.latePriorityCounts _),
    "q_grouping_sets"     -> (ExtraQueries.orderGroupingSets _),
    "q_percentiles"       -> (ExtraQueries.quantityPercentiles _),
    "q_window_distribution" -> (ExtraQueries.customerBalanceDistribution _),
    "q_orders_pivot"      -> (ExtraQueries.ordersPivot _),
    "q_orders_unpivot"    -> (ExtraQueries.ordersUnpivot _),
    "q_ship_latency"      -> (ExtraQueries.shipLatency _),
    // ---- training-data-pipeline extensions
    "q_token_stats"       -> (TextAnalysis.tokenStats _),
    "q_quality_scores"    -> (TextAnalysis.qualityScores _),
    "q_language_id"       -> (TextAnalysis.languageId _),
    "q_fingerprints"      -> (TextAnalysis.fingerprints _),
    "q_tfidf_top_terms"   -> ((s: SparkSession, d: String) => TextAnalysis.tfidfTopTerms(s, d)),
    "q_textrank_keywords" -> ((s: SparkSession, d: String) => TextAnalysis.textrankKeywords(s, d)),
    "q_hot_terms"         -> ((s: SparkSession, d: String) => TextAnalysis.hotTermsPerSource(s, d)),
    "q_hot_terms_exact"   -> ((s: SparkSession, d: String) => TextAnalysis.hotTermsExact(s, d)),
    "q_pii_redaction"     -> (TextAnalysis.piiRedactionStats _),
    "q_dedup_exact_stats" -> (Dedup.exactDedupStats _),
    "q_dedup_keep_list"   -> (Dedup.exactDedupKeepList _),
    "q_deduped_corpus"    -> (Dedup.dedupedCorpus _),
    "q_quality_filters"   -> ((s: SparkSession, d: String) => TextAnalysis.qualityFilters(s, d)),
    "q_minhash_pairs"     -> ((s: SparkSession, d: String) => Dedup.minhashCandidatePairs(s, d)),
    "q_minhash_incremental" -> ((s: SparkSession, d: String) => Dedup.minhashIncremental(s, d)),
    "q_exact_dedup_incremental" -> ((s: SparkSession, d: String) => Dedup.exactDedupIncremental(s, d)),
    "q_dedup_cascade"     -> ((s: SparkSession, d: String) => Dedup.dedupCascade(s, d)),
    "q_neardup_clusters"  -> ((s: SparkSession, d: String) => Dedup.nearDupKeepList(s, d)),
    // rows-only (clusters derive from the engine-local LSH candidates);
    // the quality-argmax election is fixture-tested in DedupSimilaritySpec
    "q_neardup_keepers"   -> ((s: SparkSession, d: String) => Dedup.nearDupQualityKeepers(s, d)),
    "q_simhash_near_dups" -> ((s: SparkSession, d: String) => Dedup.simhashNearDups(s, d)),
    "q_ngram_jaccard"     -> ((s: SparkSession, d: String) => Dedup.ngramJaccardPairs(s, d)),
    "q_cosine_topk"       -> ((s: SparkSession, d: String) => Similarity.cosineTopK(s, d)),
    "q_lsh_ann_topk"      -> ((s: SparkSession, d: String) => Similarity.lshAnnTopK(s, d)),
    "q_ivf_ann_topk"      -> ((s: SparkSession, d: String) => Similarity.ivfAnnTopK(s, d)),
    "q_ann_recall_audit"  -> ((s: SparkSession, d: String) => Similarity.annRecallAudit(s, d)),
    "q_ann_tuning_curve"  -> ((s: SparkSession, d: String) => Similarity.annTuningCurve(s, d)),
    "q_pq_distortion_audit" -> ((s: SparkSession, d: String) => Similarity.pqDistortionAudit(s, d)),
    "q_knn_graph"         -> ((s: SparkSession, d: String) => Similarity.knnGraph(s, d)),
    "q_graph_ann_topk"    -> ((s: SparkSession, d: String) => Similarity.graphAnnTopK(s, d)),
    "q_quality_propagation" -> ((s: SparkSession, d: String) => Similarity.qualityPropagation(s, d)),
    "q_embedding_near_dups" -> ((s: SparkSession, d: String) => Similarity.embeddingNearDups(s, d)),
    "q_semantic_dedup"    -> ((s: SparkSession, d: String) => Similarity.semanticDedupStats(s, d)),
    "q_embedding_norm_stats" -> (Similarity.embeddingNormStats _),
    // ---- corpus prep: deterministic split + sequence packing
    "q_repetition_stats"  -> ((s: SparkSession, d: String) => TextAnalysis.repetitionStats(s, d)),
    "q_resample_counts"   -> ((s: SparkSession, d: String) => ext.Corpus.domainResample(s, d)),
    "q_split_counts"      -> ((s: SparkSession, d: String) => ext.Corpus.splitCounts(s, d)),
    "q_pack_stats"        -> ((s: SparkSession, d: String) => ext.Corpus.packStats(s, d)),
    "q_pack_bucketed"     -> ((s: SparkSession, d: String) => ext.Corpus.packBucketedStats(s, d)),
    "q_decontamination"   -> ((s: SparkSession, d: String) => ext.Corpus.decontaminationStats(s, d)),
    // bloom-prefiltered variants: identical results to their exact
    // counterparts by construction (no false negatives; FPs killed by
    // the exact join) — so they share the exact queries' oracles
    "q_bloom_decontamination" -> ((s: SparkSession, d: String) => ext.Corpus.decontaminationStatsBloom(s, d)),
    "q_bloom_semi_join"   -> (RelationalQueries.bloomSemiJoinParts _),
    "q_bloom_anti_join"   -> (RelationalQueries.bloomAntiJoinParts _),
    "q_mixture_plan"      -> ((s: SparkSession, d: String) => ext.Corpus.mixturePlan(s, d)),
    "q_stratified_sample" -> ((s: SparkSession, d: String) => ext.Corpus.stratifiedSample(s, d)),
    "q_model_quality_filter" -> ((s: SparkSession, d: String) => TextAnalysis.modelQualityFilter(s, d)),
    "q_unigram_logprob"   -> ((s: SparkSession, d: String) => TextAnalysis.unigramLogProb(s, d)),
    "q_source_kl"         -> ((s: SparkSession, d: String) => TextAnalysis.sourceKlDivergence(s, d)),
    // ---- round 8: heuristic cleaning, span dedup, clustering, ppl buckets
    "q_gopher_filters"    -> ((s: SparkSession, d: String) => Cleaning.gopherFilters(s, d)),
    "q_span_dedup"        -> ((s: SparkSession, d: String) => Cleaning.spanDedupStats(s, d)),
    "q_substring_dedup"   -> ((s: SparkSession, d: String) => Cleaning.substringDedup(s, d)),
    "q_substring_excised" -> ((s: SparkSession, d: String) => Cleaning.substringExcised(s, d)),
    "q_substring_incremental" -> ((s: SparkSession, d: String) => Cleaning.substringIncremental(s, d)),
    "q_substring_selfrepeat" -> ((s: SparkSession, d: String) => Cleaning.substringSelfRepeat(s, d)),
    "q_paragraph_dedup"   -> ((s: SparkSession, d: String) => Cleaning.paragraphDedupStats(s, d)),
    "q_c4_line_filter"    -> ((s: SparkSession, d: String) => Cleaning.c4LineFilter(s, d)),
    "q_c4_cleaned_docs"   -> ((s: SparkSession, d: String) => Cleaning.c4CleanedCorpus(s, d)),
    "q_url_dedup"         -> ((s: SparkSession, d: String) => Cleaning.urlDedup(s, d)),
    "q_boilerplate_lines" -> ((s: SparkSession, d: String) => Cleaning.boilerplateLines(s, d)),
    "q_domain_blocklist"  -> ((s: SparkSession, d: String) => Cleaning.domainBlocklist(s, d)),
    "q_boilerplate_cleaned" -> ((s: SparkSession, d: String) => Cleaning.boilerplateCleaned(s, d)),
    "q_acquisition_funnel" -> ((s: SparkSession, d: String) => Cleaning.acquisitionFunnel(s, d)),
    "q_length_buckets"    -> ((s: SparkSession, d: String) => ext.Corpus.lengthBuckets(s, d)),
    "q_domain_cap"        -> ((s: SparkSession, d: String) => ext.Corpus.domainCap(s, d)),
    "q_kmeans"            -> ((s: SparkSession, d: String) => Clustering.kmeansStats(s, d)),
    "q_perplexity_buckets" -> ((s: SparkSession, d: String) => TextAnalysis.perplexityBuckets(s, d)),
    "q_cluster_prune"     -> ((s: SparkSession, d: String) => Clustering.clusterPrune(s, d)),
    "q_zipf_slope"        -> ((s: SparkSession, d: String) => TextAnalysis.zipfSlope(s, d)),
    "q_source_overlap"    -> ((s: SparkSession, d: String) => Cleaning.sourceOverlap(s, d)),
    "q_mixture_temperature" -> ((s: SparkSession, d: String) => ext.Corpus.mixturePlanTemperature(s, d)),
    "q_curation_funnel"   -> ((s: SparkSession, d: String) => Cleaning.curationFunnel(s, d)),
    "q_quality_auc"       -> ((s: SparkSession, d: String) => TextAnalysis.qualityAuc(s, d)),
    "q_corpus_diff"       -> ((s: SparkSession, d: String) => ext.Corpus.corpusDiff(s, d)),
    "q_bigram_logprob"    -> ((s: SparkSession, d: String) => TextAnalysis.bigramLogProb(s, d)),
    "q_top_collocations"  -> ((s: SparkSession, d: String) => TextAnalysis.topCollocations(s, d)),
    "q_token_entropy"     -> ((s: SparkSession, d: String) => TextAnalysis.tokenEntropy(s, d)),
    // ---- round 9: backoff LM, product-quantized ANN
    "q_moore_lewis"       -> ((s: SparkSession, d: String) => TextAnalysis.mooreLewisSelect(s, d)),
    "q_backoff_logprob"   -> ((s: SparkSession, d: String) => TextAnalysis.backoffLogProb(s, d)),
    "q_ivf_pq_topk"       -> ((s: SparkSession, d: String) => Similarity.ivfPqTopK(s, d)),
    "q_quality_calibration" -> ((s: SparkSession, d: String) => TextAnalysis.qualityCalibration(s, d)),
    "q_heaps_law"         -> ((s: SparkSession, d: String) => TextAnalysis.heapsLaw(s, d)),
    "q_length_model"      -> ((s: SparkSession, d: String) => TextAnalysis.lengthModel(s, d)),
    "q_entropy_rate"      -> ((s: SparkSession, d: String) => TextAnalysis.entropyRate(s, d)),
    "q_roc_points"        -> ((s: SparkSession, d: String) => TextAnalysis.rocPoints(s, d)),
    "q_semantic_dedup_pq" -> ((s: SparkSession, d: String) => Similarity.semanticDedupStatsPq(s, d)),
    "q_winnow_stats"      -> ((s: SparkSession, d: String) => Cleaning.winnowFingerprintStats(s, d)),
    "q_winnow_matches"    -> ((s: SparkSession, d: String) => Cleaning.winnowMatches(s, d)),
    "q_fivegram_logprob"  -> ((s: SparkSession, d: String) => TextAnalysis.fivegramLogProb(s, d)),
    "q_interp_logprob"    -> ((s: SparkSession, d: String) => TextAnalysis.interpLogProb(s, d)),
    "q_wb_logprob"        -> ((s: SparkSession, d: String) => TextAnalysis.wbLogProb(s, d)),
    "q_kn_logprob"        -> ((s: SparkSession, d: String) => TextAnalysis.knLogProb(s, d)),
    // the 128-bit-key variant of the deepest smoothing chain, gated by
    // the SAME string-keyed oracle (key width is an engine-internal
    // interning choice; identical scores are the whole point) — the
    // oracle-checked half of the wide-key policy (chooseWideKeys)
    "q_kn_logprob_wide"   -> ((s: SparkSession, d: String) =>
      TextAnalysis.knLogProb(s, d, wide = true)),
    "q_winnow_span_dedup" -> ((s: SparkSession, d: String) => Cleaning.winnowSpanDedupStats(s, d)),
    "q_hot_terms_guarantee" -> ((s: SparkSession, d: String) => TextAnalysis.hotTermsGuarantee(s, d)),
    "q_pack_invariants"   -> ((s: SparkSession, d: String) => ext.Corpus.packInvariants(s, d)),
    "q_dsir_weights"      -> ((s: SparkSession, d: String) => ext.Corpus.dsirWeights(s, d)),
    "q_dsir_select"       -> ((s: SparkSession, d: String) => ext.Corpus.dsirSelect(s, d)),
    "q_mixture_execute"   -> ((s: SparkSession, d: String) => ext.Corpus.mixtureExecute(s, d)),
    "q_sem_decontamination" -> ((s: SparkSession, d: String) => Similarity.semanticDecontamination(s, d)),
    "q_vocab_coverage"    -> ((s: SparkSession, d: String) => TextAnalysis.vocabCoverage(s, d)),
    "q_epoch_order"       -> ((s: SparkSession, d: String) => ext.Corpus.epochShuffleShards(s, d)),
    "q_shard_stats"       -> ((s: SparkSession, d: String) => ext.Corpus.shardStats(s, d)),
    // rows-only: deflated byte counts aren't portable across zlib builds
    "q_compression_ratio" -> ((s: SparkSession, d: String) => TextAnalysis.compressionStats(s, d)),
    // rows-only pair: the BPE merge loop is not SQL-expressible (encode
    // correctness is property-tested; the merge table is deterministic)
    "q_bpe_merges"        -> ((s: SparkSession, d: String) => TextAnalysis.bpeMerges(s, d)),
    "q_bpe_stats"         -> ((s: SparkSession, d: String) => TextAnalysis.bpeStats(s, d)),
    "q_dim_truncation"    -> ((s: SparkSession, d: String) => Similarity.dimTruncationAudit(s, d)),
    "q_ngram_containment" -> ((s: SparkSession, d: String) => Dedup.ngramContainmentPairs(s, d)),
    // rows-only: band-bucket candidate generation is engine-local (the
    // capped q_ngram_containment IS its exact-value auditor on the slice)
    "q_ngram_containment_corpus" -> ((s: SparkSession, d: String) => Dedup.ngramContainmentCorpus(s, d)),
    // rows-only like the corpus form; recall domination over the
    // uniform banding + the surfaced size-gapped planted pair are
    // asserted in DedupSimilaritySpec (LSH Ensemble stratification)
    "q_ngram_containment_stratified" -> ((s: SparkSession, d: String) => Dedup.ngramContainmentStratified(s, d)),
    // rows-only: int8 rounding isn't portably reproducible in SQL at
    // hash precision; recall floor + error bound live in ScalaTest
    "q_sq_ann_topk"       -> ((s: SparkSession, d: String) => Similarity.sqAnnTopK(s, d)),
    // rows-only: the stub grid hash is byte math a SQL oracle could
    // mirror only by reimplementing the kernel; fixture-tested instead
    "q_media_phash"       -> (ExtraQueries.mediaPhash _),
    // rows-only: the planted perturbation is Dataset-typed byte math;
    // planted-pair recall is asserted exactly in CorpusAndSinksSpec
    "q_media_neardup_pairs" -> (ExtraQueries.mediaNearDupPairs _),
    "q_audio_neardup_pairs" -> (ExtraQueries.audioNearDupPairs _),
    // multimodal dedup closure: min-label clusters over the phash pairs
    "q_media_dedup_clusters" -> (ExtraQueries.mediaDedupClusters _),
    "q_embedding_coverage" -> ((s: SparkSession, d: String) => Similarity.embeddingCoverage(s, d)),
    "q_semantic_outliers" -> ((s: SparkSession, d: String) => Similarity.semanticOutliers(s, d)),
    // rows-only: shares bpeStats' non-SQL-expressible merge loop
    "q_bpe_fertility"     -> ((s: SparkSession, d: String) => TextAnalysis.bpeFertility(s, d)),
    // rows-only trio (r18): the unigram-LM hard-EM training loop is
    // iterative and not SQL-expressible (the BPE adjudication applied
    // to the OTHER canonical subword scheme); Viterbi optimality,
    // concat round-trip, determinism and char coverage are
    // property-tested in UnigramKernelSpec
    "q_unigram_vocab"     -> ((s: SparkSession, d: String) => TextAnalysis.unigramVocab(s, d)),
    "q_unigram_tokenizer" -> ((s: SparkSession, d: String) => TextAnalysis.unigramStats(s, d)),
    "q_unigram_fertility" -> ((s: SparkSession, d: String) => TextAnalysis.unigramFertility(s, d)),
    // rows-only (r19): the BPE×unigram comparison join — both trained
    // vocabularies carry the adjudications above; the join itself is
    // reconciled bit-for-bit vs its two halves in CorpusSpec and
    // raises in-plan on word-count drift between the scoring halves
    "q_tokenizer_bakeoff" -> ((s: SparkSession, d: String) => TextAnalysis.tokenizerBakeoff(s, d)),
    "q_shuffle_mix"       -> ((s: SparkSession, d: String) => ext.Corpus.shuffleMixAudit(s, d)),
    "q_repeat_schedule"   -> ((s: SparkSession, d: String) => ext.Corpus.repeatSchedule(s, d)),
    "q_truncation_loss"   -> ((s: SparkSession, d: String) => ext.Corpus.truncationLoss(s, d)),
    // ---- round 12, third session: budgeted selection, UniMax, chunking,
    // leakage-safe splits
    "q_token_budget_select" -> ((s: SparkSession, d: String) => ext.Corpus.tokenBudgetSelect(s, d)),
    "q_unimax_mixture"    -> ((s: SparkSession, d: String) => ext.Corpus.unimaxMixture(s, d)),
    "q_doc_chunks"        -> ((s: SparkSession, d: String) => ext.Corpus.docChunks(s, d)),
    // rows-only: split inheritance rides dedupClusters' min-label
    // propagation (union-find, not SQL-expressible); the no-straddle
    // guarantee and the unclustered-parity are asserted in CorpusSpec
    "q_leakage_safe_splits" -> ((s: SparkSession, d: String) => ext.Corpus.leakageSafeSplits(s, d)),
    // rows-only like the batch form: arrivals inherit the leakage-safe
    // split of the base page they near-duplicate (minhash probe);
    // inheritance + fallback parity are asserted in Corpus/StreamingSpec
    "q_split_inheritance" -> ((s: SparkSession, d: String) => ext.Corpus.splitInheritance(s, d)),
    "q_cdc_chunks"        -> ((s: SparkSession, d: String) => ext.Corpus.cdcChunks(s, d)),
    "q_curriculum_order"  -> ((s: SparkSession, d: String) => ext.Corpus.curriculumOrder(s, d)),
    // rows-only: DataSketches HLL estimates are engine-internal; the
    // exact q_source_overlap stays registered as this query's auditor
    // and CleaningSpec bounds the estimate drift against it
    "q_sketch_overlap"    -> ((s: SparkSession, d: String) => Cleaning.sourceOverlapSketch(s, d)),
    "q_cdc_dedup"         -> ((s: SparkSession, d: String) => ext.Corpus.cdcChunkDedup(s, d)),
    "q_cdc_incremental"   -> ((s: SparkSession, d: String) => ext.Corpus.cdcIncremental(s, d)),
    "q_unimax_execute"    -> ((s: SparkSession, d: String) => ext.Corpus.unimaxExecute(s, d)),
    "q_filter_ensemble"   -> ((s: SparkSession, d: String) => Cleaning.filterEnsemble(s, d)),
    "q_filter_attribution" -> ((s: SparkSession, d: String) => Cleaning.filterAttribution(s, d)),
    // rows-only: rides the union-find cluster table (like
    // q_neardup_clusters); planted size distribution asserted in
    // DedupSimilaritySpec
    "q_cluster_sizes"     -> ((s: SparkSession, d: String) => Dedup.clusterSizes(s, d)),
    // rows-only: composes the (xxhash) minhash verdict; its url/exact/
    // cdc columns are asserted equal to the oracle-gated component
    // queries in IngestSpec
    "q_ingest_gate"       -> ((s: SparkSession, d: String) => ext.Ingest.ingestGate(s, d)),
    "q_zorder_events"     -> ((s: SparkSession, d: String) => storage.ZOrder.zorderEvents(s, d)),
    "q_layout_compare"    -> ((s: SparkSession, d: String) => storage.ZOrder.layoutCompare(s, d)),
    "q_hilbert_layout"    -> ((s: SparkSession, d: String) => storage.ZOrder.hilbertCompare(s, d)),
    "q_link_graph_degrees" -> ((s: SparkSession, d: String) => ext.Graph.linkGraphDegrees(s, d)),
    "q_pagerank"          -> ((s: SparkSession, d: String) => ext.Graph.pagerank(s, d)),
    "q_train_classifier"  -> ((s: SparkSession, d: String) => ext.Training.trainQualityClassifier(s, d)),
    "q_distilled_scores"  -> ((s: SparkSession, d: String) => ext.Training.distilledScores(s, d)),
    "q_link_components"   -> ((s: SparkSession, d: String) => ext.Graph.linkComponents(s, d)),
    "q_trustrank"         -> ((s: SparkSession, d: String) => ext.Graph.trustrank(s, d)),
    // personalized PageRank: the same rank loop seeded by a topic
    // predicate (English-language pages)
    "q_ppr_topic"         -> ((s: SparkSession, d: String) => ext.Graph.pprTopic(s, d)),
    // strongly-connected components: forward/backward min-label peeling
    "q_link_scc"          -> ((s: SparkSession, d: String) => ext.Graph.linkScc(s, d)),
    // crawl depth: multi-source BFS hop distance from the trusted seeds
    "q_crawl_depth"       -> ((s: SparkSession, d: String) => ext.Graph.crawlDepth(s, d)),
    // incremental PageRank: warm-start refinement under an edge delta
    "q_pagerank_incremental" -> ((s: SparkSession, d: String) => ext.Graph.pagerankIncremental(s, d)),
    // web bow-tie: core/in/out/other census against the giant SCC
    "q_web_bowtie"        -> ((s: SparkSession, d: String) => ext.Graph.webBowtie(s, d)),
    "q_corpus_card"       -> ((s: SparkSession, d: String) => ext.Corpus.corpusCard(s, d)),
    "q_hits"              -> ((s: SparkSession, d: String) => ext.Graph.hits(s, d)),
    "q_pagerank_converge" -> ((s: SparkSession, d: String) => ext.Graph.pagerankConvergence(s, d)),
    "q_random_walks"      -> ((s: SparkSession, d: String) => ext.Graph.randomWalks(s, d)),
    // node2vec biased walks (DFS-like p=4 q=0.25)
    "q_node2vec_walks"    -> ((s: SparkSession, d: String) => ext.Graph.node2vecWalks(s, d)),
    // crawl-priority serving self-audit: outbound rank/trust mass
    "q_crawl_priority"    -> ((s: SparkSession, d: String) => ext.Graph.crawlPriority(s, d)),
    "q_walk_context_pairs" -> ((s: SparkSession, d: String) => ext.Graph.walkContextPairs(s, d)),
    // DeepWalk closure: 4-dim embeddings from the walk-context pairs
    "q_node_embeddings"   -> ((s: SparkSession, d: String) => ext.Graph.nodeEmbeddings(s, d)),
    // triangle family: per-node count + local clustering coefficient,
    // degree-ordered orientation (the at-scale wedge bound)
    "q_clustering_coefficient" -> ((s: SparkSession, d: String) => ext.Graph.clusteringCoefficient(s, d)),
    "q_graph_transitivity" -> ((s: SparkSession, d: String) => ext.Graph.graphTransitivity(s, d)),
    "q_degree_assortativity" -> ((s: SparkSession, d: String) => ext.Graph.degreeAssortativity(s, d)),
    // embedding evaluation: reconstruction AUC (edges vs hash-derived
    // non-edges scored by the trained embedding dot)
    "q_link_prediction_auc" -> ((s: SparkSession, d: String) => ext.Graph.linkPredictionAuc(s, d)),
    // entity resolution: FastSS deletion-neighborhood fuzzy join
    "q_fuzzy_entity_match" -> ((s: SparkSession, d: String) => ext.EntityResolution.fuzzyCustomerMatch(s, d)),
    // k-core peel to a fixpoint (data-adaptive k = floor mean degree)
    "q_kcore_membership"  -> ((s: SparkSession, d: String) => ext.Graph.kcoreMembership(s, d)),
    // semi-supervised label propagation with held-out eval columns
    "q_label_propagation" -> ((s: SparkSession, d: String) => ext.Graph.labelPropagation(s, d)),
    // retrieval: probe-term postings audit + BM25 top-k serving query
    "q_term_postings"     -> ((s: SparkSession, d: String) => ext.Search.termPostings(s, d)),
    "q_bm25_topk"         -> ((s: SparkSession, d: String) => ext.Search.bm25TopK(s, d)),
    "q_chunk_bm25_topk"   -> ((s: SparkSession, d: String) => ext.Search.chunkBm25TopK(s, d)),
    "q_section_chunks"    -> ((s: SparkSession, d: String) => ext.Search.sectionChunks(s, d)),
    "q_section_bm25_topk" -> ((s: SparkSession, d: String) => ext.Search.sectionBm25TopK(s, d)),
    "q_section_stats"     -> ((s: SparkSession, d: String) => ext.Search.sectionStats(s, d)),
    "q_section_dedup"     -> ((s: SparkSession, d: String) => ext.Search.sectionDedup(s, d)),
    // retrieval training pairs, effectiveness metrics, index sizing
    "q_hard_negatives"    -> ((s: SparkSession, d: String) => ext.Search.hardNegatives(s, d)),
    "q_retrieval_eval_audit" -> ((s: SparkSession, d: String) => ext.Search.retrievalEvalAudit(s, d)),
    "q_bm25_param_sweep"  -> ((s: SparkSession, d: String) => ext.Search.bm25ParamSweep(s, d)),
    "q_postings_size_model" -> ((s: SparkSession, d: String) => ext.Search.postingsSizeModel(s, d)),
    "q_mmr_diversify"     -> ((s: SparkSession, d: String) => ext.Search.mmrDiversify(s, d)),
    // marketing-style first/last-touch conversion attribution
    "q_conversion_attribution" -> ((s: SparkSession, d: String) => analytics.ExtraQueries.conversionAttribution(s, d)),
    // corpus novelty-decay curve + RNG-free weighted sampling
    "q_dedup_curve"       -> ((s: SparkSession, d: String) => ext.Dedup.dedupCurve(s, d)),
    "q_weighted_sample"   -> ((s: SparkSession, d: String) => ext.Corpus.weightedSample(s, d)),
    // privacy: quasi-identifier k-anonymity risk audit
    "q_k_anonymity"       -> ((s: SparkSession, d: String) => ext.Cleaning.kAnonymityAudit(s, d)),
    "q_bm25_term_bounds"  -> ((s: SparkSession, d: String) => ext.Search.bm25TermBounds(s, d)),
    "q_bm25_maxscore_topk" -> ((s: SparkSession, d: String) => ext.Search.bm25MaxScoreTopK(s, d)),
    "q_bm25_blockmax_bounds" -> ((s: SparkSession, d: String) => ext.Search.bm25BlockMaxBounds(s, d)),
    "q_bm25_blockmax_topk" -> ((s: SparkSession, d: String) => ext.Search.bm25BlockMaxTopK(s, d)),
    // query-likelihood (Dirichlet) ranking + exact phrase search
    "q_query_likelihood_topk" -> ((s: SparkSession, d: String) => ext.Search.queryLikelihoodTopK(s, d)),
    "q_phrase_hits"       -> ((s: SparkSession, d: String) => ext.Search.phraseHits(s, d)),
    // snippet serving: first-hit position + context window per match
    "q_search_snippets"   -> ((s: SparkSession, d: String) => ext.Search.searchSnippets(s, d)),
    // directed-edge reciprocity: the graph-structure audit's third leg
    "q_graph_reciprocity" -> ((s: SparkSession, d: String) => ext.Graph.graphReciprocity(s, d)),
    "q_hybrid_rrf"        -> ((s: SparkSession, d: String) => ext.Search.hybridRrf(s, d)),
    "q_postings_incremental" -> ((s: SparkSession, d: String) => ext.Search.postingsIncremental(s, d)),
    "q_query_expansion"   -> ((s: SparkSession, d: String) => ext.Search.queryExpansion(s, d)),
    "q_event_transitions" -> (ExtraQueries.eventTransitions _),
    "q_transition_entropy" -> (ExtraQueries.transitionEntropy _),
    // ordered product-analytics funnel (view -> click -> purchase)
    "q_event_funnel"      -> (ExtraQueries.eventFunnel _),
    // time-to-convert stats over the funnel chain
    "q_funnel_latency"    -> (ExtraQueries.funnelLatency _),
    // weekly cohort retention triangle
    "q_cohort_retention"  -> (ExtraQueries.cohortRetention _),
    // RFM customer segmentation (exact NTILE quintiles)
    "q_rfm_segments"      -> (ExtraQueries.rfmSegments _),
    // per-user activity anomalies (integer median/MAD, no FP at all)
    "q_activity_anomalies" -> (ExtraQueries.activityAnomalies _),
    // market-basket association rules (support/confidence/lift)
    "q_copurchase_rules"  -> ((s: SparkSession, d: String) => ExtraQueries.copurchaseRules(s, d)),
    // frequent contiguous 2/3-step event sequences with user support
    "q_event_sequences"   -> ((s: SparkSession, d: String) => ExtraQueries.frequentEventSequences(s, d)),
    // Deequ-style data-quality expectations battery over the tables
    "q_data_quality_audit" -> (Expectations.dataQualityAudit _)
  )

  // Shared SQL fragments for the DuckDB oracles
  private val toks = "string_split_regex(trim(text), '\\s+')"

  // the classifier-training replay: feature CTE (the q_model_quality_filter
  // fragments verbatim), exact two-pass standardization, then 4 unrolled
  // full-batch GD epochs — every aggregate sums micro-snapped BIGINTs
  // (Training.scala's exactness discipline), so the descent replays
  // bit-identically
  private lazy val classifierChainSql = {
    val header =
      "WITH f0 AS (SELECT doc_id, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS sr, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS pr, " +
        s"ln(CAST(len($toks) AS DOUBLE) + 1.0) AS lt, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS al " +
        "FROM documents WHERE length(text) > 0), " + // 0/0 parity guard
        "f AS MATERIALIZED (SELECT doc_id, sr, pr, lt, al, " +
        "CASE WHEN round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * sr - 8.0 * pr + 0.9 * lt - 0.35 * al))), 6) >= 0.5 " +
        "THEN 1.0 ELSE 0.0 END AS y FROM f0), " +
        "m0 AS (SELECT CAST(SUM(CAST(floor(sr * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ssr, " +
        "CAST(SUM(CAST(floor(pr * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS spr, " +
        "CAST(SUM(CAST(floor(lt * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS slt, " +
        "CAST(SUM(CAST(floor(al * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sal, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM f), " +
        "m AS (SELECT (ssr / 1000000.0) / n AS msr, (spr / 1000000.0) / n AS mpr, " +
        "(slt / 1000000.0) / n AS mlt, (sal / 1000000.0) / n AS mal, n FROM m0), " +
        "v0 AS (SELECT " +
        "CAST(SUM(CAST(floor((sr - msr) * (sr - msr) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS vsr, " +
        "CAST(SUM(CAST(floor((pr - mpr) * (pr - mpr) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS vpr, " +
        "CAST(SUM(CAST(floor((lt - mlt) * (lt - mlt) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS vlt, " +
        "CAST(SUM(CAST(floor((al - mal) * (al - mal) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS val, " +
        "MAX(msr) AS msr, MAX(mpr) AS mpr, MAX(mlt) AS mlt, MAX(mal) AS mal, MAX(m.n) AS n " +
        "FROM f CROSS JOIN m), " +
        "v AS (SELECT " +
        "CASE WHEN (vsr / 1000000.0) / n > 0 THEN sqrt((vsr / 1000000.0) / n) ELSE 1.0 END AS dsr, " +
        "CASE WHEN (vpr / 1000000.0) / n > 0 THEN sqrt((vpr / 1000000.0) / n) ELSE 1.0 END AS dpr, " +
        "CASE WHEN (vlt / 1000000.0) / n > 0 THEN sqrt((vlt / 1000000.0) / n) ELSE 1.0 END AS dlt, " +
        "CASE WHEN (val / 1000000.0) / n > 0 THEN sqrt((val / 1000000.0) / n) ELSE 1.0 END AS dal, " +
        "msr, mpr, mlt, mal FROM v0), " +
        "s AS MATERIALIZED (SELECT doc_id, (sr - msr) / dsr AS zsr, (pr - mpr) / dpr AS zpr, " +
        "(lt - mlt) / dlt AS zlt, (al - mal) / dal AS zal, y FROM f CROSS JOIN v), " +
        "w0 AS (SELECT 0.0 AS wb, 0.0 AS ws, 0.0 AS wp, 0.0 AS wl, 0.0 AS wa)"
    // epoch count + learning rate interpolated from ext.Training's own
    // constants — operator and oracle share ONE definition (the shared
    // CTE-chain discipline applied to constants)
    val epochs = (1 to ext.Training.Epochs).map { k =>
      s"p$k AS (SELECT zsr, zpr, zlt, zal, y, " +
        "1.0 / (1.0 + exp(-(wb + ws * zsr + wp * zpr + wl * zlt + wa * zal))) AS p " +
        s"FROM s CROSS JOIN w${k - 1}), " +
        s"g$k AS (SELECT " +
        "CAST(SUM(CAST(floor((p - y) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS gb, " +
        "CAST(SUM(CAST(floor((p - y) * zsr * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS gs, " +
        "CAST(SUM(CAST(floor((p - y) * zpr * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS gp, " +
        "CAST(SUM(CAST(floor((p - y) * zlt * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS gl, " +
        "CAST(SUM(CAST(floor((p - y) * zal * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ga, " +
        "CAST(SUM(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS ncorr, " +
        s"CAST(COUNT(*) AS BIGINT) AS n FROM p$k), " +
        s"w$k AS MATERIALIZED (SELECT w.wb - ${ext.Training.Lr} * ((g.gb / 1000000.0) / g.n) AS wb, " +
        s"w.ws - ${ext.Training.Lr} * ((g.gs / 1000000.0) / g.n) AS ws, " +
        s"w.wp - ${ext.Training.Lr} * ((g.gp / 1000000.0) / g.n) AS wp, " +
        s"w.wl - ${ext.Training.Lr} * ((g.gl / 1000000.0) / g.n) AS wl, " +
        s"w.wa - ${ext.Training.Lr} * ((g.ga / 1000000.0) / g.n) AS wa, " +
        s"g.ncorr AS ncorr, g.n AS n FROM g$k g CROSS JOIN w${k - 1} w)"
    }.mkString(", ")
    s"$header, $epochs"
  }

  private lazy val trainClassifierSql = {
    val rows = (1 to ext.Training.Epochs).map { k =>
      s"SELECT CAST($k AS BIGINT) AS epoch, ncorr AS n_correct, n, " +
        "round(wb, 6) AS w_bias, round(ws, 6) AS w_sr, round(wp, 6) AS w_pr, " +
        s"round(wl, 6) AS w_lt, round(wa, 6) AS w_al FROM w$k"
    }.mkString(" UNION ALL ")
    s"$classifierChainSql $rows ORDER BY epoch"
  }

  // train (the shared chain), then score every document with the FINAL
  // (unrounded) weights — the sigmoid expression is spelled identically
  // wherever the score is consumed, so every engine computes one value
  private lazy val distilledScoresSql = {
    val sig = "1.0 / (1.0 + exp(-(wb + ws * zsr + wp * zpr + wl * zlt + wa * zal)))"
    s"$classifierChainSql " +
      s"SELECT doc_id, round($sig, 6) AS model_score, " +
      s"CAST($sig >= 0.5 AS INT) AS model_kept, " +
      "CAST(y = 1.0 AS INT) AS rule_kept, " +
      s"CAST(($sig >= 0.5) = (y = 1.0) AS INT) AS agree " +
      s"FROM s CROSS JOIN w${ext.Training.Epochs} ORDER BY doc_id"
  }

  // the event-transition lag CTE, shared by q_event_transitions and
  // q_transition_entropy (one definition, no drift)
  private lazy val transitionCteSql =
    "WITH t AS (SELECT LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, " +
      "event_type AS next_type FROM events)"

  // the link-graph chain (nn → t0 → bg → e0 → e → od → ideg), shared
  // by q_link_graph_degrees and q_pagerank so the edge derivation
  // cannot drift between them (the cdcChainSql discipline). Mirrors
  // graft.ext.Graph.linkEdgesDf expression by expression: 60-bit md5
  // bucket of each token bigram mod frontier size, self-links dropped.
  private lazy val linkGraphCteSql =
    "WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents), " +
      s"t0 AS (SELECT doc_id AS src, $toks AS t FROM documents WHERE text IS NOT NULL), " +
      "bg AS (SELECT src, unnest(list_transform(range(1, len(t)), " +
      "i -> t[i] || ' ' || t[i+1])) AS bigram FROM t0), " +
      "e0 AS (SELECT src, (('0x' || substr(md5(bigram), 1, 15))::BIGINT) % d AS dst " +
      "FROM bg CROSS JOIN nn), " +
      "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst), " +
      "od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY src), " +
      "ideg AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS in_deg FROM e GROUP BY dst)"

  // the triangle family's shared chain: undirected simple edges,
  // per-node undirected degrees, the (degree, id) orientation, the
  // wedge-closing triangle join, per-node triangle counts — mirrors
  // Graph.orientEdges/triangleRows term by term (all integer)
  // undirected simple edges + per-node degrees — shared by the
  // triangle family and the k-core peel
  private lazy val undirectedCtesSql: String =
    s"$linkGraphCteSql, " +
      "u AS MATERIALIZED (SELECT DISTINCT src, dst FROM " +
      "(SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)), " +
      "ud AS MATERIALIZED (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS udeg " +
      "FROM u GROUP BY src)"

  private lazy val triangleCtesSql: String =
    s"$undirectedCtesSql, " +
      "oe AS MATERIALIZED (SELECT u.src, u.dst, s.udeg AS sdeg, t.udeg AS ddeg " +
      "FROM u JOIN ud s ON u.src = s.doc_id JOIN ud t ON u.dst = t.doc_id " +
      "WHERE s.udeg < t.udeg OR (s.udeg = t.udeg AND u.src < u.dst)), " +
      "tri AS MATERIALIZED (SELECT w1.src AS a, w1.dst AS b, w2.dst AS c " +
      "FROM oe w1 JOIN oe w2 ON w1.src = w2.src " +
      "JOIN oe w3 ON w3.src = w1.dst AND w3.dst = w2.dst " +
      "WHERE w1.ddeg < w2.ddeg OR (w1.ddeg = w2.ddeg AND w1.dst < w2.dst)), " +
      "tc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM " +
      "(SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) " +
      "GROUP BY doc_id)"

  // the planted-media near-dup chain: dHash grids for originals and
  // their byte-0-low-bit-flipped copies (the copy's grid differs from
  // the original's at cell 0 ALONE once len >= 72 — the same pinning
  // argument the planted generator documents), gradient phashes, and
  // the 16-bit pigeonhole chunk self-join with exact hamming — shared
  // by the pairs query and the cluster unroll
  /** The independent filter-signal matrix chain, shared by
    * q_filter_ensemble and q_filter_attribution — emits `dd` (doc_id,
    * the four pass/dup bits).
    */
  private lazy val filterEnsembleCtesSql: String =
      (s"f AS (SELECT doc_id, text, $toks AS t FROM documents WHERE length(text) > 0), " +
        "feat AS (SELECT doc_id, text, t, " +
        "len(t) AS n_words, " +
        "round(CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t), 6) AS mean_word_len, " +
        "round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t), 6) AS alpha_frac, " +
        "len(list_intersect(list_distinct(t), " +
        "['the','a','of','and','to','in','is','on','for'])) AS stop_hits, " +
        "round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(t), 6) AS symbol_ratio, " +
        "CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        "/ len(t) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        "CAST(len(t) AS DOUBLE) AS n_tok, " +
        "CAST(length(text) AS DOUBLE) / len(t) AS avg_len FROM f), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), " +
        "i -> t[i] || ' ' || t[i+1])) AS bigram FROM f), " +
        "bc AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2), " +
        "ba AS (SELECT doc_id, SUM(cnt) AS nb, MAX(cnt) AS topc FROM bc GROUP BY 1), " +
        "st AS (SELECT feat.doc_id, feat.text, " +
        "(n_words BETWEEN 30 AND 50000) AND (mean_word_len BETWEEN 3.0 AND 10.0) " +
        "AND alpha_frac >= 0.8 AND stop_hits >= 2 AND symbol_ratio <= 0.1 AS rules_pass, " +
        "COALESCE(round(topc / CAST(nb AS DOUBLE), 6), 0.0) <= 0.20 AS repetition_pass, " +
        "round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) >= 0.5 AS quality_pass " +
        "FROM feat LEFT JOIN ba ON feat.doc_id = ba.doc_id), " +
        "dd AS (SELECT *, doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup FROM st) ")

  /** The exact-substring anchor→island chain (Lee et al. ExactSubstr),
    * shared by q_substring_dedup and q_substring_excised: anchors from
    * gram STRINGS (the Spark side hashes with multi-arg xxhash64 — a
    * collision would change the span set and fail the gate loudly),
    * maximal islands of consecutive cross-document-duplicated k-gram
    * positions. Emits `t` (doc_id, l) and `sp` (doc_id, start_tok,
    * end_tok) — boundaries only; the excision keeper election
    * downstream keys on span-content md5 (ADVICE r17: the old `h0`
    * first-anchor column was computed on both engines and consumed by
    * neither — dropped). Gram identity is boundary-exact via
    * [[gramKey]].
    */
  private lazy val substringCtesSql: String = {
    val k = ext.Cleaning.SubstrK
    s"t AS (SELECT doc_id, $toks AS l FROM documents WHERE text IS NOT NULL), " +
      s"a AS (SELECT doc_id, i AS pos, $gramKey AS h " +
      s"FROM t, LATERAL (SELECT unnest(generate_series(1, len(l) - ${k - 1})) AS i) s " +
      s"WHERE len(l) >= $k), " +
      "dup AS (SELECT h FROM a GROUP BY h HAVING min(doc_id) <> max(doc_id)), " +
      "p AS (SELECT a.doc_id, a.pos, a.h FROM a JOIN dup USING (h)), " +
      "m AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER " +
      "(PARTITION BY doc_id ORDER BY pos) = 1 THEN 0 ELSE 1 END AS brk FROM p), " +
      "isl AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM m), " +
      s"sp AS MATERIALIZED (SELECT doc_id, MIN(pos) AS start_tok, MAX(pos) + ${k - 1} AS end_tok " +
      "FROM isl GROUP BY doc_id, island)"
  }

  /** Boundary-exact oracle k-gram identity over the slice
    * l[i:i+k-1]: md5 of the CONCATENATED PER-TOKEN md5s. Each element
    * contributes a fixed 32-hex block, so the encoding is injective on
    * token sequences — `['a\x01b','c']` and `['a','b\x01c']` get
    * different keys, unlike the old chr(1)-joined string whose
    * separator could appear inside a token (ADVICE r17). The Spark
    * side's multi-arg xxhash64 is boundary-exact by construction; this
    * makes the oracle match that contract instead of assuming a
    * \x01-free corpus.
    */
  private lazy val gramKey: String = gramKeyAt(ext.Cleaning.SubstrK)

  private def gramKeyAt(k: Int): String =
    s"md5(array_to_string(list_transform(l[i:i+${k - 1}], x -> md5(x)), ''))"

  /** Oracle chain for q_substring_selfrepeat: the substringCtesSql
    * anchor→island shape with the duplication predicate keyed
    * (doc_id, h) — a gram is an anchor iff it repeats WITHIN its own
    * document — at the family's intra-doc width
    * [[ext.Cleaning.SelfRepeatK]], over the SAME deterministic
    * planted view as the Spark side (every third doc with >= 20
    * tokens re-appends its first 12 — the synthetic corpus has no
    * natural intra-doc repeats, measured at every k >= 2).
    */
  private lazy val selfRepeatSql: String = {
    val k = ext.Cleaning.SelfRepeatK
    val plant = ext.Cleaning.SelfPlantTokens
    val minTok = ext.Cleaning.SelfPlantMinTokens
    s"WITH t0 AS (SELECT doc_id, $toks AS l0 FROM documents WHERE text IS NOT NULL), " +
      s"t AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 AND len(l0) >= $minTok " +
      s"THEN l0 || l0[1:$plant] ELSE l0 END AS l FROM t0), " +
      s"a AS (SELECT doc_id, i AS pos, ${gramKeyAt(k)} AS h " +
      s"FROM t, LATERAL (SELECT unnest(generate_series(1, len(l) - ${k - 1})) AS i) s " +
      s"WHERE len(l) >= $k), " +
      "dup AS (SELECT doc_id, h FROM a GROUP BY doc_id, h HAVING COUNT(*) >= 2), " +
      "p AS (SELECT a.doc_id, a.pos FROM a JOIN dup ON a.doc_id = dup.doc_id AND a.h = dup.h), " +
      "m AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER " +
      "(PARTITION BY doc_id ORDER BY pos) = 1 THEN 0 ELSE 1 END AS brk FROM p), " +
      "isl AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM m), " +
      s"sp AS (SELECT doc_id, MIN(pos) AS start_tok, MAX(pos) + ${k - 1} AS end_tok " +
      "FROM isl GROUP BY doc_id, island) " +
      "SELECT sp.doc_id, sp.start_tok, sp.end_tok, " +
      "sp.end_tok - sp.start_tok + 1 AS n_tokens, " +
      "md5(array_to_string(t.l[sp.start_tok:sp.end_tok], ' ')) AS span_md5 " +
      "FROM sp JOIN t ON sp.doc_id = t.doc_id " +
      "ORDER BY sp.doc_id, sp.start_tok"
  }

  private lazy val mediaPairsCtesSql: String =
    "WITH mb AS (SELECT doc_id AS media_id, encode(text)::BIT AS bits, " +
      "octet_length(encode(text)) AS len FROM documents " +
      "WHERE text IS NOT NULL AND octet_length(encode(text)) >= 72), " +
      "mg0 AS (SELECT media_id, i, " +
      "get_bit(bits, bi+0)*128 + get_bit(bits, bi+1)*64 + " +
      "get_bit(bits, bi+2)*32 + get_bit(bits, bi+3)*16 + " +
      "get_bit(bits, bi+4)*8 + get_bit(bits, bi+5)*4 + " +
      "get_bit(bits, bi+6)*2 + get_bit(bits, bi+7) AS v " +
      "FROM (SELECT media_id, bits, i, " +
      "CAST(LEAST(CAST(floor(i * (CAST(len AS DOUBLE) / 72)) AS BIGINT), len - 1) * 8 AS INT) AS bi " +
      "FROM mb, (SELECT CAST(unnest(range(72)) AS INT) AS i))), " +
      "mg AS (SELECT media_id, i, v FROM mg0 UNION ALL " +
      "SELECT media_id + 10000000, i, CASE WHEN i = 0 THEN xor(v, 1::BIGINT) ELSE v END FROM mg0), " +
      "mm AS (SELECT media_id FROM mb UNION ALL SELECT media_id + 10000000 FROM mb), " +
      "mph AS MATERIALIZED (SELECT a.media_id, CAST(SUM(CASE WHEN a.v < b.v THEN " +
      "CASE WHEN (a.i // 9) * 8 + (a.i % 9) = 63 THEN -9223372036854775808 " +
      "ELSE (1::BIGINT << CAST((a.i // 9) * 8 + (a.i % 9) AS INT)) END " +
      "ELSE 0 END) AS BIGINT) AS phash " +
      "FROM mg a JOIN mg b ON a.media_id = b.media_id AND b.i = a.i + 1 AND a.i % 9 < 8 " +
      "GROUP BY 1), " +
      "mck AS (SELECT media_id, phash, c AS chunk, (phash >> (c * 16)) & 65535 AS chunk_val " +
      "FROM mph, (SELECT CAST(unnest(range(4)) AS INT) AS c)), " +
      "mp AS MATERIALIZED (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, " +
      "CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming " +
      "FROM mck a JOIN mck b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val " +
      "AND a.media_id < b.media_id)"

  // the k-core peel, KcoreRounds unrolled rounds: each round keeps the
  // alive nodes whose degree WITHIN the alive subgraph clears the
  // data-adaptive threshold k = floor(mean undirected degree) — all
  // integer counts, post-fixpoint rounds are identities, so the fixed
  // unroll agrees with Spark's early-exit loop
  private lazy val kcoreMembershipSql: String = {
    val peels = (1 to ext.Graph.KcoreRounds).map { r =>
      val p = s"ka${r - 1}"
      s"kd$r AS (SELECT u.src AS doc_id, CAST(COUNT(*) AS BIGINT) AS dg FROM u " +
        s"JOIN $p x ON u.src = x.doc_id JOIN $p y ON u.dst = y.doc_id GROUP BY u.src), " +
        s"ka$r AS MATERIALIZED (SELECT a.doc_id FROM $p a JOIN kd$r d ON a.doc_id = d.doc_id " +
        "CROSS JOIN kk WHERE d.dg >= kk.k_threshold)"
    }.mkString(", ")
    s"$undirectedCtesSql, " +
      "kk AS MATERIALIZED (SELECT CAST(floor(5.0 * SUM(udeg) / (8.0 * COUNT(*))) AS BIGINT) " +
      "AS k_threshold FROM ud), " +
      "ka0 AS MATERIALIZED (SELECT doc_id FROM ud), " +
      s"$peels " +
      "SELECT d.doc_id, COALESCE(ud.udeg, 0) AS und_deg, kk.k_threshold, " +
      s"ka${ext.Graph.KcoreRounds}.doc_id IS NOT NULL AS in_kcore " +
      "FROM documents d LEFT JOIN ud ON d.doc_id = ud.doc_id " +
      s"LEFT JOIN ka${ext.Graph.KcoreRounds} ON d.doc_id = ka${ext.Graph.KcoreRounds}.doc_id " +
      "CROSS JOIN kk ORDER BY d.doc_id"
  }

  // the ordered-funnel reached chain fr1..frN — per-user earliest
  // qualifying times per step, shared by the step counts and the
  // latency stats (mirrors ExtraQueries.funnelReached CTE for CTE)
  private lazy val funnelChainSql: String =
    ExtraQueries.FunnelSteps.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"fr1 AS MATERIALIZED (SELECT user_id, MIN(ts) AS t FROM events " +
          s"WHERE event_type = '$s' GROUP BY user_id)"
      else
        s"fr${i + 1} AS MATERIALIZED (SELECT e.user_id, MIN(e.ts) AS t " +
          s"FROM events e JOIN fr$i p ON e.user_id = p.user_id " +
          s"WHERE e.event_type = '$s' AND e.ts > p.t GROUP BY e.user_id)"
    }.mkString(", ")

  // label propagation, LabelPropRounds unrolled synchronous rounds:
  // majority vote of labeled neighbors (integer counts, ROW_NUMBER
  // over n DESC, label = Spark's min(struct(-n, label)) argmax),
  // seeds clamped, held-out truth carried for the eval columns
  private lazy val labelPropagationSql: String = {
    val rounds = ext.Graph.LabelPropRounds
    val chain = (1 to rounds).map { k =>
      val p = s"lp${k - 1}"
      s"lv$k AS (SELECT u.dst AS doc_id, l.label, CAST(COUNT(*) AS BIGINT) AS n " +
        s"FROM $p l JOIN u ON l.doc_id = u.src WHERE l.label IS NOT NULL " +
        "GROUP BY u.dst, l.label), " +
        s"lb$k AS (SELECT doc_id, label AS vote FROM lv$k " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, label) = 1), " +
        s"lp$k AS MATERIALIZED (SELECT l.doc_id, l.lang, l.is_seed, " +
        "CASE WHEN l.is_seed THEN l.label ELSE COALESCE(b.vote, l.label) END AS label " +
        s"FROM $p l LEFT JOIN lb$k b ON l.doc_id = b.doc_id)"
    }.mkString(", ")
    s"$undirectedCtesSql, " +
      "lp0 AS MATERIALIZED (SELECT doc_id, lang, (doc_id % 3 = 0) AS is_seed, " +
      "CASE WHEN doc_id % 3 = 0 THEN lang END AS label FROM documents), " +
      s"$chain " +
      s"SELECT doc_id, lang, is_seed, label AS predicted_lang, " +
      "CASE WHEN NOT is_seed AND label IS NOT NULL THEN (label = lang) END AS correct " +
      s"FROM lp$rounds ORDER BY doc_id"
  }

  // the seeded-teleport rank recurrence, 4 unrolled exact-integer
  // iterations — every aggregate sums BIGINTs (contributions
  // nano-snapped per row BEFORE the sum), so the replay is
  // bit-identical to the Spark loop regardless of engine or
  // partitioning (Graph.scala's exactness discipline). ONE builder
  // serves vanilla PageRank (seed = TRUE: s ≡ 1, |S| = D reduces the
  // recurrence to the classic form term by term) and TrustRank
  // (seed = a trusted source) — a single definition, no drift.
  private def seededRankSql(seedCond: String, includeSeedCol: Boolean): String = {
    val rN = s"r${ext.Graph.RankIters}"
    val seedOut = if (includeSeedCol) s"CAST($rN.s AS BIGINT) AS is_seed, " else ""
    s"${seededRankChainSql(seedCond)} " +
      s"SELECT $rN.doc_id, $rN.r AS rank_nano, $seedOut$rN.out_deg, COALESCE(in_deg, 0) AS in_deg " +
      s"FROM $rN LEFT JOIN ideg ON $rN.doc_id = ideg.dst " +
      s"ORDER BY rank_nano DESC, $rN.doc_id LIMIT 100"
  }

  // the CTE chain alone (nodes → r0..r4), shared by the rank queries and
  // the convergence audit
  private def seededRankChainSql(seedCond: String): String =
    s"$linkGraphCteSql, ${seedRankCtesSql(seedCond, "")}"

  // the per-seed recurrence CTEs with an optional name prefix — the
  // crawl-priority serve table runs TWO of these (vanilla + trusted)
  // over one shared edge chain
  private def seedRankCtesSql(seedCond: String, px: String,
                              eCte: String = "e", odCte: String = "od"): String = {
    s"${px}sn AS (SELECT CAST(SUM(CASE WHEN $seedCond THEN 1 ELSE 0 END) AS BIGINT) AS ns FROM documents), " +
      s"${px}nd AS (SELECT doc_id, CASE WHEN $seedCond THEN 1 ELSE 0 END AS s, COALESCE(out_deg, 0) AS out_deg, ns " +
      s"FROM documents LEFT JOIN $odCte ON doc_id = $odCte.src CROSS JOIN ${px}sn), " +
      s"${px}r0 AS MATERIALIZED (SELECT doc_id, s, out_deg, ns, " +
      "s * CAST(floor(1000000000.0 / ns + 0.5) AS BIGINT) AS r FROM " + s"${px}nd), " +
      rankRoundsSql(px, 1, ext.Graph.RankIters, eCte)
  }

  // the rank recurrence rounds `from..to` alone, reading ${px}r${from-1}
  // as the start state — split out of seedRankCtesSql so the
  // incremental oracle can run WARM rounds over a start CTE the base
  // chain produced
  private def rankRoundsSql(px: String, from: Int, to: Int,
                            eCte: String): String = {
    val damp = ext.Graph.Damping
    (from to to).map { k =>
      val p = s"${px}r${k - 1}"
      s"${px}c$k AS (SELECT ec.dst AS doc_id, CAST(SUM(CAST(floor(CAST(r AS DOUBLE) / out_deg + 0.5) AS BIGINT)) AS BIGINT) AS inflow " +
        s"FROM $p JOIN $eCte ec ON $p.doc_id = ec.src WHERE out_deg > 0 GROUP BY ec.dst), " +
        s"${px}d$k AS (SELECT CAST(COALESCE(SUM(CASE WHEN out_deg = 0 THEN r END), 0) AS BIGINT) AS dang FROM $p), " +
        s"${px}r$k AS MATERIALIZED (SELECT n.doc_id, n.s, n.out_deg, n.ns, " +
        s"n.s * CAST(floor((1.0 - $damp) * 1000000000.0 / n.ns + 0.5) AS BIGINT) + " +
        s"CAST(floor($damp * CAST(COALESCE(inflow, 0) + " +
        "n.s * CAST(floor(CAST(dang AS DOUBLE) / n.ns + 0.5) AS BIGINT) AS DOUBLE) + 0.5) AS BIGINT) AS r " +
        s"FROM $p n LEFT JOIN ${px}c$k ON n.doc_id = ${px}c$k.doc_id CROSS JOIN ${px}d$k)"
    }.mkString(", ")
  }

  // incremental PageRank: base rounds on the pre-delta edge subset,
  // then warm refinement rounds on the full edge set — two replays of
  // the ONE rank-round builder, so the recurrences cannot drift
  private lazy val pagerankIncrementalSql: String = {
    val bN = s"bsr${ext.Graph.RankIters}"
    val wN = s"wr${ext.Graph.IncrRefineIters}"
    s"$linkGraphCteSql, " +
      s"cutv AS (SELECT (${ext.Graph.IncrBaseNum} * COUNT(*)) // ${ext.Graph.IncrBaseDen} AS c FROM documents), " +
      "eb AS MATERIALIZED (SELECT e.src, e.dst FROM e CROSS JOIN cutv WHERE e.src < cutv.c), " +
      "odb AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM eb GROUP BY src), " +
      s"${seedRankCtesSql("TRUE", "bs", "eb", "odb")}, " +
      // warm r0: base rank mass, out-degrees rebound to the full edges
      s"wr0 AS MATERIALIZED (SELECT b.doc_id, b.s, COALESCE(od.out_deg, 0) AS out_deg, b.ns, b.r " +
      s"FROM $bN b LEFT JOIN od ON b.doc_id = od.src), " +
      s"${rankRoundsSql("w", 1, ext.Graph.IncrRefineIters, "e")} " +
      s"SELECT w.doc_id, w.r AS rank_nano, b.r AS base_rank_nano, w.r - b.r AS delta_nano " +
      s"FROM $wN w JOIN $bN b ON w.doc_id = b.doc_id " +
      "ORDER BY rank_nano DESC, w.doc_id LIMIT 100"
  }

  // crawl-priority serving: the full-frontier rank + trust serve table
  // (two seeded recurrences over ONE edge chain), then every page's
  // outbound rank/trust mass — targets reproduce the edge table by
  // construction, so the probe is e itself
  private lazy val crawlPrioritySql: String = {
    val rN = ext.Graph.RankIters
    s"$linkGraphCteSql, ${seedRankCtesSql("TRUE", "pg")}, " +
      s"${seedRankCtesSql("source = 'src0'", "tt")}, " +
      s"serve AS MATERIALIZED (SELECT p.doc_id, p.r AS rank_nano, t.r AS trust_nano " +
      s"FROM pgr$rN p JOIN ttr$rN t ON p.doc_id = t.doc_id), " +
      "cmass AS (SELECT e.src AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_links, " +
      "CAST(SUM(s.rank_nano) AS BIGINT) AS rank_mass_nano, " +
      "CAST(SUM(s.trust_nano) AS BIGINT) AS trust_mass_nano " +
      "FROM e JOIN serve s ON e.dst = s.doc_id GROUP BY e.src) " +
      "SELECT d.doc_id, CAST(COALESCE(c.n_links, 0) AS BIGINT) AS n_links, " +
      "CAST(COALESCE(c.rank_mass_nano, 0) AS BIGINT) AS rank_mass_nano, " +
      "CAST(COALESCE(c.trust_mass_nano, 0) AS BIGINT) AS trust_mass_nano " +
      "FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d " +
      "LEFT JOIN cmass c ON d.doc_id = c.doc_id ORDER BY d.doc_id"
  }

  // convergence audit: exact per-iteration L1 / max rank movement
  private lazy val pagerankConvergeSql = {
    val rows = (1 to ext.Graph.RankIters).map { k =>
      s"SELECT CAST($k AS BIGINT) AS iter, " +
        s"CAST(SUM(ABS(a.r - b.r)) AS BIGINT) AS l1_delta_nano, " +
        s"CAST(MAX(ABS(a.r - b.r)) AS BIGINT) AS max_delta_nano " +
        s"FROM r$k a JOIN r${k - 1} b ON a.doc_id = b.doc_id"
    }.mkString(" UNION ALL ")
    s"${seededRankChainSql("TRUE")} $rows ORDER BY iter"
  }

  // HITS: 4 unrolled rounds — integer sums + integer MAX; the only
  // float op is the per-row max-normalization division, identical on
  // both engines (Graph.hits's exactness note)
  private lazy val hitsSql = {
    val rounds = (1 to ext.Graph.HitsIters).map { k =>
      val p = s"s${k - 1}"
      s"ar$k AS MATERIALIZED (SELECT e.dst AS doc_id, CAST(SUM(s.hub) AS BIGINT) AS a_raw " +
        s"FROM $p s JOIN e ON s.doc_id = e.src GROUP BY e.dst), " +
        s"am$k AS (SELECT MAX(a_raw) AS a_max FROM ar$k), " +
        s"an$k AS MATERIALIZED (SELECT doc_id, CAST(floor(CAST(a_raw AS DOUBLE) / a_max * 1000000.0 + 0.5) AS BIGINT) AS auth " +
        s"FROM ar$k CROSS JOIN am$k), " +
        s"hr$k AS MATERIALIZED (SELECT e.src AS doc_id, CAST(SUM(a.auth) AS BIGINT) AS h_raw " +
        s"FROM an$k a JOIN e ON a.doc_id = e.dst GROUP BY e.src), " +
        s"hm$k AS (SELECT MAX(h_raw) AS h_max FROM hr$k), " +
        s"hn$k AS MATERIALIZED (SELECT doc_id, CAST(floor(CAST(h_raw AS DOUBLE) / h_max * 1000000.0 + 0.5) AS BIGINT) AS hub " +
        s"FROM hr$k CROSS JOIN hm$k), " +
        s"s$k AS MATERIALIZED (SELECT s.doc_id, COALESCE(an$k.auth, 0) AS auth, COALESCE(hn$k.hub, 0) AS hub " +
        s"FROM $p s LEFT JOIN an$k ON s.doc_id = an$k.doc_id " +
        s"LEFT JOIN hn$k ON s.doc_id = hn$k.doc_id)"
    }.mkString(", ")
    s"$linkGraphCteSql, " +
      "s0 AS MATERIALIZED (SELECT doc_id, CAST(1000000 AS BIGINT) AS auth, CAST(1000000 AS BIGINT) AS hub FROM documents), " +
      s"$rounds " +
      s"SELECT doc_id, auth, hub FROM s${ext.Graph.HitsIters} ORDER BY auth DESC, doc_id LIMIT 100"
  }

  // deterministic random walks: hash-argmin next-hop election, 4
  // unrolled steps; MIN over md5 strings is order-independent, so no
  // snapping is needed anywhere
  private lazy val randomWalksCtesSql = {
    val stepsSql = (1 to ext.Graph.WalkSteps).map { k =>
      val p = s"w${k - 1}"
      s"c$k AS (SELECT p.start_id, p.walk_seed, e.dst, " +
        s"md5(concat_ws(':', p.walk_seed, p.start_id, $k, e.src, e.dst)) AS h " +
        s"FROM $p p JOIN e ON p.node_id = e.src), " +
        s"b$k AS (SELECT start_id, walk_seed, MIN(h) AS mh FROM c$k GROUP BY start_id, walk_seed), " +
        s"w$k AS MATERIALIZED (SELECT c.start_id, c.walk_seed, c.dst AS node_id " +
        s"FROM c$k c JOIN b$k b ON c.start_id = b.start_id AND c.walk_seed = b.walk_seed AND c.h = b.mh)"
    }.mkString(", ")
    s"$linkGraphCteSql, " +
      s"w0 AS MATERIALIZED (SELECT doc_id AS start_id, CAST(unnest(range(1, ${ext.Graph.WalkSeeds + 1})) AS BIGINT) AS walk_seed, " +
      s"doc_id AS node_id FROM documents WHERE doc_id % ${ext.Graph.WalkStartEvery} = 0), " +
      s"$stepsSql"
  }

  private lazy val randomWalksSql = {
    val rows = (0 to ext.Graph.WalkSteps).map { k =>
      s"SELECT start_id, walk_seed, CAST($k AS BIGINT) AS step, node_id FROM w$k"
    }.mkString(" UNION ALL ")
    s"$randomWalksCtesSql $rows ORDER BY start_id, walk_seed, step"
  }

  // the walk chain + the skip-gram co-occurrence pair table `wp` —
  // shared by q_walk_context_pairs and the embedding trainer's oracle
  private lazy val walkPairsCtesSql: String =
    s"$randomWalksCtesSql, wk AS MATERIALIZED (" +
      (0 to ext.Graph.WalkSteps).map { k =>
        s"SELECT start_id, walk_seed, CAST($k AS BIGINT) AS step, node_id FROM w$k"
      }.mkString(" UNION ALL ") + "), " +
      "wp AS MATERIALIZED (SELECT a.node_id AS center, b.node_id AS context, " +
      "CAST(COUNT(*) AS BIGINT) AS n_cooc " +
      "FROM wk a JOIN wk b ON a.start_id = b.start_id AND a.walk_seed = b.walk_seed " +
      s"WHERE a.step <> b.step AND ABS(a.step - b.step) <= ${ext.Graph.WalkWindow} " +
      "GROUP BY a.node_id, b.node_id)"

  // full-batch factorization descent over the walk pairs: unrolled
  // epochs, per-pair gradient terms micro-snapped before BIGINT SUMs,
  // the residual's /1e6 and the lr update per-row IEEE — bit-exact
  // the embedding-training CTE chain through em{EmbedEpochs} — shared
  // by q_node_embeddings and the link-prediction evaluation
  private lazy val nodeEmbeddingsCtesSql: String = {
    val lr = ext.Graph.EmbedLr
    def md5b(s: String) = s"(('0x' || substr(md5($s), 1, 15))::BIGINT)"
    val dot = "(c.x0*x.x0 + c.x1*x.x1 + c.x2*x.x2 + c.x3*x.x3) / 1000000.0"
    val epochs = (1 to ext.Graph.EmbedEpochs).map { k =>
      val p = s"em${k - 1}"
      val gs = (0 to 3).map { d =>
        s"SUM(CAST(floor(p.n * ($dot - p.y) * x.x$d / 1000000.0 + 0.5) AS BIGINT)) AS g$d"
      }.mkString(", ")
      val us = (0 to 3).map { d =>
        s"e.x$d - CAST(floor($lr * (g.g$d / g.m) + 0.5) AS BIGINT) AS x$d"
      }.mkString(", ")
      s"gr$k AS (SELECT p.center AS doc_id, $gs, SUM(p.n) AS m " +
        s"FROM pp p JOIN $p c ON p.center = c.doc_id JOIN $p x ON p.other = x.doc_id " +
        "GROUP BY p.center), " +
        s"em$k AS MATERIALIZED (SELECT e.doc_id, $us " +
        s"FROM $p e JOIN gr$k g ON e.doc_id = g.doc_id)"
    }.mkString(", ")
    val inits = (0 to 3).map { d =>
      s"${md5b(s"doc_id || ':$d'")} % 1000001 - 500000 AS x$d"
    }.mkString(", ")
    s"$walkPairsCtesSql, " +
      "pp AS MATERIALIZED (" +
      "SELECT center, context AS other, n_cooc AS n, 1000000.0 AS y FROM wp " +
      "UNION ALL " +
      s"SELECT center, other, n, 0.0 AS y FROM (SELECT center, " +
      s"${md5b("center || ':' || context || ':n'")} % d AS other, n_cooc AS n " +
      "FROM wp CROSS JOIN nn) WHERE other <> center), " +
      "em0 AS MATERIALIZED (SELECT doc_id, " + inits +
      " FROM (SELECT DISTINCT center AS doc_id FROM wp)), " +
      s"$epochs"
  }

  private lazy val nodeEmbeddingsSql: String =
    s"$nodeEmbeddingsCtesSql " +
      s"SELECT e.doc_id, np.n_pairs, e.x0, e.x1, e.x2, e.x3 " +
      s"FROM em${ext.Graph.EmbedEpochs} e JOIN " +
      "(SELECT center AS doc_id, CAST(SUM(n_cooc) AS BIGINT) AS n_pairs " +
      "FROM wp GROUP BY center) np ON e.doc_id = np.doc_id " +
      "ORDER BY e.doc_id"

  // link-prediction (reconstruction) AUC of the trained embeddings:
  // positives = directed edges with both endpoints embedded, one
  // hash-derived non-edge candidate per positive; score = sigmoid of
  // the exact integer dot (micro-units² → /1e12), 6-dp-snapped; AUC by
  // the q_quality_auc histogram-midrank replay
  private lazy val linkPredictionAucSql: String = {
    val emN = s"em${ext.Graph.EmbedEpochs}"
    val dot = "(a.x0*b.x0 + a.x1*b.x1 + a.x2*b.x2 + a.x3*b.x3) / 1000000000000.0"
    s"$nodeEmbeddingsCtesSql, " +
      "lp_pos AS (SELECT src, dst, 1 AS pos FROM e), " +
      "lp_negc AS (SELECT src, (('0x' || substr(md5(src || ':' || dst || ':neg'), 1, 15))::BIGINT) % d AS dst " +
      "FROM e CROSS JOIN nn), " +
      "lp_neg AS (SELECT n.src, n.dst, 0 AS pos FROM lp_negc n " +
      "WHERE n.dst <> n.src AND NOT EXISTS " +
      "(SELECT 1 FROM e WHERE e.src = n.src AND e.dst = n.dst)), " +
      "lp_lab AS (SELECT * FROM lp_pos UNION ALL SELECT * FROM lp_neg), " +
      s"lp_sc AS (SELECT round(1.0 / (1.0 + exp(-($dot))), 6) AS score, pos " +
      s"FROM lp_lab JOIN $emN a ON lp_lab.src = a.doc_id " +
      s"JOIN $emN b ON lp_lab.dst = b.doc_id), " +
      "lp_hist AS (SELECT score, COUNT(*) AS n_s, SUM(pos) AS npos_s FROM lp_sc GROUP BY score), " +
      "lp_c AS (SELECT n_s, npos_s, COALESCE(SUM(n_s) OVER " +
      "(ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM lp_hist), " +
      "lp_a AS (SELECT CAST(SUM(npos_s) AS BIGINT) AS n_pos, " +
      "CAST(SUM(n_s - npos_s) AS BIGINT) AS n_neg, " +
      "CAST(SUM(CAST(npos_s AS HUGEINT) * (2 * cum + n_s + 1)) AS HUGEINT) AS sr2 FROM lp_c) " +
      "SELECT n_pos, n_neg, CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.5 ELSE " +
      "round(CAST(sr2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE) " +
      "/ CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE), 6) END AS auc " +
      "FROM lp_a"
  }

  // node2vec-biased walks (p = 4, q = 0.25): the uniform walk chain
  // plus a per-step (prev, dst)-adjacency probe; election is
  // lexicographic (class priority, hash) — two-stage MIN mirrors
  // Spark's min(struct(pr, h)) exactly
  private lazy val node2vecWalksSql: String = {
    val (prR, prL, prO) = ext.Graph.node2vecPriorities(4.0, 0.25)
    val stepsSql = (1 to ext.Graph.WalkSteps).map { k =>
      val prev = s"nv${k - 1}"
      s"nc$k AS MATERIALIZED (SELECT p.start_id, p.walk_seed, p.node_id, p.prev_id, e.dst, " +
        s"md5(concat_ws(':', p.walk_seed, p.start_id, $k, e.src, e.dst)) AS h, " +
        s"CASE WHEN p.prev_id IS NULL THEN $prL WHEN e.dst = p.prev_id THEN $prR " +
        s"WHEN pe.src IS NOT NULL THEN $prL ELSE $prO END AS pr " +
        s"FROM $prev p JOIN e ON p.node_id = e.src " +
        "LEFT JOIN e pe ON pe.src = p.prev_id AND pe.dst = e.dst), " +
        s"nb$k AS (SELECT start_id, walk_seed, MIN(pr) AS mp FROM nc$k GROUP BY start_id, walk_seed), " +
        s"nb2$k AS (SELECT c.start_id, c.walk_seed, c.pr, MIN(c.h) AS mh FROM nc$k c " +
        s"JOIN nb$k b ON c.start_id = b.start_id AND c.walk_seed = b.walk_seed AND c.pr = b.mp " +
        "GROUP BY c.start_id, c.walk_seed, c.pr), " +
        s"nv$k AS MATERIALIZED (SELECT c.start_id, c.walk_seed, c.dst AS node_id, c.node_id AS prev_id " +
        s"FROM nc$k c JOIN nb2$k b ON c.start_id = b.start_id AND c.walk_seed = b.walk_seed " +
        "AND c.pr = b.pr AND c.h = b.mh)"
    }.mkString(", ")
    val rows = (0 to ext.Graph.WalkSteps).map { k =>
      s"SELECT start_id, walk_seed, CAST($k AS BIGINT) AS step, node_id FROM nv$k"
    }.mkString(" UNION ALL ")
    s"$linkGraphCteSql, " +
      s"nv0 AS MATERIALIZED (SELECT doc_id AS start_id, " +
      s"CAST(unnest(range(1, ${ext.Graph.WalkSeeds + 1})) AS BIGINT) AS walk_seed, " +
      s"doc_id AS node_id, CAST(NULL AS BIGINT) AS prev_id " +
      s"FROM documents WHERE doc_id % ${ext.Graph.WalkStartEvery} = 0), " +
      s"$stepsSql $rows ORDER BY start_id, walk_seed, step"
  }

  private lazy val pagerankSql = seededRankSql("TRUE", includeSeedCol = false)
  private lazy val trustrankSql = seededRankSql("source = 'src0'", includeSeedCol = true)

  // weakly-connected components: 8 unrolled min-label-propagation
  // rounds over the undirected edge set — pure integer MIN, no
  // snapping needed (order-independent by algebra)
  // crawl depth: the integer min-plus BFS unroll — the components
  // discipline with depth+1 in place of min-label, sentinel = unreached
  private lazy val crawlDepthSql = {
    val u = ext.Graph.BfsUnreached
    val bN = s"b${ext.Graph.BfsRounds}"
    s"$linkGraphCteSql, " +
      s"b0 AS MATERIALIZED (SELECT doc_id, CAST(CASE WHEN source = 'src0' THEN 0 ELSE $u END AS BIGINT) AS depth FROM documents), " +
      s"${bfsRoundsSql("b", "e")}, " +
      s"reach AS (SELECT doc_id, depth FROM $bN WHERE depth < $u), " +
      "h AS (SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_at_depth FROM reach GROUP BY depth) " +
      "SELECT r.doc_id, r.depth, h.n_at_depth FROM reach r JOIN h ON r.depth = h.depth ORDER BY r.doc_id"
  }

  private lazy val linkComponentsSql = {
    val lN = s"l${ext.Graph.ComponentRounds}"
    val roundsSql = (1 to ext.Graph.ComponentRounds).map { k =>
      val p = s"l${k - 1}"
      s"nm$k AS (SELECT e.dst AS doc_id, MIN(l.component) AS nbr_min " +
        s"FROM $p l JOIN und e ON l.doc_id = e.src GROUP BY e.dst), " +
        s"l$k AS MATERIALIZED (SELECT l.doc_id, least(l.component, COALESCE(n.nbr_min, l.component)) AS component " +
        s"FROM $p l LEFT JOIN nm$k n ON l.doc_id = n.doc_id)"
    }.mkString(", ")
    s"$linkGraphCteSql, " +
      "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM " +
      "(SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)), " +
      "l0 AS MATERIALIZED (SELECT doc_id, doc_id AS component FROM documents), " +
      s"$roundsSql, " +
      s"sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS component_size FROM $lN GROUP BY component) " +
      s"SELECT $lN.doc_id, $lN.component, sz.component_size " +
      s"FROM $lN JOIN sz ON $lN.component = sz.component ORDER BY $lN.doc_id"
  }


  // k-means unroll: Clustering's integer micro-space Lloyd's replayed
  // exactly — coordinates snap ONCE to floor(x*1e6+0.5) BIGINTs,
  // distances are exact integer sums of squared deltas (summation
  // order cannot matter), centroid updates floor(sum/count + 0.5)
  // back to micro ints, ties to the LOWER cell via (d2, cell)
  // row_number. Emits `kev` (vec_id, dim, x) and `kfa` (vec_id, cell,
  // d2): the final assignment under the converged centroids, shared
  // by q_kmeans and q_cluster_prune. Iteration/k/drop constants
  // interpolate from ext.Clustering (one definition, no drift).
  private lazy val kmeansCtesSql: String =
    kmeansCtesSqlFor(ext.Clustering.KmeansK.toString)

  /** The Lloyd's unroll with the cell count as a SQL expression —
    * q_kmeans/q_cluster_prune interpolate the fixed KmeansK literal;
    * q_quality_propagation passes its corpus-derived cap (the knnGraph
    * nlist rule) as a scalar subquery.
    */
  private def kmeansCtesSqlFor(kCondSql: String): String = {
    val iters = ext.Clustering.KmeansIters
    def distCte(name: String, cents: String) =
      s"$name AS (SELECT kev.vec_id, c.cell, SUM((kev.x - c.cx) * (kev.x - c.cx)) AS d2 " +
        s"FROM kev JOIN $cents c ON kev.dim = c.dim GROUP BY kev.vec_id, c.cell)"
    def argminCte(name: String, dists: String) =
      s"$name AS MATERIALIZED (SELECT vec_id, cell, d2 FROM (SELECT vec_id, cell, d2, " +
        s"ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM $dists) WHERE rn = 1)"
    val steps = (1 to iters).map { i =>
      val p = s"kc${i - 1}"
      distCte(s"kd$i", p) + ", " +
        argminCte(s"ka$i", s"kd$i") + ", " +
        s"ku$i AS (SELECT a.cell, kev.dim, " +
        "CAST(floor(CAST(SUM(kev.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cx " +
        s"FROM ka$i a JOIN kev ON kev.vec_id = a.vec_id GROUP BY a.cell, kev.dim), " +
        s"kc$i AS MATERIALIZED (SELECT p.cell, p.dim, COALESCE(u.cx, p.cx) AS cx " +
        s"FROM $p p LEFT JOIN ku$i u ON p.cell = u.cell AND p.dim = u.dim)"
    }.mkString(", ")
    "kev AS MATERIALIZED (SELECT vec_id, CAST(gs.pos - 1 AS INTEGER) AS dim, " +
      "CAST(floor(CAST(emb[gs.pos] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x " +
      "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings " +
      "WHERE embedding IS NOT NULL) e, " +
      "LATERAL (SELECT unnest(generate_series(1, len(emb))) AS pos) gs), " +
      "ki AS (SELECT vec_id, CAST(rn - 1 AS INTEGER) AS cell FROM " +
      "(SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn " +
      s"FROM (SELECT DISTINCT vec_id FROM kev)) WHERE rn <= ($kCondSql)), " +
      "kc0 AS MATERIALIZED (SELECT i.cell, kev.dim, kev.x AS cx " +
      "FROM ki i JOIN kev ON kev.vec_id = i.vec_id), " +
      steps + ", " +
      distCte("kfd", s"kc$iters") + ", " +
      argminCte("kfa", "kfd")
  }

  /** Per-subspace integer PQ codebook unroll —
    * ext.Similarity.trainPqCodebooksInt replayed exactly (the r15 PQ
    * flip): the input CTE `in` provides (vec_id, sub, dim, x) micro-int
    * subvector components (raw snapped dims or exact integer
    * residuals); init = the subvectors of the kSub smallest vec_ids;
    * each iteration assigns per-(vec, sub) the exact-BIGINT
    * squared-distance argmin code (ties to the LOWER code via
    * (d2, code) row_number) and updates centroids with
    * floor(sum/count + 0.5) — the kmeansCtesSqlFor arithmetic keyed by
    * (sub, code, dim). Emits `<p>c{PqIters}` (sub, code, dim, cx) and
    * `<p>fa` (vec_id, sub, code): the converged codebooks and final
    * code assignment. Iteration/kSub constants interpolate from
    * ext.Similarity (one definition, no drift).
    */
  private def pqCodebookCtesSqlFor(p: String, in: String,
                                   kSubSql: String): String = {
    val iters = ext.Similarity.PqIters
    def distCte(name: String, cents: String) =
      s"$name AS (SELECT v.vec_id, v.sub, c.code, " +
        "SUM((v.x - c.cx) * (v.x - c.cx)) AS d2 " +
        s"FROM $in v JOIN $cents c ON v.sub = c.sub AND v.dim = c.dim " +
        "GROUP BY v.vec_id, v.sub, c.code)"
    def argminCte(name: String, dists: String) =
      s"$name AS MATERIALIZED (SELECT vec_id, sub, code FROM " +
        "(SELECT vec_id, sub, code, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn " +
        s"FROM $dists) WHERE rn = 1)"
    val steps = (1 to iters).map { i =>
      val prev = s"${p}c${i - 1}"
      distCte(s"${p}d$i", prev) + ", " + argminCte(s"${p}a$i", s"${p}d$i") + ", " +
        s"${p}u$i AS (SELECT a.sub, a.code, v.dim, " +
        "CAST(floor(CAST(SUM(v.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cx " +
        s"FROM ${p}a$i a JOIN $in v ON v.vec_id = a.vec_id AND v.sub = a.sub " +
        "GROUP BY a.sub, a.code, v.dim), " +
        s"${p}c$i AS MATERIALIZED (SELECT q.sub, q.code, q.dim, COALESCE(u.cx, q.cx) AS cx " +
        s"FROM $prev q LEFT JOIN ${p}u$i u " +
        "ON q.sub = u.sub AND q.code = u.code AND q.dim = u.dim)"
    }.mkString(", ")
    s"${p}i AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn " +
      s"FROM (SELECT DISTINCT vec_id FROM $in)), " +
      s"${p}c0 AS MATERIALIZED (SELECT v.sub, CAST(i.rn - 1 AS INTEGER) AS code, " +
      s"v.dim, v.x AS cx FROM ${p}i i JOIN $in v ON v.vec_id = i.vec_id " +
      s"WHERE i.rn <= ($kSubSql)), " +
      steps + ", " +
      distCte(s"${p}fd", s"${p}c$iters") + ", " + argminCte(s"${p}fa", s"${p}fd")
  }

  /** The oracle-exact kNN-graph pair chain, shared by q_knn_graph and
    * q_quality_propagation: corpus-derived cell count (the knnGraphDf
    * nlist rule) into the Lloyd unroll, the exact nprobe probe ranking
    * (ROW_NUMBER over (d2, cell) on the final distance table kfd —
    * Clustering.probeAssignments' order), then cosine pairs over the
    * probed cells. Emits `qps` (query_id, neighbor_id, cos_sim_r).
    */
  /** The derived-cell Lloyd assignment alone — `qpv` (vec_id, emb,
    * cell) under the knnGraphDf nlist rule; q_semantic_dedup's pair
    * scan and the probe chain below both start here.
    */
  private lazy val knnCellsCtesSql: String = {
    val cs = ext.Similarity.KnnTargetCellSize
    s"qpk AS (SELECT LEAST(LEAST((COUNT(*) + ${cs - 1}) // $cs, 1024), COUNT(*)) AS kk " +
      "FROM embeddings WHERE embedding IS NOT NULL), " +
      kmeansCtesSqlFor("SELECT kk FROM qpk") + ", " +
      "qpv AS MATERIALIZED (SELECT f.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, f.cell " +
      "FROM embeddings e JOIN kfa f ON e.vec_id = f.vec_id)"
  }

  private lazy val knnPairsCtesSql: String = {
    val np = ext.Similarity.KnnNprobe
    s"$knnCellsCtesSql, " +
      "kpb AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM kfd) " +
      s"WHERE rn <= $np), " +
      "qps AS MATERIALIZED (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, " +
      "round(list_cosine_similarity(q.emb, c.emb), 6) AS cos_sim_r " +
      "FROM kpb p JOIN qpv q ON p.vec_id = q.vec_id " +
      "JOIN qpv c ON c.cell = p.cell AND c.vec_id <> p.vec_id)"
  }

  /** snap6(CAST(expr AS DOUBLE) / divisors...) with Spark's exact op
    * order: each `/ d` applies left-to-right, then *1e6, +0.5, floor,
    * /1e6 — identical IEEE doubles on both engines.
    */
  private def snap6Sql(expr: String, divisors: String*): String = {
    val divided = divisors.foldLeft(s"CAST($expr AS DOUBLE)")((acc, d) => s"($acc / $d)")
    s"floor($divided * 1000000.0 + 0.5) / 1000000.0"
  }

  // ------------------------------------------------------------------
  // MinHash near-dup family — fully oracle-checkable since the
  // signature kernel moved to the md5-prefix universal-hash family
  // (ext.Dedup.minhashSigUdf): every coefficient below interpolates
  // from ext.Dedup's OWN constants, so operator and oracle share one
  // definition. The oracle joins band buckets on the band's VALUE
  // slice; the Spark side keys the same buckets by xxhash64 of that
  // slice — injective up to 2^-64 collisions (the documented
  // decontamination bound), so the emitted pair sets are identical.

  /** The section-chunking chain — ext.Search.sectionChunksDf over the
    * synthesized markdown (sectionMdFrame), replayed stage for stage:
    * the two heading-trigger replaces, the trailing-empty-preserving
    * newline split, the `#{1,} ` heading parse, the running
    * section-id/per-level `lpad(pos)‖text` window maxima (ONE window),
    * the section aggregate (ordered content join, heading, line
    * count), and the active-heading path rule (level L active iff its
    * latest position beats every shallower level's latest). Emits
    * `ssx` (doc_id, section_id, level, heading, heading_path, n_lines,
    * st, cl).
    */
  private lazy val sectionCtesSql: String = {
    val h2 = ext.Search.SectionH2Term
    val h3 = ext.Search.SectionH3Term
    def hp(h: String) = s"CAST(substring($h, 1, 8) AS BIGINT)"
    "smd AS (SELECT doc_id, '# DOC ' || doc_id || chr(10) || " +
      s"replace(replace(text, ' $h2 ', chr(10) || '## $h2' || chr(10)), " +
      s"' $h3 ', chr(10) || '### $h3' || chr(10)) AS md " +
      "FROM documents WHERE text IS NOT NULL), " +
      "sln AS (SELECT doc_id, CAST(gs.p - 1 AS BIGINT) AS pos, ls[gs.p] AS line " +
      "FROM (SELECT doc_id, string_split(md, chr(10)) AS ls FROM smd) sm, " +
      "LATERAL (SELECT unnest(generate_series(1, len(ls))) AS p) gs), " +
      "spr AS (SELECT doc_id, pos, line, " +
      "CAST(length(regexp_extract(line, '^(#+) ', 1)) AS BIGINT) AS level, " +
      "trim(regexp_replace(line, '^#+[ ]*', '')) AS htext FROM sln), " +
      "stg AS MATERIALIZED (SELECT doc_id, pos, line, level, htext, " +
      "CAST(SUM(CASE WHEN level > 0 THEN 1 ELSE 0 END) OVER w AS BIGINT) AS section_id, " +
      "MAX(CASE WHEN level = 1 THEN lpad(CAST(pos AS VARCHAR), 8, '0') || htext END) OVER w AS h1, " +
      "MAX(CASE WHEN level = 2 THEN lpad(CAST(pos AS VARCHAR), 8, '0') || htext END) OVER w AS h2, " +
      "MAX(CASE WHEN level = 3 THEN lpad(CAST(pos AS VARCHAR), 8, '0') || htext END) OVER w AS h3 " +
      "FROM spr WINDOW w AS (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "sga AS (SELECT doc_id, section_id, MIN(pos) AS start_pos, " +
      "CAST(COALESCE(MAX(CASE WHEN level > 0 THEN level END), 0) AS BIGINT) AS level, " +
      "COALESCE(MAX(CASE WHEN level > 0 THEN htext END), '') AS heading, " +
      "CAST(SUM(CASE WHEN level = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines, " +
      "COALESCE(string_agg(CASE WHEN level = 0 THEN line END, ' ' ORDER BY pos), '') AS st, " +
      "MAX(h1) AS h1, MAX(h2) AS h2, MAX(h3) AS h3 " +
      "FROM stg GROUP BY doc_id, section_id), " +
      "ssx AS MATERIALIZED (SELECT doc_id, section_id, level, heading, " +
      "concat_ws(' > ', " +
      "CASE WHEN h1 IS NOT NULL THEN substring(h1, 9) END, " +
      s"CASE WHEN h2 IS NOT NULL AND ${hp("h2")} > COALESCE(${hp("h1")}, -1) THEN substring(h2, 9) END, " +
      s"CASE WHEN h3 IS NOT NULL AND ${hp("h3")} > COALESCE(${hp("h1")}, -1) " +
      s"AND ${hp("h3")} > COALESCE(${hp("h2")}, -1) THEN substring(h3, 9) END) AS heading_path, " +
      "n_lines, st, " +
      "CASE WHEN st = '' THEN 0 ELSE CAST(len(string_split_regex(trim(st), '\\s+')) AS BIGINT) END AS cl " +
      "FROM sga)"
  }

  /** The per-(doc, term) snapped BM25 contribution chain over the
    * probed postings — ext.Search.bm25ContribAll replayed term for
    * term. Emits `scc` (doc_id, term, df_t, c).
    */
  private lazy val bm25ContribCtesSql: String = {
    val probe = ext.Search.ProbeTerms.map(t => s"'$t'").mkString(", ")
    val k1 = ext.Search.K1
    val b = ext.Search.B
    s"sb AS (SELECT doc_id, len($toks) AS dl, unnest($toks) AS term " +
      "FROM documents WHERE text IS NOT NULL), " +
      s"sp AS MATERIALIZED (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, " +
      s"ANY_VALUE(dl) AS dl FROM sb WHERE term IN ($probe) GROUP BY doc_id, term), " +
      s"cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len($toks)) AS BIGINT) AS s " +
      "FROM documents WHERE text IS NOT NULL), " +
      "sdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM sp GROUP BY term), " +
      "scc AS MATERIALIZED (SELECT doc_id, sp.term AS term, sdf.df_t AS df_t, CAST(floor(" +
      "ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5)) * tf / " +
      s"(tf + $k1 * (${1.0 - b} + $b * dl / (CAST(s AS DOUBLE) / n))) " +
      "* 1000000.0 + 0.5) AS BIGINT) AS c " +
      "FROM sp JOIN sdf ON sp.term = sdf.term CROSS JOIN cs)"
  }

  /** The IVF-ANN scored-candidate chain (fixed-nlist integer-Lloyd
    * unroll + exact (d2, cell) probe ranking + probed-cell snapped
    * cosine) — emits `isc` (query_id, neighbor_id, cos_sim_r); shared
    * by q_ivf_ann_topk and the r15 recall audit.
    */
  private lazy val ivfAnnCtesSql: String = {
    val np = ext.Similarity.IvfNprobe
    s"${kmeansCtesSqlFor(ext.Similarity.IvfNlist.toString)}, " +
      "iv AS MATERIALIZED (SELECT f.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, f.cell " +
      "FROM embeddings e JOIN kfa f ON e.vec_id = f.vec_id), " +
      "ipb AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM kfd) " +
      s"WHERE rn <= $np AND vec_id < 8), " +
      "isc AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, " +
      "round(list_cosine_similarity(q.emb, c.emb), 6) AS cos_sim_r " +
      "FROM ipb p JOIN iv q ON p.vec_id = q.vec_id " +
      "JOIN iv c ON c.cell = p.cell AND c.vec_id <> p.vec_id)"
  }

  /** The integer-exact IVF-PQ scored-candidate chain (coarse
    * integer-Lloyd unroll, exact residual subvectors, the integer
    * codebook unroll, reconstruction dots) — emits `psc`
    * (query_id, neighbor_id, cos_sim_pq); shared by q_ivf_pq_topk
    * and the r15 distortion audit.
    */
  private lazy val ivfPqCtesSql: String = {

      val np = ext.Similarity.PqNprobe
      val m = ext.Similarity.PqM
      val ki = ext.Clustering.KmeansIters
      val pi = ext.Similarity.PqIters
      s"${kmeansCtesSqlFor(ext.Similarity.IvfNlist.toString)}, " +
        s"psd AS (SELECT (MAX(dim) + 1) // $m AS sd FROM kev), " +
        "rsb AS MATERIALIZED (SELECT kev.vec_id, " +
        "CAST(kev.dim // psd.sd AS INTEGER) AS sub, " +
        "CAST(kev.dim % psd.sd AS INTEGER) AS dim, kev.x - c.cx AS x " +
        "FROM kev JOIN kfa f ON kev.vec_id = f.vec_id " +
        s"JOIN kc$ki c ON c.cell = f.cell AND c.dim = kev.dim CROSS JOIN psd), " +
        pqCodebookCtesSqlFor("pb", "rsb",
          s"SELECT LEAST(${ext.Similarity.PqKSub}, COUNT(DISTINCT vec_id)) FROM rsb") + ", " +
        "rcd AS MATERIALIZED (SELECT kev.vec_id, kev.dim, c.cx + cb.cx AS vx " +
        "FROM kev JOIN kfa f ON kev.vec_id = f.vec_id " +
        s"JOIN kc$ki c ON c.cell = f.cell AND c.dim = kev.dim " +
        "CROSS JOIN psd " +
        "JOIN pbfa a ON a.vec_id = kev.vec_id AND a.sub = kev.dim // psd.sd " +
        s"JOIN pbc$pi cb ON cb.sub = a.sub AND cb.code = a.code " +
        "AND cb.dim = kev.dim % psd.sd), " +
        "prn AS (SELECT vec_id, SUM(vx * vx) AS r2 FROM rcd GROUP BY vec_id), " +
        "pqn AS (SELECT vec_id, SUM(x * x) AS q2 FROM kev WHERE vec_id < 8 GROUP BY vec_id), " +
        "ppb AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM kfd) " +
        s"WHERE rn <= $np AND vec_id < 8), " +
        "pdt AS (SELECT p.vec_id AS query_id, r.vec_id AS neighbor_id, " +
        "SUM(qd.x * rd.vx) AS s FROM ppb p " +
        "JOIN kfa r ON r.cell = p.cell AND r.vec_id <> p.vec_id " +
        "JOIN kev qd ON qd.vec_id = p.vec_id " +
        "JOIN rcd rd ON rd.vec_id = r.vec_id AND rd.dim = qd.dim " +
        "GROUP BY p.vec_id, r.vec_id), " +
        "psc AS (SELECT d.query_id, d.neighbor_id, " +
        "CASE WHEN r.r2 > 0 AND q.q2 > 0 THEN " +
        "round(CAST(d.s AS DOUBLE) / (sqrt(CAST(q.q2 AS DOUBLE)) * sqrt(CAST(r.r2 AS DOUBLE))), 6) " +
        "ELSE 0.0 END AS cos_sim_pq " +
        "FROM pdt d JOIN prn r ON r.vec_id = d.neighbor_id " +
        "JOIN pqn q ON q.vec_id = d.query_id)"
  }

  /** The nDCG gain of a (rel, r) row — (2^rel − 1) · discount(r),
    * micro-snapped — with the discount CASE over the shared constant
    * table (ext.Search.NdcgDiscounts): both engines read identical
    * double literals, zero libm exposure. Shared by
    * q_retrieval_eval_audit and q_bm25_param_sweep.
    */
  private lazy val ndcgGainSql: String = {
    val discCase = "CASE r " + ext.Search.NdcgDiscounts.zipWithIndex.map {
      case (dv, i) => s"WHEN ${i + 1} THEN $dv"
    }.mkString(" ") + " ELSE 0.0 END"
    s"CAST(floor(CAST(((1::BIGINT << rel)) - 1 AS DOUBLE) * ($discCase) " +
      "* 1000000.0 + 0.5) AS BIGINT)"
  }

  /** Exhaustive probe-term BM25 top-10 — shared verbatim by
    * q_bm25_topk AND q_bm25_maxscore_topk (the pruned path's oracle is
    * the exhaustive ranking: hash parity proves pruning exact).
    */
  private lazy val bm25ExhaustiveSql: String =
    s"WITH $bm25ContribCtesSql, " +
      "ssc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micro, " +
      "CAST(COUNT(*) AS BIGINT) AS n_terms_hit FROM scc GROUP BY doc_id) " +
      "SELECT doc_id, score_micro, n_terms_hit, " +
      "CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank " +
      "FROM ssc ORDER BY score_micro DESC, doc_id LIMIT 10"

  /** Signature + banding chain: msig = 32-plane signatures over
    * 3-shingles, mbk = 8 banded rows per doc keyed by the value slice.
    */
  private lazy val minhashCtesSql: String = {
    val mins = (0 until 32).map(s =>
      s"MIN((${ext.Dedup.MinhashA(s)} * h + ${ext.Dedup.MinhashB(s)}) % ${ext.Dedup.MinhashPrime})")
      .mkString(", ")
    s"mt AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
      "msh AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1), " +
      "i -> array_to_string(t[i:i+2], ' '))) AS sh FROM mt), " +
      "mhh AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h FROM msh), " +
      s"msig AS MATERIALIZED (SELECT doc_id, [$mins] AS sig FROM mhh GROUP BY doc_id), " +
      "mbk AS MATERIALIZED (SELECT doc_id, sig, band, " +
      "array_to_string(sig[band*4+1:band*4+4], ',') AS bk " +
      "FROM (SELECT doc_id, sig, unnest(range(0, 8)) AS band FROM msig))"
  }

  /** Signature-agreement fraction of two sig arrays bound as sa/sb. */
  private val minhashEstSql =
    "CAST(len(list_filter(range(1, 33), i -> sa[i] = sb[i])) AS DOUBLE) / 32"

  /** All-pairs candidate CTE (id_a < id_b, distinct, est_jaccard). */
  private lazy val minhashPairsCteSql: String =
    s"$minhashCtesSql, " +
      s"mpr AS MATERIALIZED (SELECT DISTINCT id_a, id_b, $minhashEstSql AS est_jaccard " +
      "FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb " +
      "FROM mbk a JOIN mbk b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id))"

  /** The ext.Dedup.dedupClusters min-label propagation unrolled over a
    * pair CTE: symmetric edge list, then ClusterMaxIter exact-integer
    * MIN rounds (the q_link_components discipline). Parity holds
    * UNCONDITIONALLY: both engines run the identical recurrence, the
    * Spark side's fixpoint early-exit only skips identity rounds, and
    * if propagation hasn't converged by the cap both have run exactly
    * ClusterMaxIter rounds. Emits CTEs `<p>ed`, `<p>l0..<p>lN`.
    */
  private def clusterUnrollSql(pairsCte: String, prefix: String): String = {
    val thr = ext.Dedup.NearDupThreshold
    val rounds = (1 to ext.Dedup.ClusterMaxIter).map { k =>
      val pl = s"${prefix}l${k - 1}"
      s"${prefix}n$k AS (SELECT e.dst AS id, MIN(l.label) AS m FROM $pl l " +
        s"JOIN ${prefix}ed e ON l.id = e.src GROUP BY e.dst), " +
        s"${prefix}l$k AS MATERIALIZED (SELECT l.id, " +
        s"least(l.label, COALESCE(n.m, l.label)) AS label " +
        s"FROM $pl l LEFT JOIN ${prefix}n$k n ON l.id = n.id)"
    }.mkString(", ")
    s"${prefix}ed AS MATERIALIZED (" +
      s"SELECT id_a AS src, id_b AS dst FROM $pairsCte WHERE est_jaccard >= $thr " +
      s"UNION ALL SELECT id_b AS src, id_a AS dst FROM $pairsCte WHERE est_jaccard >= $thr), " +
      s"${prefix}l0 AS MATERIALIZED (SELECT DISTINCT dst AS id, dst AS label FROM ${prefix}ed), " +
      rounds
  }

  /** The exact containment-scoring tail over a candidate CTE carrying
    * (id_a, id_b): distinct-shingle sets attach per side, then
    * intersection/containment/jaccard at 6 dp — mirrors
    * ext.Dedup.containmentScoreTail. Emits the final SELECT (no CTE).
    */
  private def containmentTailSql(candCte: String): String =
    "cts AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(" +
      "range(1, greatest(len(t) - 2, 1) + 1), i -> array_to_string(t[i:i+2], ' '))) AS sh FROM mt), " +
      s"ctp AS (SELECT p.id_a, p.id_b, a.sh AS sa, b.sh AS sb FROM $candCte p " +
      "JOIN cts a ON p.id_a = a.doc_id JOIN cts b ON p.id_b = b.doc_id), " +
      "ctf AS (SELECT id_a, id_b, " +
      "round(CAST(len(list_intersect(sa, sb)) AS DOUBLE) / len(sa), 6) AS contain_a, " +
      "round(CAST(len(list_intersect(sa, sb)) AS DOUBLE) / len(sb), 6) AS contain_b, " +
      "round(CAST(len(list_intersect(sa, sb)) AS DOUBLE) / " +
      "(len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard FROM ctp) " +
      "SELECT id_a, id_b, contain_a, contain_b, jaccard FROM ctf " +
      "WHERE contain_a > 0.5 OR contain_b > 0.5 ORDER BY id_a, id_b"

  /** Name of the final label CTE a clusterUnrollSql(_, prefix) emits. */
  private def clusterFinalCte(prefix: String): String =
    s"${prefix}l${ext.Dedup.ClusterMaxIter}"

  /** The split rule of Corpus.splitAssignments over a bucket column. */
  private def splitCaseSql(bucket: String): String =
    s"CASE WHEN $bucket < 'e6' THEN 'train' WHEN $bucket < 'f3' THEN 'val' ELSE 'test' END"

  /** The three-way synthetic URL presentation of Cleaning.urlCol (the
    * CASE branches after an optional override branch; expects an `art`
    * column in scope).
    */
  private val urlCaseBranchesSql =
    "WHEN doc_id % 3 = 0 THEN 'https://news.example.com' || art || '?a=1&b=2' " +
      "WHEN doc_id % 3 = 1 THEN 'HTTPS://News.Example.COM:443' || art || '/?b=2&a=1&utm_source=feed#frag' " +
      "ELSE 'https://news.example.com' || art || '/?a=1&utm_medium=email&b=2' END"

  /** Cleaning.canonicalUrl as CTE steps over a (doc_id, url) CTE named
    * `src` — emits `<p>1..<p>5`, the last carrying
    * (doc_id, url, canon_url). ONE definition shared by q_url_dedup
    * and the cascade/gate oracles so the canonicalization chain cannot
    * drift between them.
    */
  private def canonUrlStepsSql(src: String, p: String): String =
    s"${p}1 AS (SELECT doc_id, url, " +
      "regexp_replace(url, '#.*$', '') AS nofrag FROM " + src + "), " +
      s"${p}2 AS (SELECT doc_id, url, " +
      "regexp_replace(lower(regexp_extract(nofrag, '^([a-zA-Z]+://[^/?#]+)', 1)), ':(443|80)$', '') AS hostpart, " +
      "regexp_replace(nofrag, '^[a-zA-Z]+://[^/?#]+', '') AS rem FROM " + s"${p}1), " +
      s"${p}3 AS (SELECT doc_id, url, hostpart, " +
      "regexp_replace(regexp_replace(rem, '\\?.*$', ''), '/$', '') AS path, " +
      "CASE WHEN contains(rem, '?') THEN regexp_replace(rem, '^[^?]*\\?', '') ELSE '' END AS query FROM " + s"${p}2), " +
      s"${p}4 AS (SELECT doc_id, url, hostpart, path, " +
      "list_sort(list_filter(string_split(query, '&'), " +
      "p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[a-z]+|fbclid|gclid)='))) AS kept FROM " + s"${p}3), " +
      s"${p}5 AS (SELECT doc_id, url, hostpart || path || " +
      "CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS canon_url FROM " + s"${p}4)"

  /** The dedup-cascade / ingest-gate URL synthesis + canonicalization +
    * base-keeper + arrival-verdict chain (Dedup.cascadeUrls over the
    * %4 snapshot/delta split) — emits `cuv` with (doc_id, url_dup) for
    * arrivals. Shared by q_dedup_cascade and q_ingest_gate.
    */
  private lazy val cascadeUrlVerdictSql: String =
    "cu0 AS (SELECT doc_id, '/articles/' || CAST(doc_id // 3 AS VARCHAR) AS art " +
      "FROM documents WHERE text IS NOT NULL), " +
      "cu AS (SELECT doc_id, CASE WHEN doc_id % 48 = 0 " +
      "THEN 'https://news.example.com/articles/solo-' || CAST(doc_id AS VARCHAR) " +
      urlCaseBranchesSql + " AS url FROM cu0), " +
      canonUrlStepsSql("cu", "uc") + ", " +
      "cuk AS (SELECT canon_url, MIN(doc_id) AS keeper FROM uc5 WHERE doc_id % 4 <> 0 GROUP BY canon_url), " +
      "cuv AS (SELECT c.doc_id, (cuk.keeper IS NOT NULL) AS url_dup FROM uc5 c " +
      "LEFT JOIN cuk ON c.canon_url = cuk.canon_url WHERE c.doc_id % 4 = 0)"

  /** Exact-content arrival verdict over the %4 split — emits `cev`
    * with (doc_id, exact_dup); shared by the same two oracles.
    */
  private lazy val cascadeExactVerdictSql: String =
    "cek AS (SELECT md5(nfc_normalize(text)) AS ch, MIN(doc_id) AS keeper FROM documents " +
      "WHERE text IS NOT NULL AND doc_id % 4 <> 0 GROUP BY ch), " +
      "cev AS (SELECT a.doc_id, (cek.keeper IS NOT NULL) AS exact_dup FROM " +
      "(SELECT doc_id, md5(nfc_normalize(text)) AS ch FROM documents " +
      "WHERE text IS NOT NULL AND doc_id % 4 = 0) a LEFT JOIN cek ON a.ch = cek.ch)"

  /** MinHash arrival near-dup id set over the %4 split — emits `cnv`
    * (doc_id); rides the minhashCtesSql band table.
    */
  private lazy val cascadeNearVerdictSql: String =
    "cnv AS (SELECT DISTINCT a.doc_id FROM mbk a JOIN mbk b " +
      "ON a.band = b.band AND a.bk = b.bk WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0)"

  // strongly-connected components: the nested peel unroll — per peel,
  // ComponentRounds forward min-label rounds then ComponentRounds
  // backward root-flow rounds over the still-unassigned subgraph
  // (ext.Graph.sccDf's exact recurrence; Spark's fixpoint
  // early-exits only skip identity rounds/peels, so parity is
  // unconditional)
  private lazy val sccCtesSql: String = {
    val R = ext.Graph.ComponentRounds
    def peelCtes(p: Int, prevState: String): String = {
      val pre = s"p$p"
      val fRounds = (1 to R).map { k =>
        val prev = s"${pre}f${k - 1}"
        s"${pre}fn$k AS (SELECT e.dst AS doc_id, MIN(l.flabel) AS m FROM $prev l " +
          s"JOIN ${pre}e e ON l.doc_id = e.src GROUP BY e.dst), " +
          s"${pre}f$k AS MATERIALIZED (SELECT l.doc_id, " +
          s"least(l.flabel, COALESCE(n.m, l.flabel)) AS flabel " +
          s"FROM $prev l LEFT JOIN ${pre}fn$k n ON l.doc_id = n.doc_id)"
      }.mkString(", ")
      // distinct (receiver, root) pairs with the class gate as a join
      // key — mirrors sccDf's backward round exactly (a pre-gate MIN
      // would shadow a receiver's own root with a smaller foreign one)
      val bRounds = (1 to R).map { k =>
        val prev = s"${pre}b${k - 1}"
        s"${pre}bp$k AS (SELECT DISTINCT e.src AS doc_id, b.blabel AS bm FROM $prev b " +
          s"JOIN ${pre}e e ON b.doc_id = e.dst WHERE b.blabel IS NOT NULL), " +
          s"${pre}b$k AS MATERIALIZED (SELECT b.doc_id, b.flabel, " +
          s"COALESCE(b.blabel, p.bm) AS blabel " +
          s"FROM $prev b LEFT JOIN ${pre}bp$k p ON b.doc_id = p.doc_id AND p.bm = b.flabel)"
      }.mkString(", ")
      s"${pre}u AS (SELECT doc_id FROM $prevState WHERE scc IS NULL), " +
        s"${pre}e AS MATERIALIZED (SELECT src, dst FROM e " +
        s"WHERE src IN (SELECT doc_id FROM ${pre}u) AND dst IN (SELECT doc_id FROM ${pre}u)), " +
        s"${pre}f0 AS MATERIALIZED (SELECT doc_id, doc_id AS flabel FROM ${pre}u), " +
        fRounds + ", " +
        s"${pre}b0 AS MATERIALIZED (SELECT doc_id, flabel, " +
        s"CASE WHEN flabel = doc_id THEN doc_id END AS blabel FROM ${pre}f$R), " +
        bRounds + ", " +
        s"${pre}s AS MATERIALIZED (SELECT st.doc_id, COALESCE(st.scc, b.blabel) AS scc " +
        s"FROM $prevState st LEFT JOIN ${pre}b$R b ON st.doc_id = b.doc_id)"
    }
    var state = "s0"
    val peels = (1 to ext.Graph.SccPeels).map { p =>
      val c = peelCtes(p, state); state = s"p${p}s"; c
    }.mkString(", ")
    s"$linkGraphCteSql, " +
      "s0 AS (SELECT doc_id, CAST(NULL AS BIGINT) AS scc FROM documents), " +
      peels + ", " +
      s"fin AS MATERIALIZED (SELECT doc_id, COALESCE(scc, doc_id) AS scc_id FROM $state), " +
      "fsz AS (SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size FROM fin GROUP BY scc_id)"
  }

  private lazy val linkSccSql: String =
    s"$sccCtesSql " +
      "SELECT fin.doc_id, fin.scc_id, fsz.scc_size FROM fin " +
      "JOIN fsz ON fin.scc_id = fsz.scc_id ORDER BY fin.doc_id"

  // the min-plus BFS rounds alone (the crawl-depth recurrence), with a
  // name prefix and an edge-CTE parameter — the bow-tie oracle runs
  // TWO of these (forward + reversed) off the SCC core seed
  private def bfsRoundsSql(px: String, eCte: String): String = {
    val u = ext.Graph.BfsUnreached
    (1 to ext.Graph.BfsRounds).map { k =>
      val p = s"$px${k - 1}"
      s"${px}n$k AS (SELECT ec.dst AS doc_id, CAST(MIN(b.depth) + 1 AS BIGINT) AS nd " +
        s"FROM $p b JOIN $eCte ec ON b.doc_id = ec.src WHERE b.depth < $u GROUP BY ec.dst), " +
        s"$px$k AS MATERIALIZED (SELECT b.doc_id, least(b.depth, COALESCE(n.nd, b.depth)) AS depth " +
        s"FROM $p b LEFT JOIN ${px}n$k n ON b.doc_id = n.doc_id)"
    }.mkString(", ")
  }

  // web bow-tie: the SCC chain picks the giant core (size DESC, id —
  // exact integers), two BFS unrolls classify in/out, the census
  // rides along
  private lazy val webBowtieSql: String = {
    val u = ext.Graph.BfsUnreached
    val R = ext.Graph.BfsRounds
    s"$sccCtesSql, " +
      "bcore AS (SELECT scc_id FROM fsz ORDER BY scc_size DESC, scc_id LIMIT 1), " +
      "brev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM e), " +
      s"bfw0 AS MATERIALIZED (SELECT fin.doc_id, CAST(CASE WHEN fin.scc_id = (SELECT scc_id FROM bcore) THEN 0 ELSE $u END AS BIGINT) AS depth FROM fin), " +
      bfsRoundsSql("bfw", "e") + ", " +
      s"bbw0 AS MATERIALIZED (SELECT doc_id, depth FROM bfw0), " +
      bfsRoundsSql("bbw", "brev") + ", " +
      s"bcls AS (SELECT f.doc_id, CASE WHEN f.scc_id = (SELECT scc_id FROM bcore) THEN 'core' " +
      s"WHEN bw.depth < $u THEN 'in' WHEN fw.depth < $u THEN 'out' ELSE 'other' END AS region " +
      s"FROM fin f JOIN bfw$R fw ON f.doc_id = fw.doc_id JOIN bbw$R bw ON f.doc_id = bw.doc_id), " +
      "brsz AS (SELECT region, CAST(COUNT(*) AS BIGINT) AS n_region FROM bcls GROUP BY region) " +
      "SELECT bcls.doc_id, bcls.region, brsz.n_region FROM bcls " +
      "JOIN brsz ON bcls.region = brsz.region ORDER BY bcls.doc_id"
  }

  // the 8-bit Morton interleave as explicit shift/mask arithmetic —
  // generated here so the Spark expression (ZOrder.interleave) and the
  // oracle cannot drift in term count
  private val zTerms = (0 until 8).map(k =>
    s"(((x >> $k) & 1) << ${2 * k}) + (((y >> $k) & 1) << ${2 * k + 1})")
    .mkString(" + ")

  // the CDC chunk chain (f → g → s → k → e), shared verbatim by the
  // three q_cdc_* oracles so the cut rule and the span algebra cannot
  // drift between them (the zTerms/toks discipline)
  private lazy val cdcChainSql =
    s"WITH f AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
      "g AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n, " +
      "list_filter(range(3, len(t) + 1), i -> " +
      "substring(md5(array_to_string(list_slice(t, i - 2, i), ' ')), 1, 1) < '2') AS b FROM f), " +
      "s AS (SELECT doc_id, t, [1] || list_transform(b, x -> x + 1) AS starts, " +
      "b || [n] AS ends FROM g), " +
      "k AS (SELECT doc_id, t, list_filter(range(1, len(starts) + 1), " +
      "i -> starts[i] <= ends[i]) AS keep, starts, ends FROM s), " +
      "e AS (SELECT doc_id, t, " +
      "unnest(list_transform(keep, i -> struct_pack(s := starts[i], e := ends[i]))) AS p, " +
      "unnest(range(0, len(keep))) AS chunk_id FROM k)"

  // the UniMax plan chain (f → p → s → c → a) shared by the plan and
  // execute oracles — same rationale
  private lazy val unimaxCoreSql =
    s"WITH f AS (SELECT lang, COALESCE(len($toks), 0) AS n_toks FROM documents), " +
      "p AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens " +
      "FROM f GROUP BY lang), " +
      "s AS (SELECT *, SUM(n_tokens) OVER () AS total, COUNT(*) OVER () AS n_langs, " +
      "ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS i, " +
      "COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens, lang " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_prev FROM p), " +
      "c AS (SELECT *, CAST(floor(7.0 * total / 4) AS BIGINT) AS budget, " +
      "2 * n_tokens * (n_langs - i + 1) + 2 * s_prev " +
      "< CAST(floor(7.0 * total / 4) AS BIGINT) AS capped FROM s), " +
      "a AS (SELECT *, SUM(CASE WHEN capped THEN n_tokens ELSE 0 END) OVER () AS s_capped, " +
      "SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k_capped FROM c)"

  // the c4StructuredDocs builder re-derived with the source column kept
  // (the boilerplate operators key their dictionary on it)
  private val sdSelectSql =
    "SELECT doc_id, source, concat_ws(chr(10), " +
      "substring(text, 1, 60) || '.', " +
      "substring(text, 1, 12), " +
      "CASE WHEN doc_id % 7 = 0 THEN 'Please enable javascript to view this content.' END, " +
      "CASE WHEN doc_id % 5 = 0 THEN 'We use cookies as described in our cookie policy.' END, " +
      "'Deterministic check number ' || CAST(doc_id AS VARCHAR) || ' passed the quality gate.', " +
      "CASE WHEN doc_id % 3 <> 0 THEN substring(text, 61, 50) || ' right?' END, " +
      "CASE WHEN doc_id % 31 = 0 THEN 'if (x) { runScript(); }' END, " +
      "CASE WHEN doc_id % 37 = 0 THEN 'Lorem ipsum dolor sit amet.' END" +
      ") AS text FROM documents WHERE text IS NOT NULL"
  private val boilerSdSql = "WITH sd AS (" + sdSelectSql + "), "
  // the 5-gram type table with all eight backoff totals — shared by the
  // stupid-backoff and interpolated oracles (one definition, no drift)
  private lazy val fivegramCteSql =
    s"WITH f AS (SELECT doc_id, $toks AS t FROM documents), " +
      "g AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3), " +
      "i -> struct_pack(w1 := t[i], w2 := t[i+1], w3 := t[i+2], w4 := t[i+3], w5 := t[i+4]))) AS p " +
      "FROM f WHERE len(t) >= 5), " +
      "gr AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, p.w3 AS w3, p.w4 AS w4, p.w5 AS w5 FROM g), " +
      "c5 AS (SELECT w1, w2, w3, w4, w5, COUNT(*) AS c5 FROM gr GROUP BY 1, 2, 3, 4, 5), " +
      "wc AS (SELECT *, " +
      "SUM(c5) OVER (PARTITION BY w1, w2, w3, w4) AS ctx4, " +
      "SUM(c5) OVER (PARTITION BY w2, w3, w4, w5) AS c4s, " +
      "SUM(c5) OVER (PARTITION BY w2, w3, w4) AS ctx3, " +
      "SUM(c5) OVER (PARTITION BY w3, w4, w5) AS c3s, " +
      "SUM(c5) OVER (PARTITION BY w3, w4) AS ctx2, " +
      "SUM(c5) OVER (PARTITION BY w4, w5) AS c2s, " +
      "SUM(c5) OVER (PARTITION BY w4) AS ctx1, " +
      "SUM(c5) OVER (PARTITION BY w5) AS c1s FROM c5), " +
      "n AS (SELECT SUM(c5) AS n FROM c5), "
  // DSIR bucket-delta CTEs (hashed-bigram counts on the target vs raw
  // slices, add-1-smoothed micro-nat-snapped LLR per bucket) — shared
  // by q_dsir_weights and q_dsir_select (one definition, no drift)
  private lazy val dsirWeightsCteSql =
    s"WITH d AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
      "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), " +
      "i -> substr(md5(t[i] || ' ' || t[i+1]), 1, 3))) AS bkt FROM d), " +
      "c AS (SELECT bkt, CAST(SUM(CASE WHEN doc_id % 20 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS ct, " +
      "CAST(SUM(CASE WHEN doc_id % 20 != 7 THEN 1 ELSE 0 END) AS BIGINT) AS cr FROM bg GROUP BY bkt), " +
      "t2 AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM c), " +
      "delta AS (SELECT bkt, CAST(floor(ln(CAST(ct + 1 AS DOUBLE) / (tt + 4096)) * 1e6 + 0.5) AS BIGINT) " +
      "- CAST(floor(ln(CAST(cr + 1 AS DOUBLE) / (tr + 4096)) * 1e6 + 0.5) AS BIGINT) AS dm " +
      "FROM c CROSS JOIN t2)"
  // Exact span-dedup oracle (string-keyed ROW_NUMBER election over all
  // spans) — q_span_dedup. (q_winnow_span_dedup replays its RELAXED
  // verdicts through the winnow CTE chain below, not this oracle.)
  private lazy val spanDedupOracleSql =
    s"WITH docs AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
      "sp AS (SELECT doc_id, unnest(generate_series(1, greatest(len(t)-4, 0))) AS pos, t FROM docs), " +
      "g AS (SELECT doc_id, pos, array_to_string(t[pos:pos+4], ' ') AS gram FROM sp), " +
      "w AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM g), " +
      "a AS (SELECT doc_id, COUNT(*) AS n_spans, " +
      "SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_removed FROM w GROUP BY doc_id), " +
      "sel AS (SELECT d.doc_id, CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans, " +
      "CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed " +
      "FROM docs d LEFT JOIN a USING (doc_id)) " +
      "SELECT doc_id, n_spans, n_removed, " +
      "CASE WHEN n_spans > 0 THEN round(n_removed / CAST(n_spans AS DOUBLE), 6) ELSE 0.0 END AS dup_frac, " +
      "CASE WHEN n_spans > 0 THEN round(n_removed / CAST(n_spans AS DOUBLE), 6) ELSE 0.0 END <= 0.2 AS keep " +
      "FROM sel ORDER BY doc_id"

  // TextRank keywords: per-document PageRank over the adjacent-word
  // graph, RankIters unrolled exact-integer iterations — the
  // seedRankCtesSql discipline (contributions nano-snapped per edge
  // BEFORE the BIGINT sum, isolated-node mass redistributed per doc),
  // replayed with (doc_id, tok) node keys. Shares Graph.Damping /
  // Graph.RankIters / TextAnalysis.TextrankMinLen / TextrankTopK with
  // the operator — one definition, no drift.
  private lazy val textrankSql: String = {
    val iters = ext.Graph.RankIters
    val damp = ext.Graph.Damping
    val minLen = ext.TextAnalysis.TextrankMinLen
    val topK = ext.TextAnalysis.TextrankTopK
    val chain = (1 to iters).map { k =>
      val p = s"ts${k - 1}"
      s"tc$k AS (SELECT ed.doc_id, ed.b AS tok, " +
        "CAST(SUM(CAST(floor(CAST(r AS DOUBLE) / deg + 0.5) AS BIGINT)) AS BIGINT) AS inflow " +
        s"FROM $p s JOIN ed ON s.doc_id = ed.doc_id AND s.tok = ed.a GROUP BY ed.doc_id, ed.b), " +
        s"td$k AS (SELECT doc_id, CAST(COALESCE(SUM(CASE WHEN deg = 0 THEN r END), 0) AS BIGINT) AS dang " +
        s"FROM $p GROUP BY doc_id), " +
        s"ts$k AS MATERIALIZED (SELECT s.doc_id, s.tok, s.deg, s.n, " +
        s"CAST(floor((1.0 - $damp) * 1000000000.0 / s.n + 0.5) AS BIGINT) + " +
        s"CAST(floor($damp * CAST(COALESCE(c.inflow, 0) + " +
        "CAST(floor(CAST(COALESCE(d.dang, 0) AS DOUBLE) / s.n + 0.5) AS BIGINT) AS DOUBLE) + 0.5) AS BIGINT) AS r " +
        s"FROM $p s LEFT JOIN tc$k c ON s.doc_id = c.doc_id AND s.tok = c.tok " +
        s"LEFT JOIN td$k d ON s.doc_id = d.doc_id)"
    }.mkString(", ")
    s"WITH twd AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
      "tpr AS (SELECT doc_id, t[i] AS a, t[i+1] AS b " +
      "FROM (SELECT doc_id, unnest(range(1, len(t))) AS i, t FROM twd) " +
      s"WHERE length(t[i]) >= $minLen AND length(t[i+1]) >= $minLen AND t[i] <> t[i+1]), " +
      "ed AS MATERIALIZED (SELECT DISTINCT doc_id, a, b FROM " +
      "(SELECT doc_id, a, b FROM tpr UNION ALL SELECT doc_id, b AS a, a AS b FROM tpr)), " +
      s"tnd AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(t) AS tok FROM twd) " +
      s"WHERE length(tok) >= $minLen), " +
      "tnn AS (SELECT doc_id, COUNT(*) AS n FROM tnd GROUP BY doc_id), " +
      "tdg AS (SELECT doc_id, a AS tok, COUNT(*) AS deg FROM ed GROUP BY doc_id, a), " +
      "ts0 AS MATERIALIZED (SELECT nd.doc_id, nd.tok, COALESCE(dg.deg, 0) AS deg, nn.n, " +
      "CAST(floor(1000000000.0 / nn.n + 0.5) AS BIGINT) AS r " +
      "FROM tnd nd JOIN tnn nn USING (doc_id) LEFT JOIN tdg dg ON nd.doc_id = dg.doc_id AND nd.tok = dg.tok), " +
      s"$chain " +
      "SELECT doc_id, rk, term, rank_nano FROM (SELECT doc_id, tok AS term, r AS rank_nano, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY r DESC, tok) AS INTEGER) AS rk " +
      s"FROM ts$iters) WHERE rk <= $topK ORDER BY doc_id, rk"
  }

  // Winnow-family oracle chain: md5-60 span hashes (the operator's own
  // hash — Cleaning.winnowSpanHashesOf switched the winnow family to
  // the md5 prefix precisely so the hash-ORDER-dependent selection is
  // replayable; xxhash64 exists only in Spark). The per-window
  // rightmost-min selection collapses to ONE aggregate per window
  // start: min over `h*8 + (w-1 - (pos-s)) + (8-w)` — the low 3 bits
  // carry the reversed in-window offset, so MIN picks the smallest
  // hash and, on hash ties, the LARGEST position (the WinnowKernel
  // `<=` scan). A dropped position can never be re-selected (the
  // kernel's consecutive-dedup therefore equals global DISTINCT), so
  // `wfp` is exactly the selected fingerprint set.
  private def winnowCteSql(docFilter: String): String = {
    val n = ext.Cleaning.WinnowN
    val w = ext.Cleaning.WinnowW
    require(w <= 8, s"winnow oracle offset encoding assumes w <= 8, got $w")
    s"wdocs AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL$docFilter), " +
      s"wsp AS MATERIALIZED (SELECT doc_id, pos, array_to_string(t[pos:pos+${n - 1}], ' ') AS gram " +
      s"FROM (SELECT doc_id, unnest(generate_series(1, greatest(len(t)-${n - 1}, 0))) AS pos, t FROM wdocs)), " +
      "wsh AS MATERIALIZED (SELECT doc_id, pos, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h FROM wsp), " +
      "wnn AS (SELECT doc_id, COUNT(*) AS nsp FROM wsh GROUP BY doc_id), " +
      s"wws AS (SELECT doc_id, unnest(generate_series(1, greatest(nsp - $w, 0) + 1)) AS s FROM wnn), " +
      s"wsel AS (SELECT ws.doc_id, ws.s, MIN(sh.h * 8 + 7 - (sh.pos - ws.s)) AS mo " +
      s"FROM wws ws JOIN wsh sh ON sh.doc_id = ws.doc_id AND sh.pos BETWEEN ws.s AND ws.s + ${w - 1} " +
      "GROUP BY ws.doc_id, ws.s), " +
      "wfp AS MATERIALIZED (SELECT DISTINCT doc_id, s + 7 - (mo % 8) AS pos, mo // 8 AS h FROM wsel)"
  }

  // Smoothed-LM oracle generator (Witten-Bell / Kneser-Ney): the
  // per-level suffix-slice chain over the 5-gram type table — raw
  // occurrence totals (SUM) or left-extension type counts (COUNT) —
  // then per-level windows (context total cc, distinct-continuation
  // count tt), the interpolation fold bottom-up, and the shared
  // snap/join/rollup tail. Mirrors TextAnalysis.suffixChain/smoothLevel
  // join-for-join; the engine keys on xxhash64 slice hashes, the oracle
  // on gram STRINGS (collision would fail the hash-compare loudly).
  private def smoothedFivegramSql(raw: Boolean, p1Cte: String,
                                  levelExpr: String): String = {
    val a1 = if (raw) "SUM(c5)" else "COUNT(*)"
    val ak = if (raw) "SUM(c)" else "COUNT(*)"
    fivegramCteSql +
      s"t4 AS (SELECT w2, w3, w4, w5, $a1 AS c FROM c5 GROUP BY 1, 2, 3, 4), " +
      s"t3 AS (SELECT w3, w4, w5, $ak AS c FROM t4 GROUP BY 1, 2, 3), " +
      s"t2 AS (SELECT w4, w5, $ak AS c FROM t3 GROUP BY 1, 2), " +
      s"t1 AS (SELECT w5, $ak AS c FROM t2 GROUP BY 1), " +
      p1Cte +
      "x2 AS (SELECT w4, w5, c, SUM(c) OVER (PARTITION BY w4) AS cc, " +
      "COUNT(*) OVER (PARTITION BY w4) AS tt FROM t2), " +
      s"p2 AS (SELECT w4, w5, $levelExpr AS p FROM x2 JOIN p1 USING (w5)), " +
      "x3 AS (SELECT w3, w4, w5, c, SUM(c) OVER (PARTITION BY w3, w4) AS cc, " +
      "COUNT(*) OVER (PARTITION BY w3, w4) AS tt FROM t3), " +
      s"p3 AS (SELECT w3, w4, w5, $levelExpr AS p FROM x3 JOIN p2 USING (w4, w5)), " +
      "x4 AS (SELECT w2, w3, w4, w5, c, SUM(c) OVER (PARTITION BY w2, w3, w4) AS cc, " +
      "COUNT(*) OVER (PARTITION BY w2, w3, w4) AS tt FROM t4), " +
      s"p4 AS (SELECT w2, w3, w4, w5, $levelExpr AS p FROM x4 JOIN p3 USING (w3, w4, w5)), " +
      "x5 AS (SELECT w1, w2, w3, w4, w5, c5 AS c, " +
      "SUM(c5) OVER (PARTITION BY w1, w2, w3, w4) AS cc, " +
      "COUNT(*) OVER (PARTITION BY w1, w2, w3, w4) AS tt FROM c5), " +
      s"p5 AS (SELECT w1, w2, w3, w4, w5, $levelExpr AS p " +
      "FROM x5 JOIN p4 USING (w2, w3, w4, w5)), " +
      "st AS (SELECT w1, w2, w3, w4, w5, " +
      "CAST(floor(ln(p) * 1e6 + 0.5) AS BIGINT) AS mlp FROM p5), " +
      "sc AS (SELECT doc_id, mlp FROM gr JOIN st USING (w1, w2, w3, w4, w5)) " +
      "SELECT doc_id, COUNT(*) AS n_fivegrams, " +
      "floor(CAST(SUM(mlp) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS avg_logprob " +
      "FROM sc GROUP BY doc_id ORDER BY doc_id"
  }

  private def dsumSql(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE)"
  // All-decimal product sums — mirror graft.analytics.dsumDisc/dsumCharge
  // exactly (cast inputs first, multiply in decimal, exact at every step).
  // 2-dp decimal reduction before the double cast — see
  // graft.analytics.dsumCharge for why (1-ulp decimal→double divergence
  // on wide decimals at 1e9+ magnitudes). DuckDB's decimal→decimal CAST
  // TRUNCATES, so the oracle reduces with round() (HALF_UP, matching
  // Spark's decimal cast).
  // shared by q_orders_pivot and its unpivot inverse — one definition,
  // no copy to drift
  private val pivotCoreSql =
    "o_orderstatus AS status, " +
      "COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS urgent, " +
      "COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS high, " +
      "COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium, " +
      "COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS unspecified, " +
      "COUNT(*) FILTER (o_orderpriority = '5-LOW') AS low " +
      "FROM orders GROUP BY o_orderstatus"
  // shared by q_decontamination and q_bloom_decontamination (identical
  // results by construction — only the execution shape differs)
  private val deconSql =
    s"WITH docs AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(" +
      "range(1, greatest(len(t)-4, 1)+1), i -> array_to_string(t[i:i+4], ' '))) AS s FROM docs), " +
      "ev AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 20 = 7), " +
      "tr AS (SELECT doc_id, len(s) AS n_shingles, unnest(s) AS shingle FROM sh WHERE doc_id % 20 != 7) " +
      "SELECT tr.doc_id, CAST(tr.n_shingles AS BIGINT) AS n_shingles, " +
      "COUNT(*) AS n_contaminated, " +
      "round(COUNT(*) / CAST(tr.n_shingles AS DOUBLE), 6) AS contamination " +
      "FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id, tr.n_shingles " +
      "ORDER BY tr.doc_id"

  private def dsumDiscSql(p: String, r: String) =
    s"CAST(round(SUM(CAST($p AS DECIMAL(12,4)) * (1 - CAST($r AS DECIMAL(8,4)))), 2) AS DOUBLE)"
  private def dsumChargeSql(p: String, r: String, t: String) =
    s"CAST(round(SUM(CAST($p AS DECIMAL(12,4)) * (1 - CAST($r AS DECIMAL(8,4))) * " +
      s"(1 + CAST($t AS DECIMAL(8,4)))), 2) AS DOUBLE)"

  def oracleSql: Map[String, String] = Map(
    "q_domain_stats" ->
      ("SELECT source, COUNT(*) AS doc_count, CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
        "CAST(SUM(length(text)) AS BIGINT) AS total_text_chars " +
        "FROM documents GROUP BY source ORDER BY doc_count DESC, source"),
    "q_global_size_stats" ->
      ("SELECT COUNT(*) AS n_docs, CAST(MIN(length(text)) AS INTEGER) AS min_size, " +
        "CAST(MAX(length(text)) AS INTEGER) AS max_size, CAST(SUM(length(text)) AS BIGINT) AS total_size, " +
        "CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS avg_size FROM documents"),
    "q_topk_domains" ->
      ("SELECT source, COUNT(*) AS doc_count FROM documents GROUP BY source " +
        "ORDER BY doc_count DESC, source LIMIT 10"),
    "q_sample_docs" ->
      ("SELECT doc_id, source, lang, substr(text, 1, 100) || '...' AS preview " +
        "FROM documents ORDER BY doc_id LIMIT 5"),
    "q_filtered_projection" ->
      ("SELECT doc_id, source, lang, n_chars FROM documents " +
        "WHERE source IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL ORDER BY doc_id"),
    "q_length_histogram" ->
      ("SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bucket, COUNT(*) AS n_docs " +
        "FROM documents GROUP BY bucket ORDER BY bucket"),
    "q_json_extract_stats" ->
      ("SELECT event_type, COUNT(*) AS n_events, " +
        "CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k, " +
        "CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_event_type_rollup" ->
      ("SELECT event_type, COUNT(*) AS n_events, " + dsumSql("value") + " AS total_value " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_tumbling_windows" ->
      ("SELECT date_trunc('hour', ts) AS win_start, event_type, COUNT(*) AS n_events, " +
        dsumSql("value") + " AS total_value " +
        "FROM events GROUP BY win_start, event_type ORDER BY win_start, event_type"),
    "q_monthly_orders" ->
      ("SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n_orders, " +
        dsumSql("o_totalprice") + " AS total_price FROM orders GROUP BY month ORDER BY month"),
    "q1_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
        dsumSql("l_quantity") + " AS sum_qty, " +
        dsumSql("l_extendedprice") + " AS sum_base_price, " +
        dsumDiscSql("l_extendedprice", "l_discount") + " AS sum_disc_price, " +
        dsumChargeSql("l_extendedprice", "l_discount", "l_tax") + " AS sum_charge, " +
        dsumSql("l_quantity") + " / COUNT(l_quantity) AS avg_qty, " +
        dsumSql("l_extendedprice") + " / COUNT(l_extendedprice) AS avg_price, " +
        dsumSql("l_discount") + " / COUNT(l_discount) AS avg_disc, " +
        "COUNT(*) AS count_order FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q_distinct_counts" ->
      ("SELECT COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps, " +
        "COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem"),
    "q_orders_rollup" ->
      ("SELECT COALESCE(o_orderstatus, '(all)') AS status, " +
        "COALESCE(o_orderpriority, '(all)') AS priority, COUNT(*) AS n_orders, " +
        dsumSql("o_totalprice") + " AS total_price FROM orders " +
        "GROUP BY ROLLUP(o_orderstatus, o_orderpriority) ORDER BY status, priority"),
    "q_lineitem_cube" ->
      ("SELECT COALESCE(l_returnflag, '(all)') AS returnflag, " +
        "COALESCE(l_linestatus, '(all)') AS linestatus, COUNT(*) AS n_items, " +
        dsumSql("l_quantity") + " AS sum_qty FROM lineitem " +
        "GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY returnflag, linestatus"),
    "q_top_orders" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"),
    "q_join_nation_region" ->
      ("SELECT r_name, COUNT(*) AS n_nations FROM nation " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name"),
    "q_join_customer_orders" ->
      ("SELECT c_mktsegment, COUNT(*) AS n_orders, " + dsumSql("o_totalprice") + " AS total_price, " +
        "COUNT(DISTINCT c_custkey) AS n_customers FROM orders " +
        "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "q3_shipping" ->
      ("SELECT l_orderkey, o_orderdate, o_orderpriority, " +
        dsumDiscSql("l_extendedprice", "l_discount") + " AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority ORDER BY revenue DESC, l_orderkey LIMIT 10"),
    "q5_local_supplier" ->
      ("SELECT n_name, " + dsumDiscSql("l_extendedprice", "l_discount") + " AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY revenue DESC, n_name"),
    "q_semi_join" ->
      ("SELECT c_nationkey, COUNT(*) AS n_active_customers FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),
    "q_anti_join" ->
      ("SELECT c_nationkey, COUNT(*) AS n_inactive_customers FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderpriority = '1-URGENT') " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),
    "q_outer_join_histogram" ->
      ("WITH per_cust AS (SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer " +
        "LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey) " +
        "SELECT n_orders, COUNT(*) AS n_customers FROM per_cust GROUP BY n_orders ORDER BY n_orders"),
    "q_range_join" ->
      ("SELECT s_suppkey, COUNT(*) AS n_richer_customers FROM supplier " +
        "JOIN customer ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal " +
        "GROUP BY s_suppkey ORDER BY s_suppkey"),
    "q_asof_join" ->
      ("SELECT c.event_id, c.user_id, c.ts, " +
        "(SELECT MAX(e.ts) FROM events e WHERE e.user_id = c.user_id AND e.event_type = 'error' " +
        "AND (e.ts < c.ts OR (e.ts = c.ts AND e.event_id < c.event_id))) AS prev_error_ts " +
        "FROM events c WHERE c.event_type = 'purchase' ORDER BY c.event_id"),
    "q_asof_join_custom" ->
      // same semantics as q_asof_join, executed by the custom operator
      ("SELECT c.event_id, c.user_id, c.ts, " +
        "(SELECT MAX(e.ts) FROM events e WHERE e.user_id = c.user_id AND e.event_type = 'error' " +
        "AND e.ts <= c.ts) AS prev_error_ts " +
        "FROM events c WHERE c.event_type = 'purchase' ORDER BY c.event_id"),
    "q_window_top_customers" ->
      ("SELECT c_nationkey, rk, c_custkey, c_name, c_acctbal FROM (" +
        "SELECT c_nationkey, CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey " +
        "ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rk, c_custkey, c_name, c_acctbal " +
        "FROM customer) WHERE rk <= 3 ORDER BY c_nationkey, rk"),
    "q_window_running_total" ->
      ("SELECT o_custkey, o_orderkey, o_orderdate, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) " +
        "AS cum_spend FROM orders ORDER BY o_custkey, o_orderkey"),
    // event-type Markov transitions: lag window -> (prev, next) counts,
    // probability = exact-integer ratio snapped at 6 dp
    "q_event_transitions" ->
      (s"$transitionCteSql, " +
        "g AS (SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions " +
        "FROM t WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type) " +
        "SELECT prev_type, next_type, n_transitions, " +
        "floor(CAST(n_transitions AS DOUBLE) / (SUM(n_transitions) OVER (PARTITION BY prev_type)) * 1000000.0 + 0.5) / 1000000.0 AS p_transition " +
        "FROM g ORDER BY prev_type, next_type"),
    // frequent contiguous 2/3-step sequences: two leads over the shared
    // per-user order, pattern aggregate, micro-snapped user support
    "q_event_sequences" ->
      (s"WITH s AS (SELECT user_id, event_type AS a, " +
        "LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b, " +
        "LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c FROM events), " +
        "tu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM events), " +
        "p AS (SELECT user_id, 2 AS k, a || '>' || b AS pattern FROM s WHERE b IS NOT NULL " +
        "UNION ALL SELECT user_id, 3 AS k, a || '>' || b || '>' || c AS pattern FROM s WHERE c IS NOT NULL), " +
        "g AS (SELECT k, pattern, CAST(COUNT(*) AS BIGINT) AS n_occurrences, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM p GROUP BY k, pattern) " +
        "SELECT k, pattern, n_occurrences, n_users, " +
        "floor(CAST(n_users AS DOUBLE) / nu * 1000000.0 + 0.5) / 1000000.0 AS support " +
        "FROM g CROSS JOIN tu " +
        s"WHERE floor(CAST(n_users AS DOUBLE) / nu * 1000000.0 + 0.5) / 1000000.0 >= ${ExtraQueries.SeqMinSupport} " +
        "ORDER BY k, n_users DESC, pattern"),
    // data-quality expectations: one conditional-sum battery per table
    // + anti-join orphan counts, 6-dp pass rates
    "q_data_quality_audit" ->
      ("WITH li AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty, " +
        "CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price, " +
        "CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc FROM lineitem), " +
        "oo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_dup, " +
        "CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_total FROM orders), " +
        "dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null, " +
        "CAST(SUM(CASE WHEN COALESCE(length(text), 0) <> n_chars THEN 1 ELSE 0 END) AS BIGINT) AS v_nchars FROM documents), " +
        "ee AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN event_type IS NULL OR ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_key FROM events), " +
        "rlo AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS v), " +
        "roc AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM orders o WHERE NOT EXISTS " +
        "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS v), " +
        "rows_ AS (SELECT 'lineitem.quantity_in_1_50' AS rule, n AS n_checked, v_qty AS n_violations FROM li " +
        "UNION ALL SELECT 'lineitem.extendedprice_nonneg', n, v_price FROM li " +
        "UNION ALL SELECT 'lineitem.discount_in_0_1', n, v_disc FROM li " +
        "UNION ALL SELECT 'orders.orderkey_unique', n, v_dup FROM oo " +
        "UNION ALL SELECT 'orders.totalprice_nonneg', n, v_total FROM oo " +
        "UNION ALL SELECT 'documents.text_complete', n, v_null FROM dd " +
        "UNION ALL SELECT 'documents.nchars_matches_text', n, v_nchars FROM dd " +
        "UNION ALL SELECT 'events.type_and_ts_complete', n, v_key FROM ee " +
        "UNION ALL SELECT 'lineitem.orderkey_refs_orders', n, v FROM rlo " +
        "UNION ALL SELECT 'orders.custkey_refs_customer', n, v FROM roc) " +
        "SELECT rule, n_checked, n_violations, " +
        "CASE WHEN n_checked > 0 THEN floor(CAST(n_checked - n_violations AS DOUBLE) / n_checked * 1000000.0 + 0.5) / 1000000.0 ELSE 1.0 END AS pass_rate " +
        "FROM rows_ ORDER BY rule"),
    // conditional next-action entropy: micro-nat-snapped -p*ln(p) terms
    // summed as BIGINTs per source state
    "q_transition_entropy" ->
      (s"$transitionCteSql, " +
        "g AS (SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM t WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type), " +
        "pr AS (SELECT prev_type, n, CAST(n AS DOUBLE) / (SUM(n) OVER (PARTITION BY prev_type)) AS p FROM g), " +
        "tm AS (SELECT prev_type, n, CAST(floor(-(p * ln(p)) * 1000000.0 + 0.5) AS BIGINT) AS term FROM pr) " +
        "SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from, CAST(COUNT(*) AS BIGINT) AS n_branches, " +
        "CAST(SUM(term) AS BIGINT) AS entropy_micronat " +
        "FROM tm GROUP BY prev_type ORDER BY prev_type"),
    // ordered funnel: chained per-user MIN-after-previous-step frames —
    // mirrors the Spark step fold CTE for CTE (timestamps are exact
    // microsecond integers in both engines)
    "q_event_funnel" -> {
      val steps = ExtraQueries.FunnelSteps
      val rows = steps.zipWithIndex.map { case (s, i) =>
        s"SELECT ${i + 1} AS step, '$s' AS event_type, " +
          s"(SELECT CAST(COUNT(*) AS BIGINT) FROM fr${i + 1}) AS n_users"
      }.mkString(" UNION ALL ")
      s"WITH $funnelChainSql, fsteps AS ($rows) " +
        "SELECT step, event_type, n_users, " +
        "CASE WHEN first_value(n_users) OVER wt > 0 THEN " +
        "floor(CAST(n_users AS DOUBLE) / first_value(n_users) OVER wt * 1000000.0 + 0.5) / 1000000.0 " +
        "ELSE 0.0 END AS conversion_from_top, " +
        "CASE WHEN COALESCE(lag(n_users, 1) OVER wt, n_users) > 0 THEN " +
        "floor(CAST(n_users AS DOUBLE) / COALESCE(lag(n_users, 1) OVER wt, n_users) * 1000000.0 + 0.5) / 1000000.0 " +
        "ELSE 0.0 END AS conversion_from_prev " +
        "FROM fsteps WINDOW wt AS (ORDER BY step) ORDER BY step"
    },
    // funnel latency: exact microsecond gaps, lower median by rank
    // (floor((n+1)/2) in BOTH engines — DuckDB's double→int cast
    // rounds, so the floor is explicit), mean micro-snapped
    "q_funnel_latency" -> {
      val last = s"fr${ExtraQueries.FunnelSteps.size}"
      s"WITH $funnelChainSql, " +
        s"lt AS (SELECT f1.user_id, epoch_us(fl.t) - epoch_us(f1.t) AS latency_micros " +
        s"FROM fr1 f1 JOIN $last fl ON f1.user_id = fl.user_id), " +
        "lr AS MATERIALIZED (SELECT latency_micros, " +
        "ROW_NUMBER() OVER (ORDER BY latency_micros, user_id) AS rk FROM lt), " +
        "la AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_converted, " +
        "MIN(latency_micros) AS min_micros, MAX(latency_micros) AS max_micros, " +
        "floor(CAST(SUM(latency_micros) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS mean_seconds " +
        "FROM lr) " +
        "SELECT n_converted, min_micros, max_micros, " +
        "(SELECT latency_micros FROM lr CROSS JOIN la " +
        "WHERE rk = CAST(floor((n_converted + 1) / 2.0) AS INT)) AS median_micros, " +
        "mean_seconds FROM la"
    },
    // query-likelihood with Dirichlet smoothing: candidate x term grid
    // (zero-tf terms still contribute smoothing mass), micro-snapped
    // log contributions — expression mirrored term for term
    "q_query_likelihood_topk" -> {
      val probe = ext.Search.ProbeTerms.map(t => s"'$t'").mkString(", ")
      val mu = ext.Search.Mu
      s"WITH sp AS MATERIALIZED (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, " +
        s"ANY_VALUE(dl) AS dl FROM (SELECT doc_id, len($toks) AS dl, unnest($toks) AS term " +
        s"FROM documents WHERE text IS NOT NULL) WHERE term IN ($probe) GROUP BY doc_id, term), " +
        s"qc AS (SELECT CAST(SUM(len($toks)) AS BIGINT) AS c_total FROM documents WHERE text IS NOT NULL), " +
        "qcf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf_t FROM sp GROUP BY term), " +
        "qcand AS (SELECT DISTINCT doc_id, dl FROM sp), " +
        "qsc AS (SELECT g.doc_id, CAST(SUM(CAST(floor(" +
        s"ln((COALESCE(sp.tf, 0) + $mu * g.cf_t / CAST(g.c_total AS DOUBLE)) / (g.dl + $mu)) " +
        "* 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score_micro " +
        "FROM (SELECT qcand.doc_id, qcand.dl, qcf.term, qcf.cf_t, qc.c_total " +
        "FROM qcand CROSS JOIN qcf CROSS JOIN qc) g " +
        "LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.term = sp.term " +
        "GROUP BY g.doc_id) " +
        "SELECT doc_id, score_micro, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank " +
        "FROM qsc ORDER BY score_micro DESC, doc_id LIMIT 10"
    },
    // exact phrase search: adjacent-token pair filter, one narrow pass
    "q_phrase_hits" -> {
      val phrase = ext.Search.ProbePhrase.mkString(" ")
      s"SELECT doc_id, CAST(len(list_filter(list_transform(range(1, len($toks)), " +
        s"i -> $toks[i] || ' ' || $toks[i+1]), x -> x = '$phrase')) AS BIGINT) AS n_occurrences " +
        "FROM documents WHERE text IS NOT NULL " +
        s"AND len(list_filter(list_transform(range(1, len($toks)), " +
        s"i -> $toks[i] || ' ' || $toks[i+1]), x -> x = '$phrase')) > 0 " +
        "ORDER BY doc_id"
    },
    // snippet serving: first char-level hit + replace-shrinkage count +
    // clamped context window — pure scalar string ops in both engines
    "q_search_snippets" -> {
      val phrase = ext.Search.ProbePhrase.mkString(" ")
      val pl = phrase.length
      val pad = ext.Search.SnippetPad
      s"WITH sh AS (SELECT doc_id, text, CAST(strpos(lower(text), '$phrase') AS BIGINT) AS pos " +
        s"FROM documents WHERE text IS NOT NULL AND strpos(lower(text), '$phrase') > 0) " +
        "SELECT doc_id, pos, " +
        s"CAST((length(text) - length(replace(lower(text), '$phrase', ''))) / $pl AS BIGINT) AS n_hits, " +
        s"substring(text, CAST(greatest(1, pos - $pad) AS INT), " +
        s"CAST(pos + ${pl + pad - 1} - greatest(1, pos - $pad) + 1 AS INT)) AS snippet " +
        "FROM sh ORDER BY doc_id"
    },
    // reciprocity: one swapped semi-join over the distinct edge table
    "q_graph_reciprocity" ->
      (s"$linkGraphCteSql, " +
        "rc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reciprocal FROM e " +
        "WHERE EXISTS (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)), " +
        "ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e) " +
        "SELECT n_edges, n_reciprocal, " +
        "CASE WHEN n_edges > 0 THEN floor(1000000.0 * n_reciprocal / n_edges + 0.5) / 1000000.0 " +
        "ELSE 0.0 END AS reciprocity FROM ne CROSS JOIN rc"),
    // RFM: per-event values micro-snapped before the spend sum, exact
    // NTILE quintiles with a user_id tiebreak
    "q_rfm_segments" ->
      ("WITH ra AS (SELECT CAST(MAX(ts) AS DATE) AS a FROM events), " +
        "ru AS (SELECT user_id, CAST(date_diff('day', CAST(MAX(ts) AS DATE), a) AS BIGINT) AS recency_days, " +
        "CAST(COUNT(*) AS BIGINT) AS frequency, " +
        "CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_micro " +
        "FROM events CROSS JOIN ra WHERE event_type = 'purchase' GROUP BY user_id, a) " +
        "SELECT user_id, recency_days, frequency, monetary_micro, " +
        "CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS BIGINT) AS r_score, " +
        "CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f_score, " +
        "CAST(NTILE(5) OVER (ORDER BY monetary_micro, user_id) AS BIGINT) AS m_score, " +
        "CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS VARCHAR) || " +
        "CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS VARCHAR) || " +
        "CAST(NTILE(5) OVER (ORDER BY monetary_micro, user_id) AS VARCHAR) AS segment " +
        "FROM ru ORDER BY user_id"),
    // market basket: order-keyed pair join (per-basket fan-out),
    // exact counts, 6-dp exact-ratio confidence/lift, keyed tiebreaks
    "q_copurchase_rules" ->
      ("WITH bl AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "bn AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM bl), " +
        "bc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_p FROM bl GROUP BY p), " +
        "bp AS (SELECT a.p AS part_a, b.p AS part_b, CAST(COUNT(*) AS BIGINT) AS support " +
        "FROM bl a JOIN bl b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2) " +
        "SELECT part_a, part_b, support, ca.n_p AS n_a, cb.n_p AS n_b, " +
        "floor(CAST(support AS DOUBLE) / ca.n_p * 1000000.0 + 0.5) / 1000000.0 AS confidence_ab, " +
        "floor(CAST(n_orders AS DOUBLE) * support / (ca.n_p * cb.n_p) * 1000000.0 + 0.5) / 1000000.0 AS lift " +
        "FROM bp JOIN bc ca ON bp.part_a = ca.p JOIN bc cb ON bp.part_b = cb.p " +
        "CROSS JOIN bn " +
        "ORDER BY lift DESC, support DESC, part_a, part_b LIMIT 20"),
    // activity anomalies: integer median/MAD per user, lower medians
    // by explicit-floor rank, threshold 3*max(MAD,1) — zero FP
    "q_activity_anomalies" ->
      ("WITH ad AS (SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events " +
        "FROM events GROUP BY user_id, day), " +
        "amed AS (SELECT user_id, n_events AS med FROM (" +
        "SELECT user_id, n_events, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events, day) AS rk, " +
        "COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM ad) " +
        "WHERE rk = CAST(floor((cnt + 1) / 2.0) AS INT)), " +
        "adev AS (SELECT ad.user_id, ad.day, ad.n_events, amed.med, " +
        "ABS(ad.n_events - amed.med) AS dev FROM ad JOIN amed ON ad.user_id = amed.user_id), " +
        "amad AS (SELECT user_id, dev AS mad FROM (" +
        "SELECT user_id, dev, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dev, day) AS rk, " +
        "COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM adev) " +
        "WHERE rk = CAST(floor((cnt + 1) / 2.0) AS INT)) " +
        "SELECT adev.user_id, CAST(adev.day AS VARCHAR) AS day, adev.n_events, adev.med, amad.mad " +
        "FROM adev JOIN amad ON adev.user_id = amad.user_id " +
        "WHERE adev.dev > 3 * GREATEST(amad.mad, 1) " +
        "ORDER BY adev.user_id, adev.day"),
    // weekly cohort retention triangle: Monday-truncated weeks in both
    // engines, exact day-difference offsets, 6-dp exact-ratio snaps
    "q_cohort_retention" ->
      ("WITH co AS (SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week " +
        "FROM events GROUP BY user_id), " +
        "ac AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events), " +
        "sz AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM co GROUP BY cohort_week), " +
        "re AS (SELECT co.cohort_week, CAST((ac.week - co.cohort_week) / 7 AS BIGINT) AS week_offset, " +
        "CAST(COUNT(*) AS BIGINT) AS n_active " +
        "FROM ac JOIN co ON ac.user_id = co.user_id GROUP BY co.cohort_week, week_offset) " +
        "SELECT CAST(re.cohort_week AS VARCHAR) AS cohort_week, week_offset, n_active, n_cohort, " +
        "floor(CAST(n_active AS DOUBLE) / n_cohort * 1000000.0 + 0.5) / 1000000.0 AS retention " +
        "FROM re JOIN sz ON re.cohort_week = sz.cohort_week " +
        "ORDER BY cohort_week, week_offset"),
    "q_window_lag" ->
      ("SELECT event_id, user_id, ts, event_type, " +
        "LAG(event_id, 1) OVER w AS prev_event_id, LAG(ts, 1) OVER w AS prev_ts " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) ORDER BY event_id"),
    "q_window_rank" ->
      ("SELECT s_suppkey, s_nationkey, s_acctbal, " +
        "CAST(RANK() OVER w AS INTEGER) AS rk, CAST(DENSE_RANK() OVER w AS INTEGER) AS drk " +
        "FROM supplier WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) " +
        "ORDER BY s_suppkey"),
    "q_set_union" ->
      ("SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer UNION " +
        "SELECT CAST(s_nationkey AS BIGINT) FROM supplier ORDER BY nationkey"),
    "q_set_intersect" ->
      ("SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer INTERSECT " +
        "SELECT CAST(s_nationkey AS BIGINT) FROM supplier ORDER BY nationkey"),
    "q_set_except" ->
      ("SELECT DISTINCT o_orderkey AS orderkey FROM orders EXCEPT " +
        "SELECT DISTINCT l_orderkey FROM lineitem ORDER BY orderkey"),
    "q_extract_metadata" ->
      // Mirrors graft.extract.TextExtract exactly: same regexes, same
      // priority logic, same null semantics (DuckDB list lambdas express
      // the T5/T6 line scans directly).
      ("WITH x AS (SELECT doc_id, text, " +
        "regexp_extract_all(text, '\\d{1,4}/(?:\\d{4}/)?[A-ZĐ]{1,5}(?:-[A-Z0-9]{1,5})*') AS codes, " +
        "string_split(text, chr(10)) AS lines FROM documents), " +
        "y AS (SELECT *, list_filter(lines, l -> contains(l, 'Số:') AND contains(l, 'ngày'))[1] AS cand FROM x) " +
        "SELECT doc_id, " +
        "CASE WHEN len(codes) > 0 THEN codes[1] END AS main_code, " +
        // COALESCE: DuckDB's array_to_string of an empty list is NULL,
        // Spark's array_join of an empty array is ''
        "COALESCE(array_to_string(list_filter(codes[2:], c -> c <> codes[1]), ';'), '') AS related_codes, " +
        "CASE WHEN contains(text, '|') THEN trim(string_split(text, '|')[2]) END AS agency, " +
        "CASE WHEN cand IS NOT NULL THEN trim(list_filter(string_split(cand, '|'), p -> contains(p, 'ngày'))[1]) " +
        "ELSE trim(list_filter(lines, l -> regexp_matches(l, 'ngày\\s+\\d{1,2}\\s+tháng'))[1]) END AS issue_date, " +
        "trim(list_filter(list_reverse(lines), l -> regexp_matches(l, '\\b(KT\\.|TL\\.|THỨ TRƯỞNG|BỘ TRƯỞNG)\\b'))[1]) AS signer " +
        "FROM y ORDER BY doc_id"),
    "q_normalized_preview" ->
      ("SELECT doc_id, substr(trim(regexp_replace(text, '\\s+', ' ', 'g')), 1, 60) AS norm_prefix, " +
        "regexp_extract(text, '^(\\w+)', 1) AS first_token FROM documents ORDER BY doc_id"),
    "q_sql_over_view" ->
      ("SELECT source, COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS total_chars " +
        "FROM documents GROUP BY source ORDER BY n_docs DESC, source"),
    "q_log_line_parse" ->
      ("WITH l AS (SELECT printf('[batch %d] domain=%s count=%d', event_id % 50, event_type, " +
        "user_id % 10 + 1) AS line FROM events) " +
        "SELECT regexp_extract(line, 'domain=(\\w+)', 1) AS domain, COUNT(*) AS n_lines, " +
        "CAST(SUM(CAST(regexp_extract(line, 'count=(\\d+)', 1) AS BIGINT)) AS BIGINT) AS total_count, " +
        "COUNT(DISTINCT regexp_extract(line, '\\[batch (\\d+)\\]', 1)) AS n_batches " +
        "FROM l GROUP BY domain ORDER BY domain"),
    // PII scrub audit over synthesized lines (no natural PII in the
    // fixture): counts via regexp_extract_all lengths; redaction via a
    // 'g'-flagged regexp_replace chain (DuckDB replaces first-match by
    // default, Spark replaces all)
    "q_pii_redaction" ->
      ("WITH lines AS (SELECT event_type, " +
        "printf('user u%d (u%d@example.com, alt u%d@mail.example.org) tel 0%02d-555-%04d ref %d', " +
        "user_id, user_id, user_id, user_id % 100, event_id % 10000, event_id) AS text FROM events " +
        "WHERE user_id IS NOT NULL AND event_id IS NOT NULL), " +
        "r AS (SELECT event_type, " +
        "regexp_replace(regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'), " +
        "'0\\d{2}[- .]\\d{3}[- .]\\d{4}', '<PHONE>', 'g') AS clean FROM lines) " +
        "SELECT event_type, COUNT(*) AS n_lines, " +
        "CAST(SUM((len(clean) - len(replace(clean, '<EMAIL>', ''))) / 7) AS BIGINT) AS emails_found, " +
        "CAST(SUM((len(clean) - len(replace(clean, '<PHONE>', ''))) / 7) AS BIGINT) AS phones_found, " +
        "CAST(SUM(len(regexp_extract_all(clean, " +
        "'(?:[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,})|(?:0\\d{2}[- .]\\d{3}[- .]\\d{4})'))) AS BIGINT) AS residual " +
        "FROM r GROUP BY event_type ORDER BY event_type"),
    "q_offset_slice" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "ORDER BY o_orderkey LIMIT 50 OFFSET 1000"),
    "q_html_to_markdown" ->
      // collapse BEFORE trim (DuckDB trim strips only spaces; leading \t/\n
      // must collapse to a space first, mirroring cleanText's Python strip)
      ("SELECT doc_id, '## DOC ' || doc_id || " +
        "CASE WHEN trim(regexp_replace(text, '\\s+', ' ', 'g')) = '' THEN '' " +
        "ELSE chr(10) || chr(10) || trim(regexp_replace(text, '\\s+', ' ', 'g')) END AS md " +
        "FROM documents ORDER BY doc_id"),
    "q_vn_dates" ->
      // independent derivation: the oracle recomputes the expected date from
      // o_orderdate instead of re-parsing the constructed string
      ("SELECT o_orderkey, " +
        "'Số: ' || o_orderkey || '/QĐ-BTC  Hà Nội, ngày ' || day(o_orderdate) || " +
        "' tháng ' || month(o_orderdate) || ' năm ' || year(o_orderdate) AS clean_text, " +
        "make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), " +
        "CAST(day(o_orderdate) AS INT)) AS issue_date " +
        "FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey"),
    "q_window_distribution" ->
      ("SELECT c_nationkey, c_custkey, c_acctbal, " +
        "floor(PERCENT_RANK() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank, " +
        "floor(CUME_DIST() OVER w * 1000000 + 0.5) / 1000000 AS cume, " +
        "CAST(NTILE(4) OVER w AS INTEGER) AS quartile " +
        "FROM customer WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) " +
        "ORDER BY c_nationkey, c_custkey"),
    "q_orders_pivot" ->
      (s"SELECT $pivotCoreSql ORDER BY status"),
    "q_orders_unpivot" ->
      (s"WITH p AS (SELECT $pivotCoreSql) " +
        "SELECT status, priority, n_orders FROM (" +
        "SELECT status, 'urgent' AS priority, urgent AS n_orders FROM p UNION ALL " +
        "SELECT status, 'high', high FROM p UNION ALL " +
        "SELECT status, 'medium', medium FROM p UNION ALL " +
        "SELECT status, 'unspecified', unspecified FROM p UNION ALL " +
        "SELECT status, 'low', low FROM p) ORDER BY status, priority"),
    "q_ship_latency" ->
      ("SELECT o_orderpriority, COUNT(*) AS n_items, " +
        "CAST(MIN(datediff('day', o_orderdate, l_shipdate)) AS INTEGER) AS min_days, " +
        "CAST(MAX(datediff('day', o_orderdate, l_shipdate)) AS INTEGER) AS max_days, " +
        "floor(AVG(datediff('day', o_orderdate, l_shipdate)) * 1000000 + 0.5) / 1000000 AS avg_days " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_session_stats" ->
      ("WITH o AS (SELECT user_id, ts, " +
        "CASE WHEN LAG(ts) OVER w IS NULL OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE " +
        "THEN 1 ELSE 0 END AS new_s FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "s AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM o), " +
        "g AS (SELECT user_id, sid, COUNT(*) AS n FROM s GROUP BY user_id, sid) " +
        "SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events, " +
        "CAST(MAX(n) AS BIGINT) AS max_session_events FROM g GROUP BY user_id ORDER BY user_id"),
    "q_above_avg_orders" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders o " +
        "WHERE CAST(o_totalprice AS DECIMAL(18,4)) * " +
        "(SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey) " +
        "> 1.5 * (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4))) " +
        "FROM orders o2 WHERE o2.o_custkey = o.o_custkey) " +
        "ORDER BY o_orderkey"),
    "q_min_price_per_part" ->
      ("SELECT p.p_partkey, p.p_name, s.s_name, n.n_name AS nation, " +
        "l.l_extendedprice AS min_price " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey " +
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
        "JOIN nation n ON s.s_nationkey = n.n_nationkey " +
        "WHERE p.p_size <= 5 AND l.l_extendedprice = " +
        "(SELECT MIN(l2.l_extendedprice) FROM lineitem l2 " +
        "WHERE l2.l_partkey = l.l_partkey) " +
        "ORDER BY p.p_partkey, s.s_name"),
    "q_large_qty_orders" ->
      ("SELECT c.c_name, o.o_orderkey, o.o_totalprice, " +
        "CAST(SUM(l.l_quantity) AS BIGINT) AS total_qty " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem " +
        "GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) " +
        "GROUP BY c.c_name, o.o_orderkey, o.o_totalprice " +
        "ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100"),
    "q_late_priority_counts" ->
      ("SELECT o_orderpriority, COUNT(*) AS order_count FROM orders o " +
        "WHERE EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_grouping_sets" ->
      ("SELECT COALESCE(o_orderstatus, '(all)') AS status, " +
        "COALESCE(o_orderpriority, '(all)') AS priority, COUNT(*) AS n_orders " +
        "FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), " +
        "(o_orderpriority), ()) ORDER BY status, priority"),
    "q_percentiles" ->
      ("SELECT l_returnflag, " +
        "round(quantile_cont(l_quantity, 0.5), 6) AS median_qty, " +
        "round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty, " +
        "round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_wholetext_corpus" ->
      ("WITH f AS (SELECT filename AS path, content " +
        s"FROM read_text('$corpusDir/*/*.txt')) " +
        "SELECT regexp_extract(path, '([^/]+)/[^/]+$', 1) AS domain, " +
        "regexp_extract(path, '([^/]+)$', 1) AS filename, " +
        "CAST(length(content) AS BIGINT) AS n_chars FROM f ORDER BY filename"),
    "q_token_stats" ->
      (s"SELECT doc_id, CAST(len($toks) AS INTEGER) AS n_tokens, " +
        s"CAST(len(list_distinct($toks)) AS INTEGER) AS n_uniq_tokens, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|\\d|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpeish_tokens, " +
        "CAST(length(text) AS INTEGER) AS n_chars_actual FROM documents ORDER BY doc_id"),
    "q_quality_scores" ->
      (s"SELECT doc_id, CAST(len($toks) AS INTEGER) AS n_tokens, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stopword_ratio, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_ratio, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_token_len FROM documents ORDER BY doc_id"),
    "q_language_id" ->
      (s"WITH s AS (SELECT doc_id, lang AS lang_actual, " +
        s"len(list_filter($toks, x -> x IN ('der','die','und','ist'))) AS sde, " +
        s"len(list_filter($toks, x -> x IN ('the','and','of','is'))) AS sen, " +
        s"len(list_filter($toks, x -> x IN ('el','la','de','que'))) AS ses, " +
        s"len(list_filter($toks, x -> x IN ('le','la','et','est'))) AS sfr, " +
        s"len(list_filter($toks, x -> x IN ('的','是','在','了'))) AS szh FROM documents) " +
        "SELECT doc_id, lang_actual, CASE " +
        "WHEN sde >= greatest(sen, ses, sfr, szh) THEN 'de' " +
        "WHEN sen >= greatest(ses, sfr, szh) THEN 'en' " +
        "WHEN ses >= greatest(sfr, szh) THEN 'es' " +
        "WHEN sfr >= szh THEN 'fr' ELSE 'zh' END AS lang_pred FROM s ORDER BY doc_id"),
    // deterministic content-hash split: md5-hex buckets compared against
    // hex thresholds — engine-portable (md5 of UTF-8 text, lowercase hex,
    // codepoint string comparison in both engines)
    // Gopher repetition signals: bigram occurrence fractions per doc;
    // the unnest(list_transform(range ...)) enumeration mirrors the
    // kernel's adjacent-pair walk (1-indexed inclusive list slices)
    "q_repetition_stats" ->
      (s"WITH t AS (SELECT doc_id, $toks AS t2 FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t2)), " +
        "i -> t2[i] || ' ' || t2[i+1])) AS bigram FROM t), " +
        "c AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, SUM(cnt) AS nb, MAX(cnt) AS top_cnt, " +
        "SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt FROM c GROUP BY 1) " +
        "SELECT d.doc_id, CAST(COALESCE(a.nb, 0) AS BIGINT) AS n_bigrams, " +
        "COALESCE(round(a.top_cnt / CAST(a.nb AS DOUBLE), 6), 0.0) AS top_bigram_frac, " +
        "COALESCE(round(a.dup_cnt / CAST(a.nb AS DOUBLE), 6), 0.0) AS dup_bigram_frac, " +
        "COALESCE(round(a.top_cnt / CAST(a.nb AS DOUBLE), 6), 0.0) <= 0.20 AS keep " +
        "FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"),
    // domain-weighted resampling: same md5-bucket-vs-hex-threshold trick
    // as q_split_counts, with a per-source weight from the name suffix
    "q_resample_counts" ->
      ("WITH d AS (SELECT source, " +
        "(CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) % 4) + 1 AS w, text FROM documents) " +
        "SELECT source, CAST(w AS DOUBLE) / 4 AS weight, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN text IS NOT NULL AND substring(md5(text),1,2) < " +
        "(CASE w WHEN 1 THEN '40' WHEN 2 THEN '80' WHEN 3 THEN 'c0' ELSE 'zz' END) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM d GROUP BY source, w ORDER BY source"),
    "q_split_counts" ->
      ("WITH s AS (SELECT source, CASE " +
        "WHEN substring(md5(text),1,2) < 'e6' THEN 'train' " +
        "WHEN substring(md5(text),1,2) < 'f3' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents) " +
        "SELECT source, split, COUNT(*) AS n_docs FROM s " +
        "GROUP BY source, split ORDER BY source, split"),
    // epoch shuffle: shard = first hex char of md5('1:' || text), pos =
    // rank of the same hash within the shard (doc_id tiebreak is
    // unreachable short of an md5 collision but keeps the window total)
    "q_epoch_order" ->
      ("WITH h AS (SELECT doc_id, md5('1:' || text) AS h FROM documents " +
        "WHERE text IS NOT NULL) " +
        "SELECT doc_id, substring(h, 1, 1) AS shard, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY substring(h, 1, 1) " +
        "ORDER BY h, doc_id) AS BIGINT) AS pos " +
        "FROM h ORDER BY shard, pos"),
    "q_shard_stats" ->
      ("SELECT substring(md5('1:' || text), 1, 1) AS shard, " +
        "COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS n_chars " +
        "FROM documents WHERE text IS NOT NULL " +
        "GROUP BY 1 ORDER BY shard"),
    // shuffle mix: adjacent same-source fraction per shard (LAG over
    // the epoch order) vs the no-replacement baseline sum ns(ns-1)/n(n-1)
    "q_shuffle_mix" ->
      ("WITH h AS (SELECT doc_id, source, md5('1:' || text) AS h FROM documents " +
        "WHERE text IS NOT NULL), " +
        "o AS (SELECT doc_id, source, substring(h, 1, 1) AS shard, " +
        "ROW_NUMBER() OVER (PARTITION BY substring(h, 1, 1) ORDER BY h, doc_id) AS pos FROM h), " +
        "adj AS (SELECT shard, COUNT(*) AS n_pairs, " +
        "SUM(CASE WHEN source = prev_src THEN 1 ELSE 0 END) AS n_same FROM " +
        "(SELECT shard, source, LAG(source) OVER (PARTITION BY shard ORDER BY pos) AS prev_src FROM o) " +
        "WHERE prev_src IS NOT NULL GROUP BY shard), " +
        "base AS (SELECT shard, CAST(SUM(ns) AS BIGINT) AS n_docs, " +
        "SUM(ns * (ns - 1)) AS pairs_same FROM " +
        "(SELECT shard, source, COUNT(*) AS ns FROM o GROUP BY shard, source) GROUP BY shard) " +
        "SELECT shard, n_docs, CAST(n_pairs AS BIGINT) AS n_pairs, " +
        "round(CAST(n_same AS DOUBLE) / n_pairs, 6) AS same_frac, " +
        "round(CAST(pairs_same AS DOUBLE) / (n_docs * (n_docs - 1)), 6) AS expected_frac " +
        "FROM adj JOIN base USING (shard) ORDER BY shard"),
    // repeat schedule: weight/token CTEs mirror q_mixture_plan; budget is
    // 2x total corpus tokens; the effective-token law D' = U + U*R**
    // (1 - e^(-R/R*)) with R* = 15 snaps exp to integer nano-units
    // BEFORE the sum (the q_mixture_temperature pow design), and the
    // repeat branch only evaluates where target > n_tokens, so every
    // other term is an exact-integer-input IEEE expression
    "q_repeat_schedule" ->
      ("WITH s AS (SELECT source, " +
        "CAST((CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) % 4) + 1 AS DOUBLE) / 4 AS weight, " +
        s"coalesce(len($toks), 0) AS n_toks FROM documents), " +
        "p AS (SELECT source, weight, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_toks) AS BIGINT) AS n_tokens FROM s GROUP BY source, weight), " +
        "t AS (SELECT SUM(weight) AS tw, CAST(SUM(n_tokens) AS DOUBLE) * 2 AS budget FROM p), " +
        "g AS (SELECT source, weight, n_docs, n_tokens, " +
        "CAST(floor(budget * weight / tw + 0.5) AS BIGINT) AS target_tokens " +
        "FROM p CROSS JOIN t), " +
        "e AS (SELECT source, weight, n_docs, n_tokens, target_tokens, " +
        "CASE WHEN n_tokens > 0 THEN " +
        "floor(CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 " +
        "ELSE 0.0 END AS epochs, " +
        "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) " +
        "WHEN target_tokens <= n_tokens THEN target_tokens " +
        "ELSE CAST(floor(CAST(n_tokens AS DOUBLE) + CAST(n_tokens AS DOUBLE) * 15.0 * " +
        "(1e9 - CAST(CAST(floor(exp(-(CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) - 1.0) / 15.0) " +
        "* 1e9 + 0.5) AS BIGINT) AS DOUBLE)) / 1e9 + 0.5) AS BIGINT) END AS eff_tokens FROM g) " +
        "SELECT source, weight, n_docs, n_tokens, target_tokens, epochs, eff_tokens, " +
        "CASE WHEN target_tokens > 0 THEN " +
        "floor(CAST(eff_tokens AS DOUBLE) / CAST(target_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 " +
        "ELSE 0.0 END AS value_frac FROM e ORDER BY source"),
    // truncation loss: token counts mirror the whitespace tokenizer;
    // all stats exact BIGINT, fractions floor(x*1e6+0.5)/1e6 on both
    // engines (integer-input IEEE divisions — no rounding-mode trap)
    "q_truncation_loss" ->
      (s"WITH s AS (SELECT source, coalesce(len($toks), 0) AS n_toks FROM documents), " +
        "p AS (SELECT source, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN n_toks > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_over, " +
        "CAST(SUM(n_toks) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(least(n_toks, 512)) AS BIGINT) AS kept_tokens " +
        "FROM s GROUP BY source) " +
        "SELECT source, n_docs, n_over, " +
        "floor(CAST(n_over AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e6 + 0.5) / 1e6 AS over_frac, " +
        "n_tokens, kept_tokens, " +
        "CASE WHEN n_tokens > 0 THEN " +
        "floor((1.0 - CAST(kept_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6 " +
        "ELSE 0.0 END AS loss_frac FROM p ORDER BY source"),
    // decontamination: distinct 5-gram overlap between the eval slice
    // (doc_id % 20 = 7) and the training remainder. The list_transform
    // range mirrors Dedup.shinglesOfTokens exactly: greatest(len-4, 1)
    // start positions (short docs yield one clamped whole-doc shingle),
    // inclusive 5-element slices
    "q_decontamination" -> deconSql,
    // the bloom-prefiltered path computes the SAME answer by contract
    // (sketches admit no false negatives; the exact join kills false
    // positives), so it is held to the same oracle
    "q_bloom_decontamination" -> deconSql,
    "q_bloom_semi_join" ->
      ("SELECT p_partkey, p_name FROM part WHERE EXISTS " +
        "(SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 49) " +
        "ORDER BY p_partkey"),
    "q_bloom_anti_join" ->
      ("SELECT p_partkey, p_name FROM part WHERE NOT EXISTS " +
        "(SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 49) " +
        "ORDER BY p_partkey"),
    // mixture plan: weight fragment mirrors q_resample_counts; token
    // counts mirror the whitespace tokenizer; target/rate arithmetic is
    // term-for-term the Spark expression — floor(x+0.5) / floor(x*1e6
    // +0.5) on both sides, NOT round(): integer-ratio inputs can tie
    // exactly where Spark's HALF_UP and DuckDB's half-even disagree
    "q_mixture_plan" ->
      ("WITH s AS (SELECT source, " +
        "CAST((CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) % 4) + 1 AS DOUBLE) / 4 AS weight, " +
        s"coalesce(len($toks), 0) AS n_toks FROM documents), " +
        "p AS (SELECT source, weight, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_toks) AS BIGINT) AS n_tokens FROM s GROUP BY source, weight), " +
        "t AS (SELECT SUM(weight) AS tw FROM p) " +
        "SELECT source, weight, n_docs, n_tokens, " +
        "CAST(floor(500000.0 * weight / tw + 0.5) AS BIGINT) AS target_tokens, " +
        "CASE WHEN n_tokens > 0 THEN " +
        "floor(least(1.0, CAST(CAST(floor(500000.0 * weight / tw + 0.5) AS BIGINT) AS DOUBLE) " +
        "/ CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS sample_rate " +
        "FROM p CROSS JOIN t ORDER BY source"),
    // stratified sample: the bounded-heap aggregator computes exactly
    // the ROW_NUMBER-window semantics (first k per source by md5, ties
    // impossible short of an md5 collision, id tiebreak anyway)
    "q_stratified_sample" ->
      ("WITH r AS (SELECT source, doc_id, ROW_NUMBER() OVER " +
        "(PARTITION BY source ORDER BY md5(text), doc_id) AS rk " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT source, CAST(rk AS INT) AS rk, doc_id FROM r " +
        "WHERE rk <= 20 ORDER BY source, rk"),
    // unigram LM scoring: per-token ln snapped to integer micro-nats
    // (floor(x*1e6+0.5)) BEFORE the per-doc sum, so the aggregation is
    // exact BIGINT arithmetic — no float-summation-order divergence;
    // the final division result snaps the same way
    "q_unigram_logprob" ->
      (s"WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents), " +
        "cnt AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term), " +
        "tot AS (SELECT SUM(cnt) AS tot FROM cnt), " +
        "sc AS (SELECT doc_id, CAST(floor(ln(CAST(cnt AS DOUBLE) / tot) * 1e6 + 0.5) AS BIGINT) AS mlp " +
        "FROM toks JOIN cnt USING (term) CROSS JOIN tot) " +
        "SELECT doc_id, COUNT(*) AS n_tokens, " +
        "floor(CAST(SUM(mlp) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS avg_logprob " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    // per-source KL drift: contributions snap to integer nano-units
    // before the per-source sum (exact BIGINT aggregation — the
    // q_unigram_logprob design at a finer scale for signed tiny terms);
    // p_s/p_c fragments written identically on both sides
    "q_source_kl" ->
      (s"WITH t AS (SELECT source, unnest($toks) AS term FROM documents), " +
        "sc AS (SELECT source, term, COUNT(*) AS c FROM t GROUP BY source, term), " +
        "st AS (SELECT source, SUM(c) AS ts FROM sc GROUP BY source), " +
        "cc AS (SELECT term, SUM(c) AS cc FROM sc GROUP BY term), " +
        "ct AS (SELECT SUM(c) AS tc FROM sc), " +
        "k AS (SELECT sc.source, CAST(floor((CAST(c AS DOUBLE) / ts) * " +
        "ln((CAST(c AS DOUBLE) / ts) / (CAST(cc.cc AS DOUBLE) / tc)) * 1e9 + 0.5) AS BIGINT) AS nk " +
        "FROM sc JOIN st USING (source) JOIN cc USING (term) CROSS JOIN ct) " +
        "SELECT source, COUNT(*) AS n_terms, " +
        "CAST(SUM(nk) AS DOUBLE) / 1e9 AS kl_divergence " +
        "FROM k GROUP BY source ORDER BY source"),
    // logistic quality model: feature fragments mirror q_quality_scores;
    // z's term order matches TextAnalysis.modelQualityFilter exactly
    // (IEEE doubles are order-sensitive), score rounded to 6 dp
    "q_model_quality_filter" ->
      (s"WITH f AS (SELECT doc_id, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents WHERE length(text) > 0) " + // 0/0 parity guard (Spark NULL vs DuckDB NaN)
        "SELECT doc_id, round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) AS quality_score, " +
        "CAST(round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) >= 0.5 AS INT) AS kept " +
        "FROM f ORDER BY doc_id"),
    // per-domain cap: the quality sigmoid re-derived, then the top-10
    // per source under (quality DESC, doc_id) — row_number mirrors the
    // bounded aggregator's (score DESC, id ASC) rank order exactly
    "q_domain_cap" ->
      (s"WITH f AS (SELECT doc_id, source, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents WHERE length(text) > 0), " +
        "q AS (SELECT doc_id, source, round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) AS quality_score FROM f), " +
        "r AS (SELECT source, doc_id, quality_score, " +
        "row_number() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id) AS rnk FROM q) " +
        "SELECT source, CAST(rnk AS BIGINT) AS rk, doc_id, quality_score " +
        "FROM r WHERE rnk <= 10 ORDER BY source, rk"),
    // exact heavy hitters: terms with count > n_source_tokens/50 — the
    // MG survivor superset collapses to this under the exact-threshold
    // filter, so a plain exact computation is the correct oracle
    "q_hot_terms_exact" ->
      (s"WITH terms AS (SELECT source, unnest($toks) AS term FROM documents), " +
        "tot AS (SELECT source, COUNT(*) AS n_terms FROM terms GROUP BY source), " +
        "cnt AS (SELECT source, term, COUNT(*) AS cnt FROM terms GROUP BY source, term) " +
        "SELECT c.source, c.term, c.cnt FROM cnt c JOIN tot t USING (source) " +
        "WHERE c.cnt * 50 > t.n_terms ORDER BY c.source, c.cnt DESC, c.term"),
    // rolling 8-char-gram min-fingerprint: the kernel's md5-60 value
    // chain replayed window for window (code-point substr on both
    // engines; docs shorter than 8 chars hash their whole text once)
    "q_fingerprints" ->
      ("WITH fw AS (SELECT doc_id, unnest(generate_series(1, greatest(length(text)-7, 1))) AS i, text " +
        "FROM documents WHERE text IS NOT NULL), " +
        "fh AS (SELECT doc_id, MIN(('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT) AS fingerprint " +
        "FROM fw GROUP BY doc_id) " +
        "SELECT d.doc_id, fh.fingerprint FROM documents d LEFT JOIN fh USING (doc_id) ORDER BY doc_id"),
    "q_textrank_keywords" -> textrankSql,
    "q_tfidf_top_terms" ->
      (s"WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term), " +
        "dfreq AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term), " +
        "n AS (SELECT COUNT(*) AS n FROM documents), " +
        "scored AS (SELECT doc_id, tf.term, round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf " +
        "FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n), " +
        "ranked AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id " +
        "ORDER BY tfidf DESC, term) AS INTEGER) AS rk, term, tfidf FROM scored) " +
        "SELECT doc_id, rk, term, tfidf FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk"),
    "q_deduped_corpus" ->
      ("SELECT doc_id, source, lang, n_chars FROM documents " +
        "WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(nfc_normalize(text))) " +
        "ORDER BY doc_id"),
    "q_quality_filters" ->
      (s"WITH q AS (SELECT doc_id, text, $toks AS tk FROM documents) " +
        "SELECT doc_id, " +
        "len(tk) < 20 AS too_short, " +
        // length(text) > 0 guard: DuckDB's 0/0 is NaN (NaN > x true) vs Spark's NULL
        "(length(text) > 0 AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) > 0.1) AS too_symbolic, " +
        "CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) / len(tk) < 0.02 AS low_stopword, " +
        "CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) < 0.5 AS repetitive, " +
        "(CAST(length(text) AS DOUBLE) / len(tk) < 3.0 OR CAST(length(text) AS DOUBLE) / len(tk) > 12.0) AS odd_token_len, " +
        "NOT (len(tk) < 20 OR (length(text) > 0 AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) > 0.1) " +
        "OR CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) / len(tk) < 0.02 " +
        "OR CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) < 0.5 " +
        "OR CAST(length(text) AS DOUBLE) / len(tk) < 3.0 OR CAST(length(text) AS DOUBLE) / len(tk) > 12.0) AS keep " +
        "FROM q ORDER BY doc_id"),
    "q_dedup_exact_stats" ->
      // md5 over NFC-normalized text — mirrors graft.ext.Dedup.contentHash
      ("SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(nfc_normalize(text))) AS n_distinct_texts FROM documents"),
    "q_dedup_keep_list" ->
      ("SELECT md5(nfc_normalize(text)) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies " +
        "FROM documents GROUP BY content_hash ORDER BY keep_id"),
    // incremental exact dedup: delta (doc_id % 4 = 0) probes the
    // snapshot's content-hash keeper table; first-writer-wins over time
    "q_exact_dedup_incremental" ->
      ("WITH k AS (SELECT md5(nfc_normalize(text)) AS content_hash, MIN(doc_id) AS base_keeper " +
        "FROM documents WHERE text IS NOT NULL AND doc_id % 4 <> 0 GROUP BY content_hash), " +
        "arr AS (SELECT doc_id, md5(nfc_normalize(text)) AS content_hash " +
        "FROM documents WHERE text IS NOT NULL AND doc_id % 4 = 0) " +
        "SELECT arr.doc_id, arr.content_hash, " +
        "COALESCE(k.base_keeper, arr.doc_id) AS keeper_id, " +
        "k.base_keeper IS NOT NULL AS dup " +
        "FROM arr LEFT JOIN k USING (content_hash) ORDER BY doc_id"),
    // LSH candidate pairs: the md5-family signature chain replayed in
    // full; bucket join on band value slices
    "q_minhash_pairs" ->
      (s"WITH $minhashPairsCteSql " +
        "SELECT id_a, id_b, est_jaccard FROM mpr ORDER BY id_a, id_b"),
    // near-dup clusters: pairs >= threshold -> min-label unroll
    "q_neardup_clusters" ->
      (s"WITH $minhashPairsCteSql, ${clusterUnrollSql("mpr", "c")} " +
        s"SELECT id AS doc_id, label AS canonical_id FROM ${clusterFinalCte("c")} " +
        "ORDER BY doc_id"),
    // cluster size distribution over the same unroll
    "q_cluster_sizes" ->
      (s"WITH $minhashPairsCteSql, ${clusterUnrollSql("mpr", "c")}, " +
        "csz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size " +
        s"FROM ${clusterFinalCte("c")} GROUP BY label) " +
        "SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters, " +
        "CAST(SUM(cluster_size) AS BIGINT) AS n_docs " +
        "FROM csz GROUP BY cluster_size ORDER BY cluster_size DESC"),
    // quality-argmax keeper election per cluster: max quality, then
    // min doc_id on ties — mirrors the (quality, -doc_id) struct max
    "q_neardup_keepers" ->
      (s"WITH $minhashPairsCteSql, ${clusterUnrollSql("mpr", "c")}, " +
        "mfq AS (SELECT doc_id, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents WHERE length(text) > 0), " +
        "mq AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) AS quality FROM mfq), " +
        s"mem AS MATERIALIZED (SELECT l.label AS cluster, l.id AS doc_id, " +
        s"COALESCE(q.quality, 0.0) AS quality FROM ${clusterFinalCte("c")} l " +
        "LEFT JOIN mq q ON l.id = q.doc_id), " +
        "mk1 AS (SELECT cluster, MAX(quality) AS keeper_quality FROM mem GROUP BY cluster), " +
        "mk2 AS (SELECT m.cluster, MIN(m.doc_id) AS keeper_id FROM mem m " +
        "JOIN mk1 k ON m.cluster = k.cluster AND m.quality = k.keeper_quality GROUP BY m.cluster) " +
        "SELECT m.cluster, m.doc_id, m.quality, mk2.keeper_id, mk1.keeper_quality, " +
        "(m.doc_id = mk2.keeper_id) AS keep " +
        "FROM mem m JOIN mk1 ON m.cluster = mk1.cluster JOIN mk2 ON m.cluster = mk2.cluster " +
        "ORDER BY m.cluster, m.doc_id"),
    // incremental near-dup: arrival bands (doc_id % 4 = 0) probe base
    // bands — signatures are per-doc functions, so one shared sig CTE
    // filtered per side replays both subsets exactly
    "q_minhash_incremental" ->
      (s"WITH $minhashCtesSql, " +
        s"mpi AS (SELECT DISTINCT id_new, id_base, $minhashEstSql AS est_jaccard " +
        "FROM (SELECT a.doc_id AS id_new, b.doc_id AS id_base, a.sig AS sa, b.sig AS sb " +
        "FROM mbk a JOIN mbk b ON a.band = b.band AND a.bk = b.bk " +
        "WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0)) " +
        "SELECT id_new, id_base, est_jaccard FROM mpi ORDER BY id_new, id_base"),
    // leakage-safe splits: every doc inherits its cluster canonical's
    // content-hash split; unclustered docs are their own canonical
    "q_leakage_safe_splits" ->
      (s"WITH $minhashPairsCteSql, ${clusterUnrollSql("mpr", "c")}, " +
        "mcn AS (SELECT d.doc_id, COALESCE(c.label, d.doc_id) AS canonical_id " +
        s"FROM documents d LEFT JOIN ${clusterFinalCte("c")} c ON d.doc_id = c.id), " +
        "mcb AS (SELECT doc_id AS canonical_id, substring(md5(text), 1, 2) AS bucket FROM documents) " +
        s"SELECT mcn.doc_id, mcn.canonical_id, ${splitCaseSql("bucket")} AS split " +
        "FROM mcn JOIN mcb ON mcn.canonical_id = mcb.canonical_id ORDER BY mcn.doc_id"),
    // split inheritance: base-only clusters -> base leakage-safe
    // splits; arrivals anchor to their strongest base near-dup
    // (max est, min id_base on ties) and inherit its split, fresh
    // content falls back to the content-hash rule
    "q_split_inheritance" ->
      (s"WITH $minhashCtesSql, " +
        s"bpr AS MATERIALIZED (SELECT DISTINCT id_a, id_b, $minhashEstSql AS est_jaccard " +
        "FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb " +
        "FROM mbk a JOIN mbk b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id " +
        "WHERE a.doc_id % 4 <> 0 AND b.doc_id % 4 <> 0)), " +
        s"${clusterUnrollSql("bpr", "b")}, " +
        "bcn AS (SELECT d.doc_id, COALESCE(c.label, d.doc_id) AS canonical_id " +
        s"FROM documents d LEFT JOIN ${clusterFinalCte("b")} c ON d.doc_id = c.id " +
        "WHERE d.doc_id % 4 <> 0), " +
        "bcb AS (SELECT doc_id AS canonical_id, substring(md5(text), 1, 2) AS bucket " +
        "FROM documents WHERE doc_id % 4 <> 0), " +
        s"bsp AS MATERIALIZED (SELECT bcn.doc_id, ${splitCaseSql("bucket")} AS split " +
        "FROM bcn JOIN bcb ON bcn.canonical_id = bcb.canonical_id), " +
        s"apc AS MATERIALIZED (SELECT DISTINCT id_new, id_base, $minhashEstSql AS est_jaccard " +
        "FROM (SELECT a.doc_id AS id_new, b.doc_id AS id_base, a.sig AS sa, b.sig AS sb " +
        "FROM mbk a JOIN mbk b ON a.band = b.band AND a.bk = b.bk " +
        "WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0)), " +
        s"ab1 AS (SELECT id_new, MAX(est_jaccard) AS me FROM apc " +
        s"WHERE est_jaccard >= ${ext.Dedup.NearDupThreshold} GROUP BY id_new), " +
        "ab2 AS (SELECT a.id_new AS doc_id, MIN(a.id_base) AS anchor_id FROM apc a " +
        "JOIN ab1 ON a.id_new = ab1.id_new AND a.est_jaccard = ab1.me GROUP BY a.id_new), " +
        "anc AS (SELECT ab2.doc_id, ab2.anchor_id, bsp.split AS anchor_split " +
        "FROM ab2 JOIN bsp ON ab2.anchor_id = bsp.doc_id) " +
        "SELECT d.doc_id, anc.anchor_id IS NOT NULL AS inherited, " +
        "COALESCE(anc.anchor_id, d.doc_id) AS anchor_id, " +
        s"COALESCE(anc.anchor_split, ${splitCaseSql("substring(md5(d.text), 1, 2)")}) AS split " +
        "FROM documents d LEFT JOIN anc ON d.doc_id = anc.doc_id " +
        "WHERE d.doc_id % 4 = 0 AND d.text IS NOT NULL ORDER BY d.doc_id"),
    // the dedup cascade audit: the three Against verdicts (URL / exact
    // / minhash) replayed from their shared chains over the %4 split
    "q_dedup_cascade" ->
      (s"WITH $minhashCtesSql, $cascadeUrlVerdictSql, $cascadeExactVerdictSql, " +
        s"$cascadeNearVerdictSql " +
        "SELECT d.doc_id, COALESCE(cuv.url_dup, FALSE) AS url_dup, " +
        "COALESCE(cev.exact_dup, FALSE) AS exact_dup, " +
        "(cnv.doc_id IS NOT NULL) AS near_dup, " +
        "CASE WHEN COALESCE(cuv.url_dup, FALSE) THEN 'url_dup' " +
        "WHEN COALESCE(cev.exact_dup, FALSE) THEN 'exact_dup' " +
        "WHEN cnv.doc_id IS NOT NULL THEN 'near_dup' ELSE 'clean' END AS verdict " +
        "FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL AND doc_id % 4 = 0) d " +
        "LEFT JOIN cuv ON d.doc_id = cuv.doc_id " +
        "LEFT JOIN cev ON d.doc_id = cev.doc_id " +
        "LEFT JOIN cnv ON d.doc_id = cnv.doc_id ORDER BY d.doc_id"),
    // the full ingest gate: cascade verdicts + CDC owned fraction +
    // the quality gate, one admission bit per arrival
    "q_ingest_gate" ->
      (cdcChainSql + ", " +
        s"$minhashCtesSql, $cascadeUrlVerdictSql, $cascadeExactVerdictSql, " +
        s"$cascadeNearVerdictSql, " +
        "gc AS (SELECT doc_id, CAST(p.e - p.s + 1 AS BIGINT) AS n_toks, " +
        "md5(array_to_string(list_slice(t, p.s, p.e), ' ')) AS chunk_md5 FROM e), " +
        "gb AS (SELECT DISTINCT chunk_md5 FROM gc WHERE doc_id % 4 <> 0), " +
        "garr AS (SELECT gc.doc_id, gc.n_toks, (gb.chunk_md5 IS NOT NULL) AS owned " +
        "FROM gc LEFT JOIN gb ON gc.chunk_md5 = gb.chunk_md5 WHERE gc.doc_id % 4 = 0), " +
        "gcdc AS (SELECT doc_id, floor(CAST(SUM(CASE WHEN owned THEN n_toks ELSE 0 END) AS DOUBLE) " +
        "/ CAST(SUM(n_toks) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cdc_owned_frac FROM garr GROUP BY doc_id), " +
        "gf AS (SELECT doc_id, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents WHERE length(text) > 0 AND doc_id % 4 = 0), " +
        "gq AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) >= 0.5 AS quality_pass FROM gf) " +
        "SELECT d.doc_id, COALESCE(cuv.url_dup, FALSE) AS url_dup, " +
        "COALESCE(cev.exact_dup, FALSE) AS exact_dup, " +
        "(cnv.doc_id IS NOT NULL) AS near_dup, " +
        "COALESCE(gcdc.cdc_owned_frac, 0.0) AS cdc_owned_frac, " +
        "COALESCE(gq.quality_pass, FALSE) AS quality_pass, " +
        "(NOT COALESCE(cuv.url_dup, FALSE) AND NOT COALESCE(cev.exact_dup, FALSE) " +
        "AND cnv.doc_id IS NULL AND COALESCE(gcdc.cdc_owned_frac, 0.0) < 0.5 " +
        "AND COALESCE(gq.quality_pass, FALSE)) AS admitted " +
        "FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL AND doc_id % 4 = 0) d " +
        "LEFT JOIN cuv ON d.doc_id = cuv.doc_id " +
        "LEFT JOIN cev ON d.doc_id = cev.doc_id " +
        "LEFT JOIN cnv ON d.doc_id = cnv.doc_id " +
        "LEFT JOIN gcdc ON d.doc_id = gcdc.doc_id " +
        "LEFT JOIN gq ON d.doc_id = gq.doc_id ORDER BY d.doc_id"),
    // 60-bit md5-prefix SimHash: 60 conditional-sign sums per doc, 4
    // pigeonhole chunks of 15 bits, hamming = bit_count(xor) on
    // strictly positive BIGINTs (the 60-bit choice makes every shift /
    // popcount identical across engines)
    "q_simhash_near_dups" ->
      (s"WITH st AS (SELECT doc_id, unnest($toks) AS tok FROM documents WHERE text IS NOT NULL), " +
        "sth AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM st), " +
        "ssig AS MATERIALIZED (SELECT doc_id, " +
        (0 until ext.Dedup.SimhashBits).map { b =>
          s"(CASE WHEN SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ") + " AS simhash FROM sth GROUP BY doc_id), " +
        "sch AS MATERIALIZED (SELECT doc_id, simhash, chunk, (simhash >> (chunk * 15)) & 32767 AS chunk_val " +
        "FROM (SELECT doc_id, simhash, unnest(range(0, 4)) AS chunk FROM ssig)) " +
        "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming " +
        "FROM sch a JOIN sch b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY id_a, id_b"),
    // corpus-wide containment: LSH candidates (the shared pair CTE,
    // unfiltered) scored by exact shingle-set algebra
    "q_ngram_containment_corpus" ->
      (s"WITH $minhashPairsCteSql, " + containmentTailSql("mpr")),
    // LSH-Ensemble stratified containment: 3 band layouts (rows 4/2/1)
    // gated by stratum distance; strata are exact integer bit-length
    // buckets (growth 4 -> floor(log2(len)) div 2)
    "q_ngram_containment_stratified" ->
      (s"WITH $minhashCtesSql, " +
        "sgx AS MATERIALIZED (SELECT s.doc_id, s.sig, " +
        "CAST((length(format('{:b}', greatest(len(t.t), 1))) - 1) // 2 AS INT) AS stratum " +
        "FROM msig s JOIN mt t ON s.doc_id = t.doc_id), " +
        "sly AS MATERIALIZED (SELECT doc_id, stratum, layout, band, " +
        "array_to_string(sig[band*rows+1:band*rows+rows], ',') AS bk " +
        "FROM (SELECT doc_id, stratum, sig, ly.layout AS layout, ly.rows AS rows, " +
        "unnest(range(0, 32 // ly.rows)) AS band " +
        "FROM sgx CROSS JOIN (VALUES (0, 4), (1, 2), (2, 1)) ly(layout, rows))), " +
        "scd AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM sly a JOIN sly b ON a.layout = b.layout AND a.band = b.band " +
        "AND a.bk = b.bk AND a.doc_id < b.doc_id AND " +
        "(CASE WHEN a.layout = 2 THEN abs(a.stratum - b.stratum) >= 2 " +
        "ELSE abs(a.stratum - b.stratum) = a.layout END)), " +
        containmentTailSql("scd")),
    "q_ngram_jaccard" ->
      ("WITH g AS (SELECT doc_id, list_distinct(list_transform(" +
        "generate_series(1, greatest(len(" + toks + ") - 2, 1)), " +
        "i -> array_to_string((" + toks + ")[i:i+2], ' '))) AS sh " +
        s"FROM documents WHERE doc_id < ${ext.Dedup.PairIdLimit}) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard " +
        "FROM g a JOIN g b ON a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) > 0.1 " +
        "ORDER BY id_a, id_b"),
    "q_embedding_coverage" ->
      ("WITH e AS (SELECT DISTINCT vec_id FROM embeddings) " +
        "SELECT d.source, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_embedded, " +
        "CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing, " +
        "round(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS coverage " +
        "FROM documents d LEFT JOIN e ON d.doc_id = e.vec_id " +
        "GROUP BY d.source ORDER BY d.source"),
    // per-domain semantic outliers: 9dp-snapped centroid (kills avg
    // summation-order noise), 6dp-rounded cosine ranking with vec_id
    // tie-break — the cosineTopK discipline at domain granularity
    "q_semantic_outliers" ->
      ("WITH e AS (SELECT d.source, em.vec_id, CAST(em.embedding AS DOUBLE[]) AS emb " +
        "FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id " +
        "WHERE em.embedding IS NOT NULL), " +
        "dims AS (SELECT source, vec_id, gs.pos, emb[gs.pos] AS val " +
        "FROM e, LATERAL (SELECT unnest(generate_series(1, len(emb))) AS pos) gs), " +
        "cent AS (SELECT source, pos, round(avg(val), 9) AS c FROM dims GROUP BY source, pos), " +
        "centroid AS (SELECT source, list(c ORDER BY pos) AS cvec FROM cent GROUP BY source), " +
        "scored AS (SELECT e.source, e.vec_id, " +
        "round(list_cosine_similarity(e.emb, c.cvec), 6) AS cos_centroid_r " +
        "FROM e JOIN centroid c ON e.source = c.source), " +
        "r AS (SELECT source, vec_id, cos_centroid_r, " +
        "row_number() OVER (PARTITION BY source ORDER BY cos_centroid_r, vec_id) AS rnk FROM scored) " +
        "SELECT source, CAST(rnk AS BIGINT) AS rk, vec_id, cos_centroid_r " +
        "FROM r WHERE rnk <= 3 ORDER BY source, rk"),
    // full Lloyd's replay (kmeansCtesSql): integer micro-space fit,
    // per-cluster BIGINT inertia, 6-dp snapped unit conversions
    "q_kmeans" ->
      (s"WITH $kmeansCtesSql " +
        "SELECT CAST(cell AS INTEGER) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors, " +
        s"${snap6Sql("SUM(d2)", "1000000000000.0")} AS inertia, " +
        s"${snap6Sql("SUM(d2)", "COUNT(*)", "1000000000000.0")} AS mean_sq_dist " +
        "FROM kfa GROUP BY cell ORDER BY cluster"),
    // D4-style prototype prune over the same fit: rank (d2, vec_id)
    // within cluster, drop ranks <= floor(dropFrac * size)
    "q_cluster_prune" ->
      (s"WITH $kmeansCtesSql, " +
        "pr AS (SELECT cell, vec_id, d2, " +
        "ROW_NUMBER() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS rk, " +
        "COUNT(*) OVER (PARTITION BY cell) AS cn FROM kfa), " +
        s"pd AS (SELECT cell, d2, (rk <= floor(${ext.Clustering.PruneDropFrac} * cn)) AS dropped FROM pr) " +
        "SELECT CAST(cell AS INTEGER) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors, " +
        "CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, " +
        s"${snap6Sql("MAX(CASE WHEN dropped THEN d2 END)", "1000000000000.0")} AS cut_d2, " +
        s"${snap6Sql("SUM(d2)", "COUNT(*)", "1000000000000.0")} AS mean_d2 " +
        "FROM pd GROUP BY cell ORDER BY cluster"),
    // semantic dedup: the shared Lloyd-cell assignment, same-cell
    // (a < b) pairs, snapped-cosine threshold, per-label keep audit
    "q_semantic_dedup" -> {
      val th = ext.Similarity.SemDedupThreshold
      s"WITH $knnCellsCtesSql, " +
        "sdp AS (SELECT DISTINCT b.vec_id FROM qpv a JOIN qpv b " +
        "ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        s"WHERE round(list_cosine_similarity(a.emb, b.emb), 6) > $th) " +
        "SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "CAST(SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, " +
        "CAST(COUNT(*) - SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM embeddings e LEFT JOIN sdp s ON e.vec_id = s.vec_id " +
        "GROUP BY e.label ORDER BY e.label"
    },
    // kNN graph: the shared probed-cells pair chain ranked per query
    // under (cos DESC, id) — the bounded-aggregator order
    "q_knn_graph" -> {
      val k = ext.Similarity.KnnK
      s"WITH $knnPairsCtesSql, " +
        "kr AS (SELECT query_id, neighbor_id, cos_sim_r, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim_r DESC, neighbor_id) AS rk FROM qps) " +
        "SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, cos_sim_r " +
        s"FROM kr WHERE rk <= $k ORDER BY query_id, rk"
    },
    // LSH ANN: the hyperplane weight matrix interpolates as literal
    // doubles (Double.toString round-trips IEEE), each plane's sign bit
    // replays Spark's sequential fold via list_reduce, and the
    // in-bucket re-rank is the cosineTopK discipline — flipped from
    // rows-only in r14
    // graph-ANN beam search over the kNN graph: the knn pair chain
    // (qps) builds the edge set, then GraphAnnRounds unrolled beam
    // rounds — per round the top-GraphAnnBeamWidth visited nodes
    // (snapped score DESC, id) expand one graph hop, unseen neighbors
    // score exactly, and the union is the next visited set; final
    // top-5 excludes the query itself (the cosineTopK convention).
    // Entry point = MIN embedded id on both engines.
    "q_graph_ann_topk" -> {
      val kEdge = ext.Similarity.KnnK
      val w = ext.Similarity.GraphAnnBeamWidth
      val rounds = ext.Similarity.GraphAnnRounds
      val chain = (1 to rounds).map { r =>
        val p = s"gv${r - 1}"
        s"gb${r - 1} AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, " +
          s"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rn FROM $p) WHERE rn <= $w), " +
          s"gn$r AS (SELECT DISTINCT b.query_id, e.dst AS vec_id FROM gb${r - 1} b JOIN kge e ON b.vec_id = e.src " +
          s"WHERE NOT EXISTS (SELECT 1 FROM $p v WHERE v.query_id = b.query_id AND v.vec_id = e.dst)), " +
          s"gv$r AS MATERIALIZED (SELECT * FROM $p UNION ALL " +
          s"SELECT n.query_id, n.vec_id, round(list_cosine_similarity(q.q_emb, c.emb), 6) AS s " +
          s"FROM gn$r n JOIN gq q ON n.query_id = q.query_id JOIN qpv c ON c.vec_id = n.vec_id)"
      }.mkString(", ")
      s"WITH $knnPairsCtesSql, " +
        "kgd AS (SELECT query_id AS src, neighbor_id AS dst FROM " +
        "(SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id " +
        s"ORDER BY cos_sim_r DESC, neighbor_id) AS rk FROM qps) WHERE rk <= $kEdge), " +
        "kge AS MATERIALIZED (SELECT src, dst FROM kgd " +
        "UNION ALL SELECT dst AS src, src AS dst FROM kgd), " +
        "gq AS (SELECT vec_id AS query_id, emb AS q_emb FROM qpv WHERE vec_id < 8), " +
        "gentry AS (SELECT MIN(vec_id) AS v FROM qpv), " +
        "gv0 AS MATERIALIZED (SELECT q.query_id, c.vec_id, " +
        "round(list_cosine_similarity(q.q_emb, c.emb), 6) AS s " +
        "FROM gq q CROSS JOIN gentry g JOIN qpv c ON c.vec_id = g.v), " +
        s"$chain " +
        "SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id AS neighbor_id, s AS cos_sim_r FROM " +
        "(SELECT query_id, vec_id, s, ROW_NUMBER() OVER (PARTITION BY query_id " +
        s"ORDER BY s DESC, vec_id) AS rk FROM gv$rounds WHERE vec_id <> query_id) " +
        "WHERE rk <= 5 ORDER BY query_id, rk"
    },
    "q_lsh_ann_topk" -> {
      val bits = ext.Similarity.LshBits
      val dim = ext.Similarity.LshDim
      val w = ext.Similarity.lshWeights(dim, bits)
      val planes = (0 until bits).map { p =>
        val arr = w(p).mkString("[", ", ", "]")
        s"(CASE WHEN list_reduce(list_transform(range(1, ${dim + 1}), " +
          s"i -> emb[i] * ($arr)[i]), (s, x) -> s + x) >= 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      "WITH le AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
        "FROM embeddings WHERE embedding IS NOT NULL), " +
        s"lb AS MATERIALIZED (SELECT vec_id, emb, $planes AS bucket FROM le), " +
        "lq AS (SELECT vec_id AS query_id, emb AS q_emb, bucket FROM lb WHERE vec_id < 8), " +
        "lsc AS (SELECT q.query_id, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(q.q_emb, c.emb), 6) AS cos_sim_r " +
        "FROM lq q JOIN lb c ON c.bucket = q.bucket AND c.vec_id <> q.query_id) " +
        "SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, cos_sim_r FROM " +
        "(SELECT query_id, neighbor_id, cos_sim_r, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim_r DESC, neighbor_id) AS rk FROM lsc) " +
        "WHERE rk <= 5 ORDER BY query_id, rk"
    },
    // IVF ANN: the fixed-nlist integer-Lloyd unroll routes the probes
    // (exact (d2, cell) ranking over kfd), the probed-cell cosine
    // re-rank is the cosineTopK snap + tiebreak discipline — flipped
    // from rows-only in r14 via the q_knn_graph precedent
    "q_ivf_ann_topk" ->
      (s"WITH $ivfAnnCtesSql " +
        "SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, cos_sim_r FROM " +
        "(SELECT query_id, neighbor_id, cos_sim_r, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim_r DESC, neighbor_id) AS rk FROM isc) " +
        "WHERE rk <= 5 ORDER BY query_id, rk"),
    // ANN recall audit (r15): both rankings are already engine-exact —
    // the IVF chain and the brute-force cosine chain — so their
    // per-query intersection count and the snapped recall replay
    // unconditionally; this is the number a pipeline watches to tune
    // nprobe/nlist
    "q_ann_recall_audit" -> {
      s"WITH $ivfAnnCtesSql, " +
        "ivr AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim_r DESC, neighbor_id) AS rk FROM isc) " +
        "WHERE rk <= 5), " +
        "xq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb " +
        "FROM embeddings WHERE vec_id < 8), " +
        "xs AS (SELECT query_id, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(q_emb, CAST(c.embedding AS DOUBLE[])), 6) AS cs " +
        "FROM embeddings c JOIN xq ON xq.query_id <> c.vec_id), " +
        "xr AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk FROM xs) " +
        "WHERE rk <= 5), " +
        "exb AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact FROM xr GROUP BY query_id), " +
        "ovb AS (SELECT x.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap FROM xr x " +
        "JOIN ivr i ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id " +
        "GROUP BY x.query_id) " +
        "SELECT e.query_id, e.n_exact, COALESCE(o.n_overlap, 0) AS n_overlap, " +
        "floor(CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / e.n_exact * 1000000.0 + 0.5) / 1000000.0 AS recall " +
        "FROM exb e LEFT JOIN ovb o ON o.query_id = e.query_id ORDER BY e.query_id"
    },
    // ANN tuning curve (r16): ONE scored pass at the grid maximum with
    // the probe rank kept (ROW_NUMBER over (d2, cell) on kfd — the ipb
    // discipline); each nprobe setting filters prank <= np, per-setting
    // top-k under (cos DESC, id), micro recall + candidate cost per
    // setting — the recall-vs-cost sweep, itself hash-gated
    "q_ann_tuning_curve" -> {
      val grid = ext.Similarity.TuneNprobes.mkString("[", ", ", "]")
      val maxNp = ext.Similarity.TuneNprobes.max
      s"WITH ${kmeansCtesSqlFor(ext.Similarity.IvfNlist.toString)}, " +
        "gv AS MATERIALIZED (SELECT f.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, f.cell " +
        "FROM embeddings e JOIN kfa f ON e.vec_id = f.vec_id), " +
        "gpb AS (SELECT vec_id, cell, CAST(rn AS BIGINT) AS prank FROM " +
        "(SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM kfd) " +
        s"WHERE rn <= $maxNp AND vec_id < 8), " +
        "gsc AS MATERIALIZED (SELECT p.vec_id AS query_id, p.prank, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(q.emb, c.emb), 6) AS cos_sim_r " +
        "FROM gpb p JOIN gv q ON p.vec_id = q.vec_id " +
        "JOIN gv c ON c.cell = p.cell AND c.vec_id <> p.vec_id), " +
        s"gst AS (SELECT CAST(unnest($grid) AS BIGINT) AS nprobe), " +
        "gcand AS MATERIALIZED (SELECT s.nprobe, g.query_id, g.neighbor_id, g.cos_sim_r " +
        "FROM gst s JOIN gsc g ON g.prank <= s.nprobe), " +
        "gtop AS (SELECT nprobe, query_id, neighbor_id FROM " +
        "(SELECT nprobe, query_id, neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY nprobe, query_id ORDER BY cos_sim_r DESC, neighbor_id) AS rk " +
        "FROM gcand) WHERE rk <= 5), " +
        // exact side: the q_ann_recall_audit xq/xs/xr chain verbatim
        // (same null handling as cosineTopK), renamed to avoid CTE
        // collisions with the audit if ever composed
        "txq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb " +
        "FROM embeddings WHERE vec_id < 8), " +
        "txs AS (SELECT query_id, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(q_emb, CAST(c.embedding AS DOUBLE[])), 6) AS cs " +
        "FROM embeddings c JOIN txq ON txq.query_id <> c.vec_id), " +
        "txr AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk FROM txs) " +
        "WHERE rk <= 5), " +
        "gex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM txr), " +
        "gnc AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM gcand GROUP BY nprobe), " +
        "gov AS (SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS n_overlap FROM gtop t " +
        "JOIN txr x ON x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id GROUP BY t.nprobe) " +
        "SELECT s.nprobe, COALESCE(gnc.n_candidates, 0) AS n_candidates, gex.n_exact, " +
        "COALESCE(gov.n_overlap, 0) AS n_overlap, " +
        "floor(CAST(COALESCE(gov.n_overlap, 0) AS DOUBLE) / gex.n_exact * 1000000.0 + 0.5) / 1000000.0 AS recall " +
        "FROM gst s LEFT JOIN gnc ON gnc.nprobe = s.nprobe " +
        "LEFT JOIN gov ON gov.nprobe = s.nprobe CROSS JOIN gex ORDER BY s.nprobe"
    },
    // IVF-PQ ANN (flipped from rows-only in r15): the fixed-nlist
    // integer-Lloyd unroll yields cells AND exact integer residuals;
    // the per-subspace integer codebook unroll (pqCodebookCtesSqlFor)
    // replays the codebook fit; the ADC score is replayed as the
    // reconstruction dot SUM(q_d * (c_d + r̂_d)) — equal to Spark's
    // ADC-table sum by integer associativity; norms are exact BIGINT
    // micro², the only floats the final sqrt/divide/round-6
    "q_ivf_pq_topk" ->
      (s"WITH $ivfPqCtesSql " +
        "SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, cos_sim_pq FROM " +
        "(SELECT query_id, neighbor_id, cos_sim_pq, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim_pq DESC, neighbor_id) AS rk FROM psc) " +
        "WHERE rk <= 5 ORDER BY query_id, rk"),
    // PQ distortion audit (r15): the integer-exact PQ top-k pairs
    // re-scored with the exact float cosine (the q_cosine_topk
    // discipline), deltas in exact micro ints before the mean — the
    // quantization-quality metric, itself oracle-gated
    "q_pq_distortion_audit" -> {
      s"WITH $ivfPqCtesSql, " +
        "pqt AS (SELECT query_id, neighbor_id, cos_sim_pq FROM " +
        "(SELECT query_id, neighbor_id, cos_sim_pq, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim_pq DESC, neighbor_id) AS rk FROM psc) " +
        "WHERE rk <= 5), " +
        "pqe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings " +
        "WHERE embedding IS NOT NULL), " +
        "pex AS (SELECT t.query_id, " +
        "CAST(floor(t.cos_sim_pq * 1000000.0 + 0.5) AS BIGINT) - " +
        "CAST(floor(round(list_cosine_similarity(qe.emb, ne.emb), 6) * 1000000.0 + 0.5) AS BIGINT) AS dmicro " +
        "FROM pqt t JOIN pqe qe ON qe.vec_id = t.query_id " +
        "JOIN pqe ne ON ne.vec_id = t.neighbor_id) " +
        "SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "floor(CAST(SUM(ABS(dmicro)) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS mean_abs_err " +
        "FROM pex GROUP BY query_id ORDER BY query_id"
    },
    // SQ-int8 ANN (flipped from rows-only in r15): the derived-cell
    // integer-Lloyd unroll routes probes; codes quantize in pure
    // BIGINT arithmetic — m = MAX(ABS(micro x)) per vector,
    // c = sign(x)·((2·|x|·127 + m) // (2m)), operands non-negative so
    // both engines' truncating division IS floor — and the code cosine
    // is the exact integer dot/norm chain, round-6 at the end
    "q_sq_ann_topk" -> {
      s"WITH sqk AS (SELECT LEAST(16, COUNT(*)) AS kk FROM embeddings " +
        "WHERE embedding IS NOT NULL), " +
        kmeansCtesSqlFor("SELECT kk FROM sqk") + ", " +
        "sqm AS (SELECT vec_id, MAX(ABS(x)) AS mm FROM kev GROUP BY vec_id), " +
        "sqc AS MATERIALIZED (SELECT kev.vec_id, kev.dim, " +
        "CASE WHEN m.mm = 0 THEN 0 " +
        "WHEN kev.x < 0 THEN -((2*ABS(kev.x)*127 + m.mm) // (2*m.mm)) " +
        "ELSE (2*ABS(kev.x)*127 + m.mm) // (2*m.mm) END AS cd " +
        "FROM kev JOIN sqm m ON m.vec_id = kev.vec_id), " +
        "sqn AS (SELECT vec_id, SUM(cd*cd) AS n2 FROM sqc GROUP BY vec_id), " +
        "spb AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM kfd) " +
        "WHERE rn <= LEAST(2, (SELECT kk FROM sqk)) AND vec_id < 8), " +
        "sdt2 AS (SELECT p.vec_id AS query_id, r.vec_id AS neighbor_id, " +
        "SUM(qa.cd * rb.cd) AS dt FROM spb p " +
        "JOIN kfa r ON r.cell = p.cell AND r.vec_id <> p.vec_id " +
        "JOIN sqc qa ON qa.vec_id = p.vec_id " +
        "JOIN sqc rb ON rb.vec_id = r.vec_id AND rb.dim = qa.dim " +
        "GROUP BY p.vec_id, r.vec_id), " +
        "ssq AS (SELECT d.query_id, d.neighbor_id, " +
        "CASE WHEN qa.n2 > 0 AND rb.n2 > 0 THEN " +
        "round(CAST(d.dt AS DOUBLE) / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(rb.n2 AS DOUBLE))), 6) " +
        "ELSE 0.0 END AS cos_sim_sq " +
        "FROM sdt2 d JOIN sqn qa ON qa.vec_id = d.query_id " +
        "JOIN sqn rb ON rb.vec_id = d.neighbor_id) " +
        "SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, cos_sim_sq FROM " +
        "(SELECT query_id, neighbor_id, cos_sim_sq, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim_sq DESC, neighbor_id) AS rk FROM ssq) " +
        "WHERE rk <= 5 ORDER BY query_id, rk"
    },
    // PQ-code semantic dedup (flipped from rows-only in r15): the
    // shared derived-k Lloyd cells (knnCellsCtesSql — the
    // q_semantic_dedup fit), raw snapped dims into the integer
    // codebook unroll, SDC replayed as the exact-BIGINT dot of the
    // two integer reconstructions, per-label audit tail shared with
    // q_semantic_dedup
    "q_semantic_dedup_pq" -> {
      val m = ext.Similarity.PqM
      val pi = ext.Similarity.PqIters
      val th = ext.Similarity.SemDedupThreshold
      s"WITH $knnCellsCtesSql, " +
        s"psd AS (SELECT (MAX(dim) + 1) // $m AS sd FROM kev), " +
        "srw AS (SELECT vec_id, CAST(dim // psd.sd AS INTEGER) AS sub, " +
        "CAST(dim % psd.sd AS INTEGER) AS dim, x FROM kev CROSS JOIN psd), " +
        pqCodebookCtesSqlFor("pb", "srw",
          s"SELECT LEAST(${ext.Similarity.PqKSub}, COUNT(DISTINCT vec_id)) FROM srw") + ", " +
        "rcd AS MATERIALIZED (SELECT a.vec_id, cb.sub, cb.dim, cb.cx FROM pbfa a " +
        s"JOIN pbc$pi cb ON cb.sub = a.sub AND cb.code = a.code), " +
        "prn AS (SELECT vec_id, SUM(cx * cx) AS r2 FROM rcd GROUP BY vec_id), " +
        "spr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM kfa a JOIN kfa b " +
        "ON a.cell = b.cell AND a.vec_id < b.vec_id), " +
        "sdt AS (SELECT p.id_a, p.id_b, SUM(ra.cx * rb.cx) AS s FROM spr p " +
        "JOIN rcd ra ON ra.vec_id = p.id_a " +
        "JOIN rcd rb ON rb.vec_id = p.id_b AND rb.sub = ra.sub AND rb.dim = ra.dim " +
        "GROUP BY p.id_a, p.id_b), " +
        "sdp AS (SELECT DISTINCT d.id_b AS vec_id FROM sdt d " +
        "JOIN prn na ON na.vec_id = d.id_a JOIN prn nb ON nb.vec_id = d.id_b " +
        "WHERE CASE WHEN na.r2 > 0 AND nb.r2 > 0 THEN " +
        "round(CAST(d.s AS DOUBLE) / (sqrt(CAST(na.r2 AS DOUBLE)) * sqrt(CAST(nb.r2 AS DOUBLE))), 6) " +
        s"ELSE 0.0 END > $th) " +
        "SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "CAST(SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, " +
        "CAST(COUNT(*) - SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM embeddings e LEFT JOIN sdp s ON e.vec_id = s.vec_id " +
        "GROUP BY e.label ORDER BY e.label"
    },
    // quality propagation: the shared kNN pair chain (Lloyd cells,
    // nprobe=2) picks the top-k under the (score DESC, id) rank
    // discipline; the neighbor mean aggregates micro-int quality
    // (order-free BIGINT sum); the blend's term order mirrors the
    // Spark column
    "q_quality_propagation" -> {
      val k = ext.Similarity.QualityPropK
      val a = ext.Similarity.QualityPropAlpha
      val blend = s"floor(($a * q.quality + ${1.0 - a} * m.neighbor_quality) " +
        "* 1000000.0 + 0.5) / 1000000.0"
      s"WITH $knnPairsCtesSql, " +
        "qpt AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim_r DESC, neighbor_id) AS rn FROM qps) " +
        s"WHERE rn <= $k), " +
        "qpq AS MATERIALIZED (SELECT doc_id, round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) AS quality FROM " +
        s"(SELECT doc_id, CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents WHERE length(text) > 0)), " +
        "qpm AS (SELECT t.query_id AS doc_id, " +
        "floor(CAST(SUM(CAST(floor(q.quality * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) " +
        "/ COUNT(*) + 0.5) / 1000000.0 AS neighbor_quality, " +
        "CAST(COUNT(*) AS BIGINT) AS n_neighbors " +
        "FROM qpt t JOIN qpq q ON t.neighbor_id = q.doc_id GROUP BY t.query_id) " +
        "SELECT q.doc_id, q.quality, m.neighbor_quality, m.n_neighbors, " +
        s"$blend AS smoothed, ((q.quality >= 0.5) <> ($blend >= 0.5)) AS flipped " +
        "FROM qpq q JOIN qpm m ON q.doc_id = m.doc_id ORDER BY q.doc_id"
    },
    // containment: same shingle sets as the jaccard oracle, both
    // asymmetric ratios + jaccard from the same intersection counts
    "q_ngram_containment" ->
      ("WITH g AS (SELECT doc_id, list_distinct(list_transform(" +
        "generate_series(1, greatest(len(" + toks + ") - 2, 1)), " +
        "i -> array_to_string((" + toks + ")[i:i+2], ' '))) AS sh " +
        s"FROM documents WHERE doc_id < ${ext.Dedup.PairIdLimit}), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "len(list_intersect(a.sh, b.sh)) AS ni, len(a.sh) AS na, len(b.sh) AS nb " +
        "FROM g a JOIN g b ON a.doc_id < b.doc_id) " +
        "SELECT id_a, id_b, round(CAST(ni AS DOUBLE) / na, 6) AS contain_a, " +
        "round(CAST(ni AS DOUBLE) / nb, 6) AS contain_b, " +
        "round(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS jaccard " +
        "FROM p WHERE round(CAST(ni AS DOUBLE) / na, 6) > 0.5 " +
        "OR round(CAST(ni AS DOUBLE) / nb, 6) > 0.5 " +
        "ORDER BY id_a, id_b"),
    // media dHash: integer-exact — the oracle re-derives the 9x8
    // byte-subsample grid and the 64 row-major comparisons from the
    // SAME UTF-8 payload bytes via BIT-string bit extraction (bit 63's
    // contribution is written signed; DuckDB's << overflows at 63)
    // the planted near-dup media pairs, replayed end to end: dHash
    // grids for originals AND their low-bit-flipped copies (len >= 72
    // pins the flip to grid cell 0 alone — Multimodal scaladoc), row-
    // major gradient phash, 16-bit pigeonhole chunk join, hamming <= 3.
    // Shift/bit_count semantics match Spark (arithmetic >> on signed
    // BIGINT, probed before use).
    "q_media_neardup_pairs" ->
      (s"$mediaPairsCtesSql SELECT id_a, id_b, hamming FROM mp " +
        "WHERE hamming <= 3 ORDER BY id_a, id_b"),
    // audio fingerprint near-dups: frames, 4-byte band energies,
    // Haitsma-Kalker sign bits on the CLOSED band ring (8 bits/frame),
    // 32-bit windowed keys, stop-key cap and the shared-key
    // threshold — all integer math replayed from the SAME UTF-8
    // payload bytes via BIT extraction (the media-dHash byte-parity
    // precedent); planted one-hop-shifted copies replay as a
    // byte-index offset over the same bit string (no blob surgery)
    "q_audio_neardup_pairs" -> {
      val fl = ext.Multimodal.AudioFrameLen
      val hop = ext.Multimodal.AudioHop
      val bands = ext.Multimodal.AudioBands
      val bw = fl / bands
      val cap = ext.Multimodal.AudioMaxBytes
      val minB = ext.Multimodal.AudioPlantMinBytes
      val shift = ext.Multimodal.AudioPlantShift
      val minShared = ext.Multimodal.AudioMinSharedKeys
      val freqCap = ext.Multimodal.AudioKeyFreqCap
      val subfps = ext.Multimodal.AudioKeySubfps
      // the 56-bit windowed key: lead(fp, j) columns and the shifted
      // big-endian sum, both generated from AudioKeySubfps so the key
      // window has ONE definition
      val audioLeadColsSql = (1 until subfps)
        .map(j => s"lead(fp, $j) OVER w AS l$j").mkString(", ")
      val audioKeyExprSql = ("fp" +: (1 until subfps).map(j => s"l$j"))
        .zipWithIndex
        .map { case (c, i) => s"$c*${1L << (8 * (subfps - 1 - i))}" }
        .mkString(" + ")
      // byte value at byte index J of a media's bit string
      def byteVal(j: String): String =
        (0 to 7).map(k => s"get_bit(m.bits, ($j)*8 + $k)*${1 << (7 - k)}").mkString(" + ")
      s"WITH aum AS (SELECT doc_id AS media_id, encode(text)::BIT AS bits, " +
        "octet_length(encode(text)) AS len FROM documents WHERE text IS NOT NULL), " +
        "auv AS (SELECT media_id, media_id AS src_id, 0 AS boff, len FROM aum " +
        s"UNION ALL SELECT media_id + 10000000, media_id, $shift, len - $shift " +
        s"FROM aum WHERE len >= $minB), " +
        "auf AS (SELECT media_id, src_id, boff, " +
        s"CASE WHEN LEAST(len, $cap) >= $fl THEN (LEAST(len, $cap) - $fl) // $hop + 1 " +
        "ELSE 0 END AS nf FROM auv), " +
        "aue AS MATERIALIZED (SELECT v.media_id, ff.f, bb.b, " +
        s"SUM(${byteVal(s"v.boff + ff.f*$hop + bb.b*$bw + ii.i")}) AS e " +
        "FROM auf v JOIN aum m ON v.src_id = m.media_id " +
        s"CROSS JOIN (SELECT CAST(unnest(range(${cap / hop})) AS INT) AS f) ff " +
        s"CROSS JOIN (SELECT CAST(unnest(range($bands)) AS INT) AS b) bb " +
        s"CROSS JOIN (SELECT CAST(unnest(range($bw)) AS INT) AS i) ii " +
        "WHERE ff.f < v.nf GROUP BY 1, 2, 3), " +
        "aud AS (SELECT c.media_id, c.f, c.b, c.e - n.e AS dd " +
        "FROM aue c JOIN aue n ON n.media_id = c.media_id AND n.f = c.f " +
        s"AND n.b = (c.b + 1) % $bands), " +
        "ausf AS (SELECT c.media_id, c.f, " +
        "CAST(SUM(CASE WHEN c.dd - p.dd > 0 THEN (1 << c.b) ELSE 0 END) AS BIGINT) AS fp " +
        "FROM aud c JOIN aud p ON p.media_id = c.media_id AND p.f = c.f - 1 " +
        "AND p.b = c.b WHERE c.f >= 1 GROUP BY 1, 2), " +
        s"auk AS (SELECT DISTINCT media_id, $audioKeyExprSql AS fp_key " +
        s"FROM (SELECT media_id, fp, $audioLeadColsSql FROM ausf " +
        s"WINDOW w AS (PARTITION BY media_id ORDER BY f)) WHERE l${subfps - 1} IS NOT NULL), " +
        s"aukk AS (SELECT fp_key FROM auk GROUP BY fp_key HAVING COUNT(*) <= $freqCap), " +
        "auks AS MATERIALIZED (SELECT auk.media_id, auk.fp_key FROM auk JOIN aukk USING (fp_key)) " +
        "SELECT a.media_id AS id_a, b.media_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared_keys " +
        "FROM auks a JOIN auks b ON a.fp_key = b.fp_key AND a.media_id < b.media_id " +
        s"GROUP BY 1, 2 HAVING COUNT(*) >= $minShared ORDER BY id_a, id_b"
    },
    // multimodal dedup closure: min-label components over the pair
    // graph — the q_link_components unroll on media ids
    "q_media_dedup_clusters" -> {
      val rounds = ext.Graph.ComponentRounds
      val roundsSql = (1 to rounds).map { k =>
        val p = s"mc${k - 1}"
        s"mnm$k AS (SELECT e.dst AS media_id, MIN(l.cluster) AS nbr_min " +
          s"FROM $p l JOIN mund e ON l.media_id = e.src GROUP BY e.dst), " +
          s"mc$k AS MATERIALIZED (SELECT l.media_id, least(l.cluster, COALESCE(n.nbr_min, l.cluster)) AS cluster " +
          s"FROM $p l LEFT JOIN mnm$k n ON l.media_id = n.media_id)"
      }.mkString(", ")
      s"$mediaPairsCtesSql, " +
        "mpe AS (SELECT id_a, id_b FROM mp WHERE hamming <= 3), " +
        "mund AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM mpe " +
        "UNION ALL SELECT id_b AS src, id_a AS dst FROM mpe), " +
        "mc0 AS MATERIALIZED (SELECT media_id, media_id AS cluster FROM mm), " +
        s"$roundsSql, " +
        s"msz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM mc$rounds GROUP BY cluster) " +
        s"SELECT mc$rounds.media_id, mc$rounds.cluster, msz.cluster_size " +
        s"FROM mc$rounds JOIN msz ON mc$rounds.cluster = msz.cluster " +
        s"ORDER BY mc$rounds.media_id"
    },
    "q_media_phash" ->
      ("WITH m AS (SELECT doc_id AS media_id, 'image' AS kind, " +
        "encode(text)::BIT AS bits, octet_length(encode(text)) AS len " +
        "FROM documents WHERE text IS NOT NULL), " +
        "g AS (SELECT media_id, i, " +
        "get_bit(bits, bi+0)*128 + get_bit(bits, bi+1)*64 + " +
        "get_bit(bits, bi+2)*32 + get_bit(bits, bi+3)*16 + " +
        "get_bit(bits, bi+4)*8 + get_bit(bits, bi+5)*4 + " +
        "get_bit(bits, bi+6)*2 + get_bit(bits, bi+7) AS v " +
        "FROM (SELECT media_id, bits, i, " +
        "CAST(LEAST(CAST(floor(i * (CAST(len AS DOUBLE) / 72)) AS BIGINT), len - 1) * 8 AS INT) AS bi " +
        "FROM m, (SELECT CAST(unnest(range(72)) AS INT) AS i) WHERE len > 0)), " +
        "h AS (SELECT a.media_id, SUM(CASE WHEN a.v < b.v THEN " +
        "CASE WHEN (a.i // 9) * 8 + (a.i % 9) = 63 THEN -9223372036854775808 " +
        "ELSE (1::BIGINT << CAST((a.i // 9) * 8 + (a.i % 9) AS INT)) END " +
        "ELSE 0 END) AS phash " +
        "FROM g a JOIN g b ON a.media_id = b.media_id AND b.i = a.i + 1 AND a.i % 9 < 8 " +
        "GROUP BY 1) " +
        "SELECT m.media_id, m.kind, COALESCE(h.phash, 0)::BIGINT AS phash " +
        "FROM m LEFT JOIN h ON m.media_id = h.media_id ORDER BY m.media_id"),
    "q_cosine_topk" ->
      ("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb " +
        "FROM embeddings WHERE vec_id < 8), " +
        "s AS (SELECT query_id, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(q_emb, CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim_r " +
        "FROM embeddings c JOIN q ON q.query_id <> c.vec_id), " +
        "r AS (SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY cos_sim_r DESC, neighbor_id) AS INTEGER) AS rk, neighbor_id, cos_sim_r FROM s) " +
        "SELECT query_id, rk, neighbor_id, cos_sim_r FROM r WHERE rk <= 5 ORDER BY query_id, rk"),
    // truncation audit: per-dim top-5 over emb[1:m] (DuckDB list slices
    // are 1-based inclusive = Spark's slice(e, 1, m)), recall against
    // the full-dim ranking; the rounded-sim + id tiebreak rule makes
    // rank — and therefore recall — engine-exact
    "q_dim_truncation" -> {
      def topkCte(name: String, expr: String) =
        s"$name AS (SELECT query_id, neighbor_id FROM (" +
          "SELECT query_id, c.vec_id AS neighbor_id, " +
          s"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY " +
          s"round(list_cosine_similarity($expr), 6) DESC, c.vec_id) AS rk " +
          "FROM e c JOIN q ON q.query_id <> c.vec_id) WHERE rk <= 5)"
      val dims = Seq(4, 8, 16, 32)
      val ctes = Seq(
        "q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb " +
          "FROM embeddings WHERE vec_id < 8)",
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
        topkCte("f", "q_emb, c.emb")) ++
        dims.map(m => topkCte(s"t$m", s"q_emb[1:$m], c.emb[1:$m]"))
      val unions = dims.map { m =>
        s"SELECT CAST($m AS INTEGER) AS trunc_dim, COUNT(*) AS n_hits, " +
          "round(COUNT(*) / 40.0, 6) AS recall_at_k " +
          s"FROM t$m JOIN f USING (query_id, neighbor_id)"
      }
      ctes.mkString("WITH ", ", ", " ") +
        unions.mkString("", " UNION ALL ", " ORDER BY trunc_dim")
    },
    "q_embedding_near_dups" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE vec_id < 500) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim_r " +
        "FROM e a JOIN e b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.emb, b.emb), 6) > 0.4 ORDER BY id_a, id_b"),
    "q_embedding_norm_stats" ->
      ("SELECT label, COUNT(*) AS n_vecs, " +
        "round(MIN(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))), 6) AS min_norm, " +
        "round(MAX(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))), 6) AS max_norm " +
        "FROM embeddings GROUP BY label ORDER BY label"),
    // gopher filter battery: every feature/rule written identically on
    // both sides; divisions cast to DOUBLE explicitly; empty/null text
    // excluded on both (0/0 features are meaningless there)
    "q_gopher_filters" ->
      (s"WITH f AS (SELECT doc_id, $toks AS t, text FROM documents WHERE len(text) > 0), " +
        "feat AS (SELECT doc_id, len(t) AS n_words, " +
        "round(CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t), 6) AS mean_word_len, " +
        "round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t), 6) AS alpha_frac, " +
        "len(list_intersect(list_distinct(t), " +
        "['the','a','of','and','to','in','is','on','for'])) AS stopword_hits, " +
        "round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(t), 6) AS symbol_ratio " +
        "FROM f) " +
        "SELECT doc_id, n_words, mean_word_len, alpha_frac, stopword_hits, symbol_ratio, " +
        "n_words BETWEEN 30 AND 50000 AS r_words, " +
        "mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_len, " +
        "alpha_frac >= 0.8 AS r_alpha, " +
        "stopword_hits >= 2 AS r_stop, " +
        "symbol_ratio <= 0.1 AS r_symbol, " +
        "(n_words BETWEEN 30 AND 50000) AND (mean_word_len BETWEEN 3.0 AND 10.0) " +
        "AND alpha_frac >= 0.8 AND stopword_hits >= 2 AND symbol_ratio <= 0.1 AS keep " +
        "FROM feat ORDER BY doc_id"),
    // span dedup: the oracle keeps/removes over span STRINGS (ROW_NUMBER
    // per gram ordered by (doc_id, pos)); the engine groups the same
    // spans by xxhash64 — identical groups short of a 2^-64 collision
    // (the decontamination hashing caveat)
    "q_span_dedup" -> spanDedupOracleSql,
    // exact substring dedup (Lee et al. ExactSubstr): anchors re-derived
    // from gram STRINGS (the Spark side hashes with multi-arg xxhash64 —
    // a collision would change the span set and fail this gate loudly),
    // maximal islands of consecutive cross-document-duplicated k-gram
    // positions, boundaries exact, span content proven by md5 over the
    // identical space-joined token slice
    "q_substring_dedup" ->
      (s"WITH $substringCtesSql " +
        "SELECT sp.doc_id, sp.start_tok, sp.end_tok, " +
        "sp.end_tok - sp.start_tok + 1 AS n_tokens, " +
        "md5(array_to_string(t.l[sp.start_tok:sp.end_tok], ' ')) AS span_md5 " +
        "FROM sp JOIN t ON sp.doc_id = t.doc_id " +
        "ORDER BY sp.doc_id, sp.start_tok"),
    // incremental substring dedup: arrivals (doc_id % 4 = 0) anchor
    // against the BASE corpus's distinct gram set; same island chain
    // as the batch form, base membership instead of min/max-doc
    "q_substring_incremental" -> {
      val k = ext.Cleaning.SubstrK
      s"WITH t AS (SELECT doc_id, $toks AS l FROM documents WHERE text IS NOT NULL), " +
        s"bg AS (SELECT DISTINCT $gramKey AS h " +
        s"FROM t, LATERAL (SELECT unnest(generate_series(1, len(l) - ${k - 1})) AS i) s " +
        s"WHERE doc_id % 4 <> 0 AND len(l) >= $k), " +
        s"aa AS (SELECT doc_id, i AS pos, $gramKey AS h " +
        s"FROM t, LATERAL (SELECT unnest(generate_series(1, len(l) - ${k - 1})) AS i) s " +
        s"WHERE doc_id % 4 = 0 AND len(l) >= $k), " +
        "p AS (SELECT aa.doc_id, aa.pos FROM aa JOIN bg USING (h)), " +
        "m AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) = 1 THEN 0 ELSE 1 END AS brk FROM p), " +
        "isl AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM m), " +
        s"sp AS (SELECT doc_id, MIN(pos) AS start_tok, MAX(pos) + ${k - 1} AS end_tok " +
        "FROM isl GROUP BY doc_id, island) " +
        "SELECT sp.doc_id, sp.start_tok, sp.end_tok, " +
        "sp.end_tok - sp.start_tok + 1 AS n_tokens, " +
        "md5(array_to_string(t.l[sp.start_tok:sp.end_tok], ' ')) AS span_md5 " +
        "FROM sp JOIN t ON sp.doc_id = t.doc_id " +
        "ORDER BY sp.doc_id, sp.start_tok"
    },
    // span excision: keeper = min doc_id over the span's CONTENT md5
    // (a first-anchor election would let an X-only document own X·Y
    // islands and excise Y everywhere — the r17 review fixture);
    // non-keeper spans cut (positions DISTINCT — abutting islands can
    // overlap in token space), cleaned text re-joined in order and
    // md5-proven
    // intra-document exact repeats: the dup predicate keys (doc_id, h)
    // — a gram anchors iff it repeats within its own document — at the
    // family's intra-doc width (SelfRepeatK)
    "q_substring_selfrepeat" -> selfRepeatSql,
    "q_substring_excised" ->
      (s"WITH $substringCtesSql, " +
        "spm AS (SELECT sp.doc_id, sp.start_tok, sp.end_tok, " +
        "md5(array_to_string(t.l[sp.start_tok:sp.end_tok], ' ')) AS span_md5 " +
        "FROM sp JOIN t ON sp.doc_id = t.doc_id), " +
        "kp AS (SELECT span_md5, MIN(doc_id) AS keeper FROM spm GROUP BY span_md5), " +
        "ex AS (SELECT spm.doc_id, spm.start_tok, spm.end_tok FROM spm " +
        "JOIN kp USING (span_md5) WHERE spm.doc_id <> kp.keeper), " +
        "cut AS (SELECT DISTINCT doc_id, cs.pos FROM ex, " +
        "LATERAL (SELECT unnest(generate_series(ex.start_tok, ex.end_tok)) AS pos) cs), " +
        "tokp AS (SELECT doc_id, gi.i AS pos, l[gi.i] AS tok FROM t, " +
        "LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) gi " +
        "WHERE doc_id IN (SELECT doc_id FROM ex)), " +
        "kept AS (SELECT tokp.doc_id, tokp.pos, tokp.tok FROM tokp " +
        "WHERE NOT EXISTS (SELECT 1 FROM cut c WHERE c.doc_id = tokp.doc_id AND c.pos = tokp.pos)), " +
        "ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_kept, " +
        "md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5 FROM kept GROUP BY doc_id), " +
        "st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_excised FROM ex GROUP BY doc_id), " +
        "ct AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tokens_removed FROM cut GROUP BY doc_id) " +
        "SELECT st.doc_id, st.n_spans_excised, ct.tokens_removed, " +
        "COALESCE(ka.n_tokens_kept, 0) AS n_tokens_kept, " +
        "COALESCE(ka.cleaned_md5, md5('')) AS cleaned_md5 " +
        "FROM st JOIN ct USING (doc_id) LEFT JOIN ka USING (doc_id) " +
        "ORDER BY st.doc_id"),
    // paragraph dedup: the structured-doc construction (4 members per
    // group ordered by doc_id, odd groups quoting the previous group's
    // first member) re-derived in SQL, then the string-keyed ROW_NUMBER
    // election over trimmed paragraphs — the engine keys on xxhash64
    // paragraph hashes (collision would fail the hash-compare loudly)
    "q_paragraph_dedup" ->
      ("WITH members AS (SELECT doc_id // 4 AS g, doc_id, text FROM documents WHERE text IS NOT NULL), " +
        "sd0 AS (SELECT g, string_agg(text, chr(10)||chr(10) ORDER BY doc_id) AS body FROM members GROUP BY g), " +
        "firsts AS (SELECT doc_id // 4 AS pg, text AS planted FROM documents " +
        "WHERE text IS NOT NULL AND doc_id % 4 = 0), " +
        "sd AS (SELECT g AS doc_id, CASE WHEN g % 2 = 1 AND f.planted IS NOT NULL " +
        "THEN body || chr(10) || chr(10) || f.planted ELSE body END AS text " +
        "FROM sd0 LEFT JOIN firsts f ON sd0.g - 1 = f.pg), " +
        "p0 AS (SELECT doc_id, string_split(text, chr(10)||chr(10)) AS ps FROM sd), " +
        "p AS (SELECT doc_id, unnest(generate_series(1, len(ps))) AS pos, ps FROM p0), " +
        "q AS (SELECT doc_id, pos, trim(ps[pos]) AS para FROM p), " +
        "q2 AS (SELECT * FROM q WHERE para <> ''), " +
        "w AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY para) AS cnt, " +
        "ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn FROM q2), " +
        "a AS (SELECT doc_id, COUNT(*) AS n_paras, " +
        "SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_removed FROM w GROUP BY doc_id), " +
        "sel AS (SELECT sd.doc_id, CAST(COALESCE(a.n_paras, 0) AS BIGINT) AS n_paras, " +
        "CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed FROM sd LEFT JOIN a USING (doc_id)) " +
        "SELECT doc_id, n_paras, n_removed, " +
        "CASE WHEN n_paras > 0 THEN round(n_removed / CAST(n_paras AS DOUBLE), 6) ELSE 0.0 END AS dup_frac, " +
        "CASE WHEN n_paras > 0 THEN round(n_removed / CAST(n_paras AS DOUBLE), 6) ELSE 0.0 END <= 0.2 AS keep " +
        "FROM sel ORDER BY doc_id"),
    // C4 line filter: the structured builder re-derived (concat_ws skips
    // NULL branches in both engines), then the line rules as a
    // list_filter lambda mirroring Cleaning.c4LineFilterDf exactly
    "q_c4_line_filter" ->
      ("WITH sd AS (SELECT doc_id, concat_ws(chr(10), " +
        "substring(text, 1, 60) || '.', " +
        "substring(text, 1, 12), " +
        "CASE WHEN doc_id % 7 = 0 THEN 'Please enable javascript to view this content.' END, " +
        "CASE WHEN doc_id % 5 = 0 THEN 'We use cookies as described in our cookie policy.' END, " +
        "'Deterministic check number ' || CAST(doc_id AS VARCHAR) || ' passed the quality gate.', " +
        "CASE WHEN doc_id % 3 <> 0 THEN substring(text, 61, 50) || ' right?' END, " +
        "CASE WHEN doc_id % 31 = 0 THEN 'if (x) { runScript(); }' END, " +
        "CASE WHEN doc_id % 37 = 0 THEN 'Lorem ipsum dolor sit amet.' END" +
        ") AS text FROM documents WHERE text IS NOT NULL), " +
        "k AS (SELECT doc_id, text, " +
        "len(string_split(text, chr(10))) AS lines_total, " +
        "list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), " +
        "l -> right(l, 1) IN ('.', '!', '?', '\"') " +
        "AND len(regexp_extract_all(l, '\\S+')) >= 5 " +
        "AND NOT contains(lower(l), 'javascript') " +
        "AND NOT contains(lower(l), 'terms of use') " +
        "AND NOT contains(lower(l), 'privacy policy') " +
        "AND NOT contains(lower(l), 'cookie policy') " +
        "AND NOT contains(lower(l), 'uses cookies') " +
        "AND NOT contains(lower(l), 'use of cookies') " +
        "AND NOT contains(lower(l), 'use cookies')) AS kept FROM sd), " +
        "r AS (SELECT doc_id, " +
        "CAST(lines_total AS BIGINT) AS lines_total, " +
        "CAST(len(kept) AS BIGINT) AS lines_kept, " +
        "CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS kept_chars, " +
        "CASE WHEN contains(lower(text), 'lorem ipsum') OR contains(text, '{') THEN 'page_filtered' " +
        "WHEN len(kept) < 3 THEN 'too_short' ELSE 'kept' END AS verdict, " +
        "substring(array_to_string(kept, chr(10)), 1, 40) AS preview FROM k) " +
        "SELECT * FROM r ORDER BY doc_id"),
    // the C4 rewrite form: same builder + rules, emitting the cleaned
    // text of kept pages only
    "q_c4_cleaned_docs" ->
      ("WITH sd AS (SELECT doc_id, concat_ws(chr(10), " +
        "substring(text, 1, 60) || '.', " +
        "substring(text, 1, 12), " +
        "CASE WHEN doc_id % 7 = 0 THEN 'Please enable javascript to view this content.' END, " +
        "CASE WHEN doc_id % 5 = 0 THEN 'We use cookies as described in our cookie policy.' END, " +
        "'Deterministic check number ' || CAST(doc_id AS VARCHAR) || ' passed the quality gate.', " +
        "CASE WHEN doc_id % 3 <> 0 THEN substring(text, 61, 50) || ' right?' END, " +
        "CASE WHEN doc_id % 31 = 0 THEN 'if (x) { runScript(); }' END, " +
        "CASE WHEN doc_id % 37 = 0 THEN 'Lorem ipsum dolor sit amet.' END" +
        ") AS text FROM documents WHERE text IS NOT NULL), " +
        "k AS (SELECT doc_id, text, " +
        "array_to_string(list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), " +
        "l -> right(l, 1) IN ('.', '!', '?', '\"') " +
        "AND len(regexp_extract_all(l, '\\S+')) >= 5 " +
        "AND NOT contains(lower(l), 'javascript') " +
        "AND NOT contains(lower(l), 'terms of use') " +
        "AND NOT contains(lower(l), 'privacy policy') " +
        "AND NOT contains(lower(l), 'cookie policy') " +
        "AND NOT contains(lower(l), 'uses cookies') " +
        "AND NOT contains(lower(l), 'use of cookies') " +
        "AND NOT contains(lower(l), 'use cookies')), chr(10)) AS clean_text FROM sd) " +
        "SELECT doc_id, clean_text FROM k " +
        "WHERE NOT (contains(lower(text), 'lorem ipsum') OR contains(text, '{')) " +
        "AND len(string_split(clean_text, chr(10))) >= 3 AND length(clean_text) > 0 " +
        "ORDER BY doc_id"),
    // boilerplate line removal: the same structured-docs builder (with
    // source), per-(domain, line) document frequency, two-sided
    // threshold, and — for the rewrite — the per-domain dictionary
    // LEFT-joined back and applied as a list_filter
    "q_boilerplate_lines" ->
      (boilerSdSql +
        "lines AS (SELECT source, doc_id, " +
        "unnest(list_distinct(list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), " +
        "l -> length(l) > 0))) AS line FROM sd), " +
        "tot AS (SELECT source, count(*) AS source_docs FROM sd GROUP BY source), " +
        "df AS (SELECT source, line, count(*) AS df_docs FROM lines GROUP BY source, line), " +
        "f AS (SELECT d.source, d.line, d.df_docs, t.source_docs, " +
        "round(d.df_docs * 1.0 / t.source_docs, 6) AS df_frac_r " +
        "FROM df d JOIN tot t ON d.source = t.source " +
        "WHERE d.df_docs >= 2 AND d.df_docs >= 0.05 * t.source_docs) " +
        "SELECT * FROM f ORDER BY source, line"),
    "q_boilerplate_cleaned" ->
      (boilerSdSql +
        "lines AS (SELECT source, doc_id, " +
        "unnest(list_distinct(list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), " +
        "l -> length(l) > 0))) AS line FROM sd), " +
        "tot AS (SELECT source, count(*) AS source_docs FROM sd GROUP BY source), " +
        "df AS (SELECT source, line, count(*) AS df_docs FROM lines GROUP BY source, line), " +
        "f AS (SELECT d.source, d.line FROM df d JOIN tot t ON d.source = t.source " +
        "WHERE d.df_docs >= 2 AND d.df_docs >= 0.05 * t.source_docs), " +
        "dict AS (SELECT source, list_sort(list(line)) AS boiler FROM f GROUP BY source), " +
        "r AS (SELECT sd.doc_id, sd.source, " +
        "list_transform(string_split(sd.text, chr(10)), x -> trim(x)) AS all_lines, " +
        "coalesce(dict.boiler, CAST([] AS VARCHAR[])) AS boiler " +
        "FROM sd LEFT JOIN dict ON sd.source = dict.source) " +
        "SELECT doc_id, source, CAST(len(all_lines) AS BIGINT) AS lines_total, " +
        "CAST(len(all_lines) - len(list_filter(all_lines, l -> NOT list_contains(boiler, l))) AS BIGINT) AS removed_lines, " +
        "array_to_string(list_filter(all_lines, l -> NOT list_contains(boiler, l)), chr(10)) AS clean_text " +
        "FROM r ORDER BY doc_id"),
    // acquisition funnel: the url/host/structured-doc builders and the
    // four stage verdicts (canon-URL election, blocklist, c4 page
    // rules, boilerplate floor) re-derived and chained cumulatively
    "q_acquisition_funnel" ->
      (boilerSdSql +
        "u AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 4 = 0 THEN 'https://news.example.com' || art || '?a=1&b=2' " +
        "WHEN doc_id % 4 = 1 THEN 'HTTPS://News.Example.COM:443' || art || '/?b=2&a=1&utm_source=feed#frag' " +
        "WHEN doc_id % 4 = 2 THEN 'https://news.example.com' || art || '/?a=1&utm_medium=email&b=2' " +
        "ELSE 'https://news.example.com' || art || '?a=1&b=2#sec' END AS url " +
        "FROM (SELECT doc_id, '/articles/' || CAST(doc_id // 4 AS VARCHAR) AS art FROM sd) u0), " +
        "c AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM u), " +
        "c2 AS (SELECT doc_id, " +
        "regexp_replace(lower(regexp_extract(nofrag, '^([a-zA-Z]+://[^/?#]+)', 1)), ':(443|80)$', '') AS hostpart, " +
        "regexp_replace(nofrag, '^[a-zA-Z]+://[^/?#]+', '') AS rem FROM c), " +
        "c3 AS (SELECT doc_id, hostpart, " +
        "regexp_replace(regexp_replace(rem, '\\?.*$', ''), '/$', '') AS path, " +
        "CASE WHEN contains(rem, '?') THEN regexp_replace(rem, '^[^?]*\\?', '') ELSE '' END AS query FROM c2), " +
        "c4c AS (SELECT doc_id, hostpart, path, " +
        "list_sort(list_filter(string_split(query, '&'), " +
        "p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[a-z]+|fbclid|gclid)='))) AS kept FROM c3), " +
        "c5 AS (SELECT doc_id, hostpart || path || " +
        "CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS canon_url FROM c4c), " +
        "ku AS (SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY canon_url) AS s_url FROM c5), " +
        "h AS (SELECT doc_id, " +
        "CASE WHEN (doc_id // 20) % 4 = 0 THEN 'cdn.' ELSE '' END || lower(source) || " +
        "'.example.' || CASE WHEN (doc_id // 20) % 3 = 0 THEN 'org' ELSE 'com' END AS host FROM sd), " +
        "bk AS (SELECT doc_id, " +
        "len(list_filter(['cdn.src5.example.com', 'src3.example.com', 'src5.example.com', 'example.org'], " +
        "b -> host = b OR ends_with(host, '.' || b))) > 0 AS blocked FROM h), " +
        "c4v AS (SELECT doc_id, " +
        "NOT (contains(lower(text), 'lorem ipsum') OR contains(text, '{')) AND " +
        "len(list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), " +
        "l -> right(l, 1) IN ('.', '!', '?', '\"') " +
        "AND len(regexp_extract_all(l, '\\S+')) >= 5 " +
        "AND NOT contains(lower(l), 'javascript') " +
        "AND NOT contains(lower(l), 'terms of use') " +
        "AND NOT contains(lower(l), 'privacy policy') " +
        "AND NOT contains(lower(l), 'cookie policy') " +
        "AND NOT contains(lower(l), 'uses cookies') " +
        "AND NOT contains(lower(l), 'use of cookies') " +
        "AND NOT contains(lower(l), 'use cookies'))) >= 3 AS c4_kept FROM sd), " +
        "lns AS (SELECT source, doc_id, " +
        "unnest(list_distinct(list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), " +
        "l -> length(l) > 0))) AS line FROM sd), " +
        "tot AS (SELECT source, count(*) AS source_docs FROM sd GROUP BY source), " +
        "dfq AS (SELECT source, line, count(*) AS df_docs FROM lns GROUP BY source, line), " +
        "fdict AS (SELECT d.source, d.line FROM dfq d JOIN tot t ON d.source = t.source " +
        "WHERE d.df_docs >= 2 AND d.df_docs >= 0.05 * t.source_docs), " +
        "dict AS (SELECT source, list(line) AS boiler FROM fdict GROUP BY source), " +
        "bo AS (SELECT sd.doc_id, " +
        "len(list_filter(list_transform(string_split(sd.text, chr(10)), x -> trim(x)), " +
        "l -> NOT list_contains(coalesce(dict.boiler, CAST([] AS VARCHAR[])), l))) >= 3 AS boiler_kept " +
        "FROM sd LEFT JOIN dict ON sd.source = dict.source), " +
        "fl AS (SELECT sd.doc_id, ku.s_url, ku.s_url AND NOT bk.blocked AS s_block " +
        "FROM sd JOIN ku USING (doc_id) JOIN bk USING (doc_id)), " +
        "fl2 AS (SELECT fl.doc_id, s_url, s_block, s_block AND c4v.c4_kept AS s_c4 " +
        "FROM fl JOIN c4v USING (doc_id)), " +
        "fl3 AS (SELECT fl2.doc_id, s_url, s_block, s_c4, s_c4 AND bo.boiler_kept AS s_boiler " +
        "FROM fl2 JOIN bo USING (doc_id)), " +
        "agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0, " +
        "CAST(SUM(CASE WHEN s_url THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(SUM(CASE WHEN s_block THEN 1 ELSE 0 END) AS BIGINT) AS n2, " +
        "CAST(SUM(CASE WHEN s_c4 THEN 1 ELSE 0 END) AS BIGINT) AS n3, " +
        "CAST(SUM(CASE WHEN s_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n4 FROM fl3) " +
        "SELECT 1 AS stage, 'raw' AS stage_name, n0 AS n_docs FROM agg " +
        "UNION ALL SELECT 2, 'url_dedup', n1 FROM agg " +
        "UNION ALL SELECT 3, 'blocklist', n2 FROM agg " +
        "UNION ALL SELECT 4, 'c4_pages', n3 FROM agg " +
        "UNION ALL SELECT 5, 'boilerplate', n4 FROM agg ORDER BY stage"),
    // domain blocklist: the host builder re-derived, the longest-first
    // blocklist literal, and DNS-suffix matching (exact host or a
    // '.'-prefixed suffix — never a bare string suffix)
    "q_domain_blocklist" ->
      ("WITH hd AS (SELECT doc_id, " +
        "CASE WHEN (doc_id // 20) % 4 = 0 THEN 'cdn.' ELSE '' END || lower(source) || " +
        "'.example.' || CASE WHEN (doc_id // 20) % 3 = 0 THEN 'org' ELSE 'com' END AS host " +
        "FROM documents WHERE text IS NOT NULL), " +
        "m AS (SELECT doc_id, host, " +
        "list_filter(['cdn.src5.example.com', 'src3.example.com', 'src5.example.com', 'example.org'], " +
        "b -> host = b OR ends_with(host, '.' || b)) AS matches FROM hd) " +
        "SELECT doc_id, host, len(matches) > 0 AS blocked, matches[1] AS matched_suffix " +
        "FROM m ORDER BY doc_id"),
    // URL dedup: the url builder re-derived, then the canonicalization
    // chain mirroring Cleaning.urlDedupDf expression by expression
    "q_url_dedup" ->
      ("WITH u0 AS (SELECT doc_id, '/articles/' || CAST(doc_id // 3 AS VARCHAR) AS art " +
        "FROM documents WHERE text IS NOT NULL), " +
        "u AS (SELECT doc_id, CASE " + urlCaseBranchesSql + " AS url FROM u0), " +
        canonUrlStepsSql("u", "uc") + " " +
        "SELECT doc_id, url, canon_url, " +
        "MIN(doc_id) OVER (PARTITION BY canon_url) AS keeper_id, " +
        "doc_id <> MIN(doc_id) OVER (PARTITION BY canon_url) AS dup " +
        "FROM uc5 ORDER BY doc_id"),
    // length-bucketed batching: all-integer bucket math, exact compare
    "q_length_buckets" ->
      (s"WITH t AS (SELECT len($toks) AS n FROM documents WHERE text IS NOT NULL), " +
        "b AS (SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 48 THEN 48 " +
        "WHEN n <= 64 THEN 64 ELSE 96 END AS bucket_capacity, n, LEAST(n, 96) AS kept FROM t) " +
        "SELECT bucket_capacity, COUNT(*) AS n_docs, " +
        "CAST(SUM(n) AS BIGINT) AS total_tokens, " +
        "CAST(SUM(kept) AS BIGINT) AS kept_tokens, " +
        "CAST(bucket_capacity * COUNT(*) - SUM(kept) AS BIGINT) AS pad_waste, " +
        "CAST(SUM(n - kept) AS BIGINT) AS trunc_loss, " +
        "round(CAST(SUM(kept) AS DOUBLE) / (bucket_capacity * COUNT(*)), 6) AS efficiency " +
        "FROM b GROUP BY bucket_capacity ORDER BY bucket_capacity"),
    // The winnow family, fully replayed (md5-60 span hashes + the
    // window-argmin selection — see winnowCteSql). q_winnow_span_dedup
    // deliberately does NOT share spanDedupOracleSql: its verdicts
    // equal the exact operator's only where duplicated passages reach
    // the w + n - 1 winnowing guarantee; this oracle replays the
    // RELAXED candidate gate itself, so sub-guarantee misses match too
    // (the pinned CleaningSpec miss fixture keeps the relaxation
    // visible; planted-fixture parity with the exact span-dedup core
    // covers the guarantee regime).
    "q_winnow_stats" ->
      (s"WITH ${winnowCteSql("")}, " +
        "wnf AS (SELECT doc_id, COUNT(*) AS nf FROM wfp GROUP BY doc_id) " +
        s"SELECT d.doc_id, CAST(greatest(len(d.t)-${ext.Cleaning.WinnowN - 1}, 0) AS BIGINT) AS n_spans, " +
        "CAST(COALESCE(wnf.nf, 0) AS BIGINT) AS n_fingerprints, " +
        s"CASE WHEN len(d.t) >= ${ext.Cleaning.WinnowN} THEN " +
        s"round(COALESCE(wnf.nf, 0) / CAST(len(d.t)-${ext.Cleaning.WinnowN - 1} AS DOUBLE), 6) " +
        "ELSE 0.0 END AS density " +
        "FROM wdocs d LEFT JOIN wnf USING (doc_id) ORDER BY doc_id"),
    "q_winnow_matches" ->
      (s"WITH ${winnowCteSql(s" AND doc_id < ${ext.Cleaning.WinnowIdLimit}")}, " +
        "wdf AS (SELECT DISTINCT doc_id, h FROM wfp) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared " +
        "FROM wdf a JOIN wdf b ON a.h = b.h AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 ORDER BY id_a, id_b"),
    "q_winnow_span_dedup" ->
      (s"WITH ${winnowCteSql("")}, " +
        // candidate gate: a selected fingerprint hash at > 1 selected
        // positions corpus-wide marks every doc holding it (the count
        // is over selected POSITIONS, same-doc repeats included —
        // mirrors the Spark window count over the exploded selection)
        "wcand AS (SELECT DISTINCT doc_id FROM " +
        "(SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS cnt FROM wfp) WHERE cnt > 1), " +
        // exact string-keyed election over CANDIDATE docs' spans only
        "wg AS (SELECT s.doc_id, s.pos, s.gram FROM wsp s JOIN wcand USING (doc_id)), " +
        "ww AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM wg), " +
        "wrm AS (SELECT doc_id, SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_removed FROM ww GROUP BY doc_id), " +
        s"wfull AS (SELECT d.doc_id, CAST(greatest(len(d.t)-${ext.Cleaning.WinnowN - 1}, 0) AS BIGINT) AS n_spans, " +
        "CAST(COALESCE(wrm.n_removed, 0) AS BIGINT) AS n_removed " +
        "FROM wdocs d LEFT JOIN wrm USING (doc_id)) " +
        "SELECT doc_id, n_spans, n_removed, " +
        "CASE WHEN n_spans > 0 THEN round(n_removed / CAST(n_spans AS DOUBLE), 6) ELSE 0.0 END AS dup_frac, " +
        s"CASE WHEN n_spans > 0 THEN round(n_removed / CAST(n_spans AS DOUBLE), 6) ELSE 0.0 END <= ${ext.Cleaning.SpanMaxDupFrac} AS keep " +
        "FROM wfull ORDER BY doc_id"),
    // perplexity buckets: NTILE(3) per source over the micro-nat-snapped
    // unigram score (CTE = the q_unigram_logprob oracle verbatim); the
    // doc_id tiebreak makes the split order engine-exact
    "q_perplexity_buckets" ->
      (s"WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents), " +
        "cnt AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term), " +
        "tot AS (SELECT SUM(cnt) AS tot FROM cnt), " +
        "sc AS (SELECT doc_id, CAST(floor(ln(CAST(cnt AS DOUBLE) / tot) * 1e6 + 0.5) AS BIGINT) AS mlp " +
        "FROM toks JOIN cnt USING (term) CROSS JOIN tot), " +
        "lp AS (SELECT doc_id, floor(CAST(SUM(mlp) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS avg_logprob " +
        "FROM sc GROUP BY doc_id), " +
        "b AS (SELECT lp.doc_id, d.source, lp.avg_logprob, " +
        "NTILE(3) OVER (PARTITION BY d.source ORDER BY lp.avg_logprob DESC, lp.doc_id) AS bucket " +
        "FROM lp JOIN documents d USING (doc_id)) " +
        "SELECT doc_id, source, avg_logprob, bucket, " +
        "CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket_name " +
        "FROM b ORDER BY doc_id"),
    // zipf slope: ln(rank)/ln(count) snapped to micro-units, all five
    // regression sums exact (Spark DECIMAL(38,0) ≙ DuckDB HUGEINT),
    // one integer→double cast before the division on both sides
    "q_zipf_slope" ->
      (s"WITH t AS (SELECT source, unnest($toks) AS term FROM documents), " +
        "c AS (SELECT source, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2), " +
        "r AS (SELECT source, term, cnt, ROW_NUMBER() OVER " +
        "(PARTITION BY source ORDER BY cnt DESC, term) AS rnk FROM c), " +
        "m AS (SELECT source, " +
        "CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS x, " +
        "CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS y FROM r), " +
        "a AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, " +
        "SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM m GROUP BY source) " +
        "SELECT source, CAST(n AS BIGINT) AS n_terms, " +
        "CASE WHEN n*sxx - sx*sx = 0 THEN 0.0 ELSE " +
        "round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) END AS zipf_slope " +
        "FROM a ORDER BY source"),
    // source overlap: oracle over gram STRINGS (the deconSql shingle
    // fragment), engine over xxhash64 grams — identical sets short of a
    // collision (decontamination's hashing caveat)
    "q_source_overlap" ->
      (s"WITH docs AS (SELECT source, $toks AS t FROM documents WHERE text IS NOT NULL), " +
        "g AS (SELECT DISTINCT source, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(t)-4, 1)+1), i -> array_to_string(t[i:i+4], ' ')))) AS gram FROM docs), " +
        "s AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source), " +
        "p AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared " +
        "FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT source_a, source_b, sa.n_grams AS grams_a, sb.n_grams AS grams_b, n_shared, " +
        "round(n_shared / CAST(sa.n_grams + sb.n_grams - n_shared AS DOUBLE), 6) AS jaccard " +
        "FROM p JOIN s sa ON p.source_a = sa.source JOIN s sb ON p.source_b = sb.source " +
        "ORDER BY source_a, source_b"),
    // temperature mixture: pow(share, tau) snaps to nano-units before
    // the normalizing sum (exact integer normalization); the
    // budget*npw product stays under 2^53 so the double math is exact.
    // COALESCE/CASE guards mirror the engine's degenerate-corpus rule
    // (all-zero token totals -> all-zero plan, not NULL/NaN)
    "q_mixture_temperature" ->
      (s"WITH ps AS (SELECT source, COUNT(*) AS n_docs, " +
        s"CAST(SUM(coalesce(len($toks), 0)) AS BIGINT) AS n_tokens FROM documents GROUP BY source), " +
        "t AS (SELECT SUM(n_tokens) AS tot FROM ps), " +
        "m AS (SELECT source, n_docs, n_tokens, " +
        "COALESCE(round(CAST(n_tokens AS DOUBLE) / nullif(tot, 0), 6), 0.0) AS share, " +
        "COALESCE(CAST(floor(pow(CAST(n_tokens AS DOUBLE) / nullif(tot, 0), 0.5) * 1e9 + 0.5) AS BIGINT), 0) AS npw " +
        "FROM ps CROSS JOIN t), " +
        "tw AS (SELECT SUM(npw) AS stot FROM m) " +
        "SELECT source, n_docs, n_tokens, share, " +
        "CASE WHEN COALESCE(stot, 0) > 0 THEN round(CAST(npw AS DOUBLE) / stot, 6) ELSE 0.0 END AS weight, " +
        "CASE WHEN COALESCE(stot, 0) > 0 THEN CAST(floor(500000.0 * npw / stot + 0.5) AS BIGINT) ELSE 0 END AS target_tokens, " +
        "CASE WHEN n_tokens > 0 THEN " +
        "floor(least(1.0, CAST(CAST(floor(500000.0 * npw / stot + 0.5) AS BIGINT) AS DOUBLE) " +
        "/ CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS sample_rate " +
        "FROM m CROSS JOIN tw ORDER BY source"),
    // curation funnel: every stage verdict re-states its operator's
    // oracle fragment verbatim (gopher rules, bigram repetition, model
    // score); the dedup keeper is min-doc_id-among-survivors per
    // content hash
    "q_curation_funnel" ->
      (s"WITH f AS (SELECT doc_id, text, $toks AS t FROM documents WHERE length(text) > 0), " +
        "feat AS (SELECT doc_id, text, t, CAST(len(t) AS BIGINT) AS n_tokens, " +
        "len(t) AS n_words, " +
        "round(CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t), 6) AS mean_word_len, " +
        "round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t), 6) AS alpha_frac, " +
        "len(list_intersect(list_distinct(t), " +
        "['the','a','of','and','to','in','is','on','for'])) AS stop_hits, " +
        "round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(t), 6) AS symbol_ratio, " +
        "CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        "/ len(t) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        "CAST(len(t) AS DOUBLE) AS n_tok, " +
        "CAST(length(text) AS DOUBLE) / len(t) AS avg_len FROM f), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), " +
        "i -> t[i] || ' ' || t[i+1])) AS bigram FROM f), " +
        "bc AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2), " +
        "ba AS (SELECT doc_id, SUM(cnt) AS nb, MAX(cnt) AS topc FROM bc GROUP BY 1), " +
        "st AS (SELECT feat.doc_id, feat.text, feat.n_tokens, " +
        "(n_words BETWEEN 30 AND 50000) AND (mean_word_len BETWEEN 3.0 AND 10.0) " +
        "AND alpha_frac >= 0.8 AND stop_hits >= 2 AND symbol_ratio <= 0.1 AS s_rules, " +
        "COALESCE(round(topc / CAST(nb AS DOUBLE), 6), 0.0) <= 0.20 AS rep_keep, " +
        "round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) >= 0.5 AS q_keep " +
        "FROM feat LEFT JOIN ba ON feat.doc_id = ba.doc_id), " +
        "fl AS (SELECT doc_id, text, n_tokens, s_rules, " +
        "s_rules AND rep_keep AS s_rep, s_rules AND rep_keep AND q_keep AS s_q FROM st), " +
        "fl2 AS (SELECT *, s_q AND doc_id = min(CASE WHEN s_q THEN doc_id END) " +
        "OVER (PARTITION BY md5(text)) AS s_dedup FROM fl), " +
        "agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0, CAST(SUM(n_tokens) AS BIGINT) AS t0, " +
        "CAST(SUM(CASE WHEN s_rules THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(SUM(CASE WHEN s_rules THEN n_tokens ELSE 0 END) AS BIGINT) AS t1, " +
        "CAST(SUM(CASE WHEN s_rep THEN 1 ELSE 0 END) AS BIGINT) AS n2, " +
        "CAST(SUM(CASE WHEN s_rep THEN n_tokens ELSE 0 END) AS BIGINT) AS t2, " +
        "CAST(SUM(CASE WHEN s_q THEN 1 ELSE 0 END) AS BIGINT) AS n3, " +
        "CAST(SUM(CASE WHEN s_q THEN n_tokens ELSE 0 END) AS BIGINT) AS t3, " +
        "CAST(SUM(CASE WHEN s_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n4, " +
        "CAST(SUM(CASE WHEN s_dedup THEN n_tokens ELSE 0 END) AS BIGINT) AS t4 FROM fl2) " +
        "SELECT 1 AS stage, 'raw' AS stage_name, n0 AS n_docs, t0 AS n_tokens FROM agg " +
        "UNION ALL SELECT 2, 'rules', n1, t1 FROM agg " +
        "UNION ALL SELECT 3, 'repetition', n2, t2 FROM agg " +
        "UNION ALL SELECT 4, 'quality', n3, t3 FROM agg " +
        "UNION ALL SELECT 5, 'dedup', n4, t4 FROM agg ORDER BY stage"),
    // filter ensemble: the funnel's feat/bigram/st CTEs verbatim, but
    // signals UNCONDITIONED; dup = any smaller-id same-content copy
    // filter attribution: one global aggregate over the ensemble
    // matrix (same CTE prefix), stacked to 4 per-filter rows with the
    // unique/shared split and a 6-dp marginal fraction
    "q_filter_attribution" -> {
      def row(name: String, f: String) =
        s"SELECT '$name' AS filter, " +
          s"CAST(SUM(CASE WHEN $f THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, " +
          s"CAST(SUM(CASE WHEN $f AND n_flags = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique " +
          "FROM fm"
      s"WITH $filterEnsembleCtesSql, " +
        "fm AS (SELECT NOT rules_pass AS b1, NOT repetition_pass AS b2, " +
        "NOT quality_pass AS b3, is_dup AS b4, " +
        "(CASE WHEN NOT rules_pass THEN 1 ELSE 0 END) + " +
        "(CASE WHEN NOT repetition_pass THEN 1 ELSE 0 END) + " +
        "(CASE WHEN NOT quality_pass THEN 1 ELSE 0 END) + " +
        "(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_flags FROM dd), " +
        "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN n_flags > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_any_flag FROM fm), " +
        "rows_ AS (" + row("rules", "b1") + " UNION ALL " + row("repetition", "b2") +
        " UNION ALL " + row("quality", "b3") + " UNION ALL " + row("duplicate", "b4") + ") " +
        "SELECT filter, n_flagged, n_unique, n_flagged - n_unique AS n_shared, " +
        "CASE WHEN n_flagged > 0 THEN floor(CAST(n_unique AS DOUBLE) / n_flagged * 1000000.0 + 0.5) / 1000000.0 " +
        "ELSE 0.0 END AS marginal_frac, tot.n_docs, tot.n_any_flag " +
        "FROM rows_ CROSS JOIN tot ORDER BY filter"
    },
    "q_filter_ensemble" ->
      (s"WITH $filterEnsembleCtesSql " +

        "SELECT doc_id, rules_pass, repetition_pass, quality_pass, is_dup, " +
        "(CASE WHEN NOT rules_pass THEN 1 ELSE 0 END) + " +
        "(CASE WHEN NOT repetition_pass THEN 1 ELSE 0 END) + " +
        "(CASE WHEN NOT quality_pass THEN 1 ELSE 0 END) + " +
        "(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_flags, " +
        "CASE WHEN NOT rules_pass THEN 'rules' " +
        "WHEN NOT repetition_pass THEN 'repetition' " +
        "WHEN NOT quality_pass THEN 'quality' " +
        "WHEN is_dup THEN 'duplicate' ELSE 'clean' END AS verdict " +
        "FROM dd ORDER BY doc_id"),
    // quality AUC: histogram-rank Mann-Whitney with doubled midranks —
    // integer-exact on both engines; score fragment = the
    // q_model_quality_filter oracle verbatim
    "q_quality_auc" ->
      (s"WITH f AS (SELECT lang, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents WHERE length(text) > 0), " +
        "sc AS (SELECT round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) AS score, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM f), " +
        "hist AS (SELECT score, COUNT(*) AS n_s, SUM(pos) AS npos_s FROM sc GROUP BY score), " +
        "c AS (SELECT n_s, npos_s, COALESCE(SUM(n_s) OVER " +
        "(ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM hist), " +
        "a AS (SELECT CAST(SUM(npos_s) AS BIGINT) AS n_pos, " +
        "CAST(SUM(n_s - npos_s) AS BIGINT) AS n_neg, " +
        "CAST(SUM(CAST(npos_s AS HUGEINT) * (2 * cum + n_s + 1)) AS HUGEINT) AS sr2 FROM c) " +
        "SELECT n_pos, n_neg, CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.5 ELSE " +
        "round(CAST(sr2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE) " +
        "/ CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE), 6) END AS auc " +
        "FROM a"),
    // corpus diff: both snapshots derive from content-hash buckets (the
    // split trick), so old/new membership and the changed-text rewrite
    // are engine-portable
    "q_corpus_diff" ->
      ("WITH d0 AS (SELECT doc_id, source, text, substr(md5(text), 1, 2) AS b " +
        "FROM documents WHERE text IS NOT NULL), " +
        "o AS (SELECT doc_id, source AS src_old, md5(text) AS h_old FROM d0 WHERE b < 'f0'), " +
        "n AS (SELECT doc_id, source AS src_new, " +
        "md5(CASE WHEN b >= '10' AND b < '20' THEN text || ' v2' ELSE text END) AS h_new " +
        "FROM d0 WHERE b >= '10'), " +
        "j AS (SELECT COALESCE(n.src_new, o.src_old) AS source, " +
        "CASE WHEN h_old IS NULL THEN 'added' WHEN h_new IS NULL THEN 'removed' " +
        "WHEN h_old = h_new THEN 'unchanged' ELSE 'changed' END AS status " +
        "FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) " +
        "SELECT source, status, COUNT(*) AS n_docs FROM j GROUP BY 1, 2 ORDER BY source, status"),
    // bigram conditional LM: ln p(w2|w1) micro-snapped, exact BIGINT
    // per-doc aggregation (the q_unigram_logprob design one order up)
    "q_bigram_logprob" ->
      (s"WITH f AS (SELECT doc_id, $toks AS t FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), " +
        "i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p FROM f WHERE len(t) >= 2), " +
        "pairs AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg), " +
        "c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2), " +
        "c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1), " +
        "sc AS (SELECT doc_id, CAST(floor(ln(CAST(c2 AS DOUBLE) / c1) * 1e6 + 0.5) AS BIGINT) AS mlp " +
        "FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1)) " +
        "SELECT doc_id, COUNT(*) AS n_bigrams, " +
        "floor(CAST(SUM(mlp) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS avg_logprob " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    // PMI collocations: marginals from the bigram count table; PMI
    // micro-snapped so the (pmi desc, w1, w2) top-k is engine-exact
    "q_top_collocations" ->
      (s"WITH f AS (SELECT $toks AS t FROM documents), " +
        "bg AS (SELECT unnest(list_transform(range(1, len(t)), " +
        "i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p FROM f WHERE len(t) >= 2), " +
        "c2 AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2), " +
        "r1 AS (SELECT w1, SUM(c2) AS r1 FROM c2 GROUP BY 1), " +
        "r2 AS (SELECT w2, SUM(c2) AS r2 FROM c2 GROUP BY 1), " +
        "n AS (SELECT SUM(c2) AS n FROM c2) " +
        "SELECT w1, w2, c2 AS n_pair, " +
        "floor(ln(CAST(c2 AS DOUBLE) * n / (CAST(r1 AS DOUBLE) * r2)) * 1e6 + 0.5) / 1e6 AS pmi " +
        "FROM c2 JOIN r1 USING (w1) JOIN r2 USING (w2) CROSS JOIN n " +
        "WHERE c2 >= 5 ORDER BY pmi DESC, w1, w2 LIMIT 20"),
    // stupid-backoff trigram LM: singleton-pruned (minCount 2) backoff
    // over count tables ALL derived from the trigram counts; alpha =
    // 0.5 so every constant is exactly representable in both engines'
    // arithmetic; ln micro-snapped, exact BIGINT per-doc aggregation
    // Moore-Lewis: TWO stupid-backoff trigram tables (target slice /
    // general pool) over one trigram stream, pool docs scored against
    // both with the alpha^2/(N+1) OOV floor, ce_diff = difference of
    // the two exact micro-nat means (identical IEEE operands)
    "q_moore_lewis" -> {
      def table(pfx: String, src: String) =
        s"${pfx}c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM $src GROUP BY 1, 2, 3), " +
          s"${pfx}wc AS (SELECT *, SUM(c3) OVER (PARTITION BY w1, w2) AS ctx2, " +
          "SUM(c3) OVER (PARTITION BY w2, w3) AS cb, " +
          "SUM(c3) OVER (PARTITION BY w2) AS ctx1, " +
          s"SUM(c3) OVER (PARTITION BY w3) AS cu FROM ${pfx}c3), " +
          s"${pfx}nn AS (SELECT SUM(c3) AS n FROM ${pfx}c3), " +
          s"${pfx}st AS (SELECT w1, w2, w3, CAST(floor(ln(" +
          "CASE WHEN c3 >= 2 THEN CAST(c3 AS DOUBLE) / ctx2 " +
          "WHEN cb >= 2 THEN 0.5 * CAST(cb AS DOUBLE) / ctx1 " +
          s"ELSE 0.5 * 0.5 * CAST(cu AS DOUBLE) / n END) * 1e6 + 0.5) AS BIGINT) AS mlp " +
          s"FROM ${pfx}wc CROSS JOIN ${pfx}nn)"
      def score(pfx: String) =
        s"${pfx}sc AS (SELECT p.doc_id, COALESCE(${pfx}st.mlp, " +
          s"CAST(floor(ln(0.25 / (${pfx}nn.n + 1)) * 1e6 + 0.5) AS BIGINT)) AS mlp " +
          s"FROM pool p LEFT JOIN ${pfx}st USING (w1, w2, w3) CROSS JOIN ${pfx}nn)"
      s"WITH f AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
        "tg AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), " +
        "i -> struct_pack(w1 := t[i], w2 := t[i+1], w3 := t[i+2]))) AS p FROM f WHERE len(t) >= 3), " +
        "tris AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, p.w3 AS w3 FROM tg), " +
        "pool AS MATERIALIZED (SELECT * FROM tris WHERE doc_id % 20 <> 7), " +
        table("i", "tris WHERE doc_id % 20 = 7") + ", " +
        table("g", "pool") + ", " +
        score("i") + ", " + score("g") + ", " +
        "ia AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams, " +
        "floor(CAST(SUM(mlp) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS in_lp FROM isc GROUP BY doc_id), " +
        "ga AS (SELECT doc_id, " +
        "floor(CAST(SUM(mlp) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS gen_lp FROM gsc GROUP BY doc_id) " +
        "SELECT ia.doc_id, ia.n_trigrams, ia.in_lp, ga.gen_lp, " +
        "ia.in_lp - ga.gen_lp AS ce_diff, (ia.in_lp - ga.gen_lp) > 0 AS selected " +
        "FROM ia JOIN ga USING (doc_id) ORDER BY ia.doc_id"
    },
    "q_backoff_logprob" ->
      (s"WITH f AS (SELECT doc_id, $toks AS t FROM documents), " +
        "tg AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), " +
        "i -> struct_pack(w1 := t[i], w2 := t[i+1], w3 := t[i+2]))) AS p FROM f WHERE len(t) >= 3), " +
        "tris AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, p.w3 AS w3 FROM tg), " +
        "c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tris GROUP BY 1, 2, 3), " +
        "wc AS (SELECT *, SUM(c3) OVER (PARTITION BY w1, w2) AS ctx2, " +
        "SUM(c3) OVER (PARTITION BY w2, w3) AS cb, " +
        "SUM(c3) OVER (PARTITION BY w2) AS ctx1, " +
        "SUM(c3) OVER (PARTITION BY w3) AS cu FROM c3), " +
        "n AS (SELECT SUM(c3) AS n FROM c3), " +
        "st AS (SELECT w1, w2, w3, CAST(floor(ln(" +
        "CASE WHEN c3 >= 2 THEN CAST(c3 AS DOUBLE) / ctx2 " +
        "WHEN cb >= 2 THEN 0.5 * CAST(cb AS DOUBLE) / ctx1 " +
        "ELSE 0.5 * 0.5 * CAST(cu AS DOUBLE) / n END) * 1e6 + 0.5) AS BIGINT) AS mlp " +
        "FROM wc CROSS JOIN n), " +
        "sc AS (SELECT doc_id, mlp FROM tris JOIN st USING (w1, w2, w3)) " +
        "SELECT doc_id, COUNT(*) AS n_trigrams, " +
        "floor(CAST(SUM(mlp) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS avg_logprob " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    // calibration bins: score fragment = the q_quality_auc oracle
    // verbatim; bin index and micro-snapped score sums use identical
    // double expressions on both engines, per-bin mean is exact
    // BIGINT-sum division
    "q_quality_calibration" ->
      (s"WITH f AS (SELECT lang, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents WHERE length(text) > 0), " +
        "sc AS (SELECT round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) AS score, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM f), " +
        "b AS (SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin, pos, " +
        "CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS micro FROM sc), " +
        "a AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(pos) AS BIGINT) AS n_pos, SUM(micro) AS sm FROM b GROUP BY bin) " +
        "SELECT bin, round(CAST(bin AS DOUBLE) / 10, 6) AS bin_lo, n_docs, n_pos, " +
        "round(CAST(n_pos AS DOUBLE) / n_docs, 6) AS pos_rate, " +
        "floor(CAST(sm AS DOUBLE) / n_docs + 0.5) / 1e6 AS mean_score, " +
        "round(abs(round(CAST(n_pos AS DOUBLE) / n_docs, 6) - " +
        "floor(CAST(sm AS DOUBLE) / n_docs + 0.5) / 1e6), 6) AS calib_gap " +
        "FROM a ORDER BY bin"),
    // ROC points: from the AUC score histogram (score fragment
    // verbatim); thresholds k/10.0 are identical doubles both sides,
    // rates are rounded ratios of exact BIGINT sums
    "q_roc_points" ->
      (s"WITH f AS (SELECT lang, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents WHERE length(text) > 0), " +
        "sc AS (SELECT round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) AS score, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM f), " +
        "hist AS (SELECT score, COUNT(*) AS n_s, SUM(pos) AS npos_s FROM sc GROUP BY score), " +
        "th AS (SELECT CAST(k AS INT) AS k, CAST(k AS DOUBLE) / 10.0 AS threshold FROM range(0, 10) r(k)), " +
        "agg AS (SELECT k, threshold, CAST(COALESCE(SUM(n_s), 0) AS BIGINT) AS n_pred, " +
        "CAST(COALESCE(SUM(npos_s), 0) AS BIGINT) AS tp " +
        "FROM th LEFT JOIN hist ON hist.score >= th.threshold GROUP BY 1, 2), " +
        "tot AS (SELECT MAX(n_pred) AS n_all, MAX(tp) AS n_pos FROM agg) " +
        "SELECT threshold, n_pred, tp, n_pred - tp AS fp, " +
        "CASE WHEN n_pos > 0 THEN round(CAST(tp AS DOUBLE) / n_pos, 6) ELSE 0.0 END AS tpr, " +
        "CASE WHEN n_all - n_pos > 0 THEN round(CAST(n_pred - tp AS DOUBLE) / (n_all - n_pos), 6) ELSE 0.0 END AS fpr, " +
        "CASE WHEN n_pred > 0 THEN round(CAST(tp AS DOUBLE) / n_pred, 6) ELSE 0.0 END AS precision " +
        "FROM agg CROSS JOIN tot WHERE k >= 1 ORDER BY threshold"),
    // bigram entropy rate: per-pair-type contributions nano-nat-snapped
    // before the per-source sum (the q_source_kl design); p fragments
    // written identically on both sides
    "q_entropy_rate" ->
      (s"WITH f AS (SELECT source, $toks AS t FROM documents WHERE text IS NOT NULL), " +
        "bg AS (SELECT source, unnest(list_transform(range(1, len(t)), " +
        "i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p FROM f WHERE len(t) >= 2), " +
        "pairs AS (SELECT source, p.w1 AS w1, p.w2 AS w2 FROM bg), " +
        "c2 AS (SELECT source, w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2, 3), " +
        "t2 AS (SELECT source, SUM(c2) AS nn FROM c2 GROUP BY 1), " +
        "k AS (SELECT c2.source, CAST(floor((CAST(c2 AS DOUBLE) / nn) * " +
        "ln(CAST(c2 AS DOUBLE) / SUM(c2.c2) OVER (PARTITION BY c2.source, w1)) * 1e9 + 0.5) AS BIGINT) AS nk " +
        "FROM c2 JOIN t2 USING (source)) " +
        "SELECT source, COUNT(*) AS n_pair_types, " +
        "-CAST(SUM(nk) AS DOUBLE) / 1e9 AS entropy_rate " +
        "FROM k GROUP BY source ORDER BY source"),
    // sequence-length model: ln(n_tokens) micro-snapped; mean is exact
    // BIGINT division, variance the exact integer n*Sxx - Sx^2 in
    // HUGEINT with one final IEEE sqrt
    "q_length_model" ->
      (s"WITH f AS (SELECT source, CAST(len($toks) AS BIGINT) AS nt " +
        "FROM documents WHERE text IS NOT NULL), " +
        "g AS (SELECT source, nt, " +
        "CAST(floor(ln(CAST(nt AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS x FROM f WHERE nt > 0), " +
        "a AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n, MIN(nt) AS min_tokens, " +
        "MAX(nt) AS max_tokens, SUM(x) AS sx, SUM(x*x) AS sxx FROM g GROUP BY source) " +
        "SELECT source, CAST(n AS BIGINT) AS n_docs, min_tokens, max_tokens, " +
        "floor(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) / 1e6 AS mean_ln_tokens, " +
        "round(sqrt(CAST(n*sxx - sx*sx AS DOUBLE) / CAST(n*n AS DOUBLE)) / 1e6, 6) AS std_ln_tokens " +
        "FROM a ORDER BY source"),
    // Heaps'-law growth: first-occurrence trick (a term's min doc_id is
    // where the type count increments), running sums per source in
    // doc_id order, then the zipf 5-sum regression in HUGEINT
    "q_heaps_law" ->
      (s"WITH f AS (SELECT source, doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
        "pd AS (SELECT source, doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM f), " +
        "tok AS (SELECT source, doc_id, unnest(t) AS term FROM f), " +
        "fo AS (SELECT source, term, MIN(doc_id) AS first_doc FROM tok GROUP BY 1, 2), " +
        "nt AS (SELECT source, first_doc AS doc_id, COUNT(*) AS n_new FROM fo GROUP BY 1, 2), " +
        "cum AS (SELECT pd.source, pd.doc_id, " +
        "SUM(n_toks) OVER (PARTITION BY pd.source ORDER BY pd.doc_id) AS cum_toks, " +
        "SUM(COALESCE(n_new, 0)) OVER (PARTITION BY pd.source ORDER BY pd.doc_id) AS cum_types " +
        "FROM pd LEFT JOIN nt ON pd.source = nt.source AND pd.doc_id = nt.doc_id), " +
        "m AS (SELECT source, " +
        "CAST(floor(ln(CAST(cum_toks AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS x, " +
        "CAST(floor(ln(CAST(cum_types AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS y " +
        "FROM cum WHERE cum_toks > 0 AND cum_types > 0), " +
        "a AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, " +
        "SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM m GROUP BY source) " +
        "SELECT source, CAST(n AS BIGINT) AS n_points, " +
        "CASE WHEN n*sxx - sx*sx = 0 THEN 0.0 ELSE " +
        "round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) END AS heaps_beta " +
        "FROM a ORDER BY source"),
    // 5-gram stupid backoff: the engine counts/joins on xxhash64 gram
    // hashes, the oracle on gram STRINGS — identical groups modulo a
    // collision (which would fail the hash-compare loudly); all lower
    // orders derive from the 5-gram table as window sums, alpha powers
    // 0.5/0.25/0.125/0.0625 are exactly representable on both engines
    "q_fivegram_logprob" ->
      (fivegramCteSql +
        "st AS (SELECT w1, w2, w3, w4, w5, CAST(floor(ln(" +
        "CASE WHEN c5 >= 2 THEN CAST(c5 AS DOUBLE) / ctx4 " +
        "WHEN c4s >= 2 THEN 0.5 * CAST(c4s AS DOUBLE) / ctx3 " +
        "WHEN c3s >= 2 THEN 0.5 * 0.5 * CAST(c3s AS DOUBLE) / ctx2 " +
        "WHEN c2s >= 2 THEN 0.5 * 0.5 * 0.5 * CAST(c2s AS DOUBLE) / ctx1 " +
        "ELSE 0.5 * 0.5 * 0.5 * 0.5 * CAST(c1s AS DOUBLE) / n END) * 1e6 + 0.5) AS BIGINT) AS mlp " +
        "FROM wc CROSS JOIN n), " +
        "sc AS (SELECT doc_id, mlp FROM gr JOIN st USING (w1, w2, w3, w4, w5)) " +
        "SELECT doc_id, COUNT(*) AS n_fivegrams, " +
        "floor(CAST(SUM(mlp) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS avg_logprob " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    // Jelinek-Mercer interpolation over the same count table: every ML
    // level contributes with exactly-representable weights; the nested
    // association 0.5*(p_k) + 0.5*(rest) mirrors the engine tree
    // paren-for-paren (IEEE addition order matters)
    "q_interp_logprob" ->
      (fivegramCteSql +
        "st AS (SELECT w1, w2, w3, w4, w5, CAST(floor(ln(" +
        "0.5 * (CAST(c5 AS DOUBLE) / ctx4) + 0.5 * (" +
        "0.5 * (CAST(c4s AS DOUBLE) / ctx3) + 0.5 * (" +
        "0.5 * (CAST(c3s AS DOUBLE) / ctx2) + 0.5 * (" +
        "0.5 * (CAST(c2s AS DOUBLE) / ctx1) + 0.5 * (CAST(c1s AS DOUBLE) / n)" +
        ")))) * 1e6 + 0.5) AS BIGINT) AS mlp " +
        "FROM wc CROSS JOIN n), " +
        "sc AS (SELECT doc_id, mlp FROM gr JOIN st USING (w1, w2, w3, w4, w5)) " +
        "SELECT doc_id, COUNT(*) AS n_fivegrams, " +
        "floor(CAST(SUM(mlp) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS avg_logprob " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    // MG containment guarantee: the oracle derives the REQUIRED heavy
    // set (true count > n/k) from the raw tokens and asserts the
    // sketch covered all of it — it computes n_required once and
    // echoes it as n_covered with guarantee_ok true, so any engine-
    // side containment breach hash-mismatches
    "q_hot_terms_guarantee" ->
      (s"WITH t AS (SELECT source, unnest($toks) AS term FROM documents), " +
        "n AS (SELECT source, COUNT(*) AS n_terms FROM t GROUP BY source), " +
        "c AS (SELECT source, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2), " +
        "r AS (SELECT c.source FROM c JOIN n USING (source) WHERE cnt * 50 > n_terms) " +
        "SELECT source, COUNT(*) AS n_required, COUNT(*) AS n_covered, " +
        "true AS guarantee_ok FROM r GROUP BY source ORDER BY source"),
    // pack invariants: every column derives from the raw documents
    // table (doc coverage, token conservation, overflow = oversized
    // single docs, zero budget violations); the engine computes them
    // FROM the packed output, so a packing defect mismatches
    // deterministic bucketed packing: the capacity-ladder CASE, the
    // (bucket, shard) rank windows, next-fit pack keys, and the 6-dp
    // fill snap all replay exactly (pure integer assignment)
    "q_pack_bucketed" -> {
      val ladder = ext.Corpus.PackLadder
      val shards = ext.Corpus.PackShards
      val budget = ladder.last
      val capCase = "CASE WHEN nt > " + budget + " THEN -1 " +
        ladder.init.map(c => s"WHEN nt <= $c THEN $c").mkString(" ") +
        s" ELSE $budget END"
      s"WITH pd AS (SELECT doc_id, CAST(COALESCE(len($toks), 0) AS BIGINT) AS nt FROM documents), " +
        s"pb AS (SELECT doc_id, nt, CAST($capCase AS BIGINT) AS bucket_cap, " +
        s"doc_id % $shards AS shard FROM pd), " +
        "pp AS (SELECT bucket_cap, shard, nt, " +
        "ROW_NUMBER() OVER (PARTITION BY bucket_cap, shard ORDER BY nt DESC, doc_id) AS idx, " +
        s"CASE WHEN bucket_cap = -1 THEN 1 ELSE $budget // bucket_cap END AS cap_docs FROM pb), " +
        "ppk AS (SELECT bucket_cap, shard, nt, cap_docs, (idx - 1) // cap_docs AS pack_key FROM pp), " +
        "pnp AS (SELECT bucket_cap, COUNT(*) AS n_packs FROM " +
        "(SELECT DISTINCT bucket_cap, shard, pack_key FROM ppk) GROUP BY 1), " +
        "pag AS (SELECT bucket_cap, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(MAX(cap_docs) AS BIGINT) AS pack_capacity_docs, " +
        "CAST(SUM(nt) AS BIGINT) AS total_tokens FROM ppk GROUP BY 1) " +
        "SELECT pag.bucket_cap, pag.n_docs, CAST(pnp.n_packs AS BIGINT) AS n_packs, " +
        "pag.pack_capacity_docs, pag.total_tokens, " +
        s"floor(CAST(pag.total_tokens AS DOUBLE) / (pnp.n_packs * $budget) * 1000000.0 + 0.5) / 1000000.0 AS mean_fill " +
        "FROM pag JOIN pnp USING (bucket_cap) ORDER BY pag.bucket_cap"
    },
    "q_pack_invariants" ->
      (s"WITH d AS (SELECT doc_id, COALESCE(len($toks), 0) AS nt FROM documents) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS docs_packed, " +
        "CAST(COUNT(*) AS BIGINT) AS distinct_docs, " +
        "CAST(SUM(nt) AS BIGINT) AS total_tokens, " +
        "CAST(SUM(CASE WHEN nt > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS overflow_docs, " +
        "CAST(SUM(CASE WHEN nt > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS overflow_packs, " +
        "CAST(0 AS BIGINT) AS budget_violations FROM d"),
    // Witten-Bell: per-context lambda = C/(C+T) over the raw-count
    // suffix chain; per-level expression associated exactly as the
    // engine folds it ((c + T*p) / (C + T))
    "q_wb_logprob" -> smoothedFivegramSql(raw = true,
      p1Cte = "p1 AS (SELECT w5, CAST(c AS DOUBLE) / n AS p FROM t1 CROSS JOIN n), ",
      levelExpr = "(CAST(c AS DOUBLE) + CAST(tt AS DOUBLE) * p) / " +
        "(CAST(cc AS DOUBLE) + CAST(tt AS DOUBLE))"),
    // Kneser-Ney: absolute discount D = 0.75 over continuation-type
    // counts (COUNT(*) chain), continuation-unigram denominator =
    // total distinct bigram types
    "q_kn_logprob" -> smoothedFivegramSql(raw = false,
      p1Cte = "nb AS (SELECT COUNT(*) AS n_bi FROM t2), " +
        "p1 AS (SELECT w5, CAST(c AS DOUBLE) / n_bi AS p FROM t1 CROSS JOIN nb), ",
      levelExpr = "(GREATEST(CAST(c AS DOUBLE) - 0.75, 0.0) + " +
        "0.75 * CAST(tt AS DOUBLE) * p) / CAST(cc AS DOUBLE)"),
    // wide-key variant: the oracle computes over gram STRINGS, so it is
    // key-width-independent by construction — same SQL as q_kn_logprob
    "q_kn_logprob_wide" -> smoothedFivegramSql(raw = false,
      p1Cte = "nb AS (SELECT COUNT(*) AS n_bi FROM t2), " +
        "p1 AS (SELECT w5, CAST(c AS DOUBLE) / n_bi AS p FROM t1 CROSS JOIN nb), ",
      levelExpr = "(GREATEST(CAST(c AS DOUBLE) - 0.75, 0.0) + " +
        "0.75 * CAST(tt AS DOUBLE) * p) / CAST(cc AS DOUBLE)"),
    // token entropy: contributions nano-nat-snapped per (doc, term) on
    // both sides — the engine's kernel sums the identical integers the
    // oracle's GROUP BY form does
    "q_token_entropy" ->
      (s"WITH f AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
        "tok AS (SELECT doc_id, len(t) AS n, unnest(t) AS term FROM f), " +
        "c AS (SELECT doc_id, n, term, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3), " +
        "e AS (SELECT doc_id, MIN(n) AS n_tokens, COUNT(*) AS n_distinct, " +
        "SUM(CAST(floor((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS s " +
        "FROM c GROUP BY doc_id) " +
        "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(n_distinct AS BIGINT) AS n_distinct, " +
        "round(-CAST(s AS DOUBLE) / 1e9, 6) AS entropy, " +
        "CASE WHEN n_distinct > 1 THEN " +
        "round((-CAST(s AS DOUBLE) / 1e9) / ln(CAST(n_distinct AS DOUBLE)), 6) ELSE 0.0 END AS normalized, " +
        "(CASE WHEN n_distinct > 1 THEN " +
        "round((-CAST(s AS DOUBLE) / 1e9) / ln(CAST(n_distinct AS DOUBLE)), 6) ELSE 0.0 END) >= 0.6 AS keep " +
        "FROM e ORDER BY doc_id"),
    // DSIR: bucket ids are md5-hex prefixes computed from the same
    // bigram strings on both sides; both ln terms snap to micro-nats
    // separately, so per-doc sums and the length-normalized average
    // (exact-int division in IEEE double, floor+0.5-snapped) are
    // engine-exact
    "q_dsir_weights" -> (dsirWeightsCteSql +
      " SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, " +
      "CAST(SUM(dm) AS BIGINT) AS llr_micro, " +
      "CAST(floor(CAST(SUM(dm) AS DOUBLE) * 1000.0 / COUNT(*) + 0.5) AS BIGINT) AS avg_llr_nano " +
      "FROM bg JOIN delta USING (bkt) WHERE doc_id % 20 != 7 " +
      "GROUP BY doc_id ORDER BY doc_id"),
    "q_dsir_select" -> (dsirWeightsCteSql +
      ", wts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, " +
      "CAST(SUM(dm) AS BIGINT) AS llr_micro, " +
      "CAST(floor(CAST(SUM(dm) AS DOUBLE) * 1000.0 / COUNT(*) + 0.5) AS BIGINT) AS avg_llr_nano " +
      "FROM bg JOIN delta USING (bkt) WHERE doc_id % 20 != 7 GROUP BY doc_id) " +
      "SELECT CAST(ROW_NUMBER() OVER (ORDER BY avg_llr_nano DESC, doc_id) AS INT) AS rk, " +
      "doc_id, n_grams, llr_micro, avg_llr_nano FROM wts " +
      "ORDER BY avg_llr_nano DESC, doc_id LIMIT 100"),
    // mixture execution: the plan CTEs are q_mixture_plan's verbatim;
    // the keep decision compares md5-hex prefixes against the rate's
    // hex threshold lexicographically (no hex→int cast, which the two
    // engines spell differently); rate >= 1 short-circuits keep-all
    "q_mixture_execute" ->
      ("WITH s AS (SELECT doc_id, text, source, " +
        "CAST((CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) % 4) + 1 AS DOUBLE) / 4 AS weight, " +
        s"coalesce(len($toks), 0) AS n_toks FROM documents), " +
        "p AS (SELECT source, weight, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_toks) AS BIGINT) AS n_tokens FROM s GROUP BY source, weight), " +
        "t AS (SELECT SUM(weight) AS tw FROM p), " +
        "pl AS (SELECT source, CAST(floor(500000.0 * weight / tw + 0.5) AS BIGINT) AS target_tokens, " +
        "CASE WHEN n_tokens > 0 THEN " +
        "floor(least(1.0, CAST(CAST(floor(500000.0 * weight / tw + 0.5) AS BIGINT) AS DOUBLE) " +
        "/ CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS sample_rate " +
        "FROM p CROSS JOIN t), " +
        "k AS (SELECT s.source, pl.target_tokens, s.n_toks, " +
        "(s.text IS NOT NULL AND (pl.sample_rate >= 1.0 OR " +
        "substr(md5(s.text), 1, 6) < lpad(lower(hex(CAST(floor(pl.sample_rate * 16777216.0) AS BIGINT))), 6, '0'))) AS kept " +
        "FROM s JOIN pl ON s.source = pl.source) " +
        "SELECT source, target_tokens, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(SUM(CASE WHEN kept THEN n_toks ELSE 0 END) AS BIGINT) AS achieved_tokens, " +
        "CASE WHEN target_tokens > 0 THEN " +
        "floor(CAST(SUM(CASE WHEN kept THEN n_toks ELSE 0 END) AS DOUBLE) " +
        "/ CAST(target_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS achieved_ratio " +
        "FROM k GROUP BY source, target_tokens ORDER BY source"),
    // semantic decontamination: same rounded-cosine + id tie-break
    // discipline as q_cosine_topk, argmax as rank-1 row
    "q_sem_decontamination" ->
      ("WITH e AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS ev " +
        "FROM embeddings WHERE vec_id % 20 = 7), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings WHERE vec_id % 20 != 7), " +
        "s AS (SELECT c.vec_id, e.eval_id, " +
        "round(list_cosine_similarity(cv, ev), 6) AS cos_r FROM c, e), " +
        "r AS (SELECT vec_id, eval_id, cos_r, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY cos_r DESC, eval_id) AS rk FROM s) " +
        "SELECT vec_id, cos_r AS max_cos_r, eval_id AS nearest_eval_id, " +
        "(cos_r >= 0.4) AS contaminated FROM r WHERE rk = 1 ORDER BY vec_id"),
    // vocab coverage: the top-V boundary is deterministic (count desc,
    // term asc) and integer-exact; oov_frac divides exact integers
    "q_vocab_coverage" ->
      (s"WITH t AS (SELECT source, unnest($toks) AS term FROM documents), " +
        "st AS (SELECT source, term, COUNT(*) AS cnt FROM t GROUP BY source, term), " +
        "v AS (SELECT term FROM (SELECT term, SUM(cnt) AS tot FROM st GROUP BY term) " +
        "ORDER BY tot DESC, term LIMIT 16), " +
        "j AS (SELECT st.source, st.cnt, (v.term IS NOT NULL) AS iv " +
        "FROM st LEFT JOIN v ON st.term = v.term) " +
        "SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN iv THEN 0 ELSE cnt END) AS BIGINT) AS n_oov, " +
        "floor(CAST(SUM(CASE WHEN iv THEN 0 ELSE cnt END) AS DOUBLE) " +
        "/ CAST(SUM(cnt) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS oov_frac, " +
        "CAST(COUNT(*) AS BIGINT) AS n_terms, " +
        "CAST(SUM(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov_terms " +
        "FROM j GROUP BY source ORDER BY source"),
    // token-budget selection: score fragment = the q_quality_auc oracle
    // verbatim; the kept boundary is the scalar MIN(quality) over
    // classes whose strictly-better cumulative tokens stay under half
    // the corpus — a pure-BIGINT test (2·cum < total), no FP boundary
    "q_token_budget_select" ->
      (s"WITH f0 AS (SELECT doc_id, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents WHERE length(text) > 0), " +
        "f AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) AS quality, " +
        "CAST(n_tok AS BIGINT) AS n_tokens FROM f0), " +
        "h AS (SELECT quality, SUM(n_tokens) AS ct FROM f GROUP BY quality), " +
        "w AS (SELECT quality, COALESCE(SUM(ct) OVER " +
        "(ORDER BY quality DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb, " +
        "SUM(ct) OVER () AS total FROM h), " +
        "thr AS (SELECT MIN(quality) AS qthr FROM w WHERE cb * 2 < total) " +
        "SELECT doc_id, quality, n_tokens, quality >= qthr AS kept " +
        "FROM f CROSS JOIN thr ORDER BY doc_id"),
    // UniMax: the capped set is a prefix of the ascending-token order
    // (t_l monotone — see unimaxMixture's scaladoc), so the waterfilling
    // loop collapses to window sums; cap test and capped allocations are
    // exact BIGINT, the uniform share and epochs are micro-snapped
    "q_unimax_mixture" ->
      (unimaxCoreSql + ", " +
        "t AS (SELECT lang, n_docs, n_tokens, capped, " +
        "CASE WHEN capped THEN 2 * n_tokens " +
        "ELSE CAST(floor(CAST(budget - 2 * s_capped AS DOUBLE) " +
        "/ CAST(n_langs - k_capped AS DOUBLE) + 0.5) AS BIGINT) END AS target_tokens FROM a) " +
        "SELECT lang, n_docs, n_tokens, capped, target_tokens, " +
        "CASE WHEN n_tokens > 0 THEN floor(CAST(target_tokens AS DOUBLE) " +
        "/ CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS epochs " +
        "FROM t ORDER BY lang"),
    // UniMax execution: the plan chain verbatim down to epochs, then
    // per-doc copies = floor(e) + hex-threshold Bernoulli(frac(e)) —
    // the q_mixture_execute keep discipline applied to repeats
    "q_unimax_execute" ->
      (unimaxCoreSql + ", " +
        "t AS (SELECT lang, n_tokens, CASE WHEN capped THEN 2 * n_tokens " +
        "ELSE CAST(floor(CAST(budget - 2 * s_capped AS DOUBLE) " +
        "/ CAST(n_langs - k_capped AS DOUBLE) + 0.5) AS BIGINT) END AS target_tokens FROM a), " +
        "u AS (SELECT lang, target_tokens, " +
        "CASE WHEN n_tokens > 0 THEN floor(CAST(target_tokens AS DOUBLE) " +
        "/ CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS epochs FROM t), " +
        s"d AS (SELECT lang, text, COALESCE(len($toks), 0) AS n_toks FROM documents), " +
        "cp AS (SELECT d.lang, u.target_tokens, d.n_toks, " +
        "CASE WHEN d.text IS NULL THEN 0 ELSE CAST(floor(u.epochs) AS BIGINT) + " +
        "(CASE WHEN substr(md5(d.text), 1, 6) < " +
        "lpad(lower(hex(CAST(floor((u.epochs - floor(u.epochs)) * 16777216.0) AS BIGINT))), 6, '0') " +
        "THEN 1 ELSE 0 END) END AS copies " +
        "FROM d JOIN u ON d.lang = u.lang) " +
        "SELECT lang, target_tokens, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(copies) AS BIGINT) AS n_copies, " +
        "CAST(SUM(copies * n_toks) AS BIGINT) AS achieved_tokens, " +
        "CASE WHEN target_tokens > 0 THEN floor(CAST(SUM(copies * n_toks) AS DOUBLE) " +
        "/ CAST(target_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS achieved_ratio " +
        "FROM cp GROUP BY lang, target_tokens ORDER BY lang"),
    // z-order layout audit: integer-micros time (epoch_us / unix_micros
    // — the fractional epoch() is a recorded parity trap), 8-bit scaled
    // dims (double products < 2^53, floor engine-exact), generated
    // Morton terms shared with the Spark expression
    "q_zorder_events" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events), " +
        "m AS (SELECT MIN(user_id) AS minu, MAX(user_id) AS maxu, " +
        "MIN(us) AS minus, MAX(us) AS maxus FROM e), " +
        "p AS (SELECT user_id, us, " +
        "CAST(floor(CAST(user_id - minu AS DOUBLE) * 256 / CAST(maxu - minu + 1 AS DOUBLE)) AS BIGINT) AS x, " +
        "CAST(floor(CAST(us - minus AS DOUBLE) * 256 / CAST(maxus - minus + 1 AS DOUBLE)) AS BIGINT) AS y " +
        "FROM e CROSS JOIN m), " +
        s"z AS (SELECT user_id, us, CAST(floor(CAST($zTerms AS DOUBLE) / 64) AS BIGINT) AS bucket FROM p) " +
        "SELECT bucket, COUNT(*) AS n_events, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "MAX(user_id) - MIN(user_id) AS user_span, " +
        "MAX(us) - MIN(us) AS ts_span_us " +
        "FROM z GROUP BY bucket ORDER BY bucket"),
    // layout comparison: integer seconds (epoch_us // 1e6 mirrors
    // unix_seconds), exact int64 weighted span sums, one snapped
    // division per fraction; 64 buckets per layout
    "q_layout_compare" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events), " +
        "m AS (SELECT MIN(user_id) AS minu, MAX(user_id) AS maxu, " +
        "MIN(sec) AS mins, MAX(sec) AS maxs FROM e), " +
        "p AS (SELECT user_id, sec, minu, maxu, mins, maxs, " +
        "CAST(floor(CAST(user_id - minu AS DOUBLE) * 256 / CAST(maxu - minu + 1 AS DOUBLE)) AS BIGINT) AS x, " +
        "CAST(floor(CAST(sec - mins AS DOUBLE) * 256 / CAST(maxs - mins + 1 AS DOUBLE)) AS BIGINT) AS y " +
        "FROM e CROSS JOIN m), " +
        s"bz AS (SELECT 'zorder' AS layout, CAST(floor(CAST($zTerms AS DOUBLE) / 1024) AS BIGINT) AS bucket, " +
        "user_id, sec, maxu - minu AS ur, maxs - mins AS tr FROM p), " +
        "bt AS (SELECT 'time_sort', CAST(floor(CAST(sec - mins AS DOUBLE) * 64 / CAST(maxs - mins + 1 AS DOUBLE)) AS BIGINT), " +
        "user_id, sec, maxu - minu, maxs - mins FROM p), " +
        "bu AS (SELECT 'user_sort', CAST(floor(CAST(user_id - minu AS DOUBLE) * 64 / CAST(maxu - minu + 1 AS DOUBLE)) AS BIGINT), " +
        "user_id, sec, maxu - minu, maxs - mins FROM p), " +
        "ab AS (SELECT * FROM bz UNION ALL SELECT * FROM bt UNION ALL SELECT * FROM bu), " +
        "g AS (SELECT layout, bucket, COUNT(*) AS n, " +
        "MAX(user_id) - MIN(user_id) AS usp, MAX(sec) - MIN(sec) AS tsp, " +
        "MAX(ur) AS ur, MAX(tr) AS tr FROM ab GROUP BY layout, bucket), " +
        "a AS (SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_buckets, " +
        "CAST(SUM(n * usp) AS BIGINT) AS wu, CAST(SUM(n * tsp) AS BIGINT) AS wt, " +
        "CAST(SUM(n) AS BIGINT) AS tn, MAX(ur) AS ur, MAX(tr) AS tr FROM g GROUP BY layout) " +
        "SELECT layout, n_buckets, " +
        "CASE WHEN ur > 0 THEN floor(CAST(wu AS DOUBLE) / CAST(tn AS DOUBLE) " +
        "/ CAST(ur AS DOUBLE) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS user_span_frac, " +
        "CASE WHEN tr > 0 THEN floor(CAST(wt AS DOUBLE) / CAST(tn AS DOUBLE) " +
        "/ CAST(tr AS DOUBLE) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS ts_span_frac " +
        "FROM a ORDER BY layout"),
    // novelty-decay curve: ingest-order slices (doc_id extent-scaled,
    // the z-order pattern), content hashes credited to their FIRST
    // slice, cumulative windows over <= buckets rows
    "q_dedup_curve" -> {
      val b = ext.Dedup.CurveBuckets
      "WITH dcb AS (SELECT doc_id, md5(nfc_normalize(text)) AS ch " +
        "FROM documents WHERE text IS NOT NULL), " +
        "dcm AS (SELECT MIN(doc_id) AS mi, MAX(doc_id) AS ma FROM dcb), " +
        "dcs AS (SELECT doc_id, ch, " +
        s"CAST(floor(CAST(doc_id - mi AS DOUBLE) * $b / CAST(ma - mi + 1 AS DOUBLE)) AS BIGINT) AS slice " +
        "FROM dcb CROSS JOIN dcm), " +
        "dcd AS (SELECT slice, CAST(COUNT(*) AS BIGINT) AS n_docs FROM dcs GROUP BY slice), " +
        "dck AS (SELECT kslice, CAST(COUNT(*) AS BIGINT) AS n_new FROM " +
        "(SELECT ch, MIN(slice) AS kslice FROM dcs GROUP BY ch) GROUP BY kslice), " +
        "dcj AS (SELECT d.slice, d.n_docs, COALESCE(k.n_new, 0) AS n_new " +
        "FROM dcd d LEFT JOIN dck k ON d.slice = k.kslice), " +
        "dcc AS (SELECT slice, n_docs, n_new, " +
        "CAST(SUM(n_docs) OVER (ORDER BY slice ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs, " +
        "CAST(SUM(n_new) OVER (ORDER BY slice ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_new " +
        "FROM dcj) " +
        "SELECT slice, n_docs, n_new, " +
        "floor(CAST(n_new AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS novelty_r, " +
        "cum_docs, cum_new, " +
        "floor(CAST(cum_new AS DOUBLE) / CAST(cum_docs AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS cum_unique_frac_r " +
        "FROM dcc ORDER BY slice"
    },
    // RNG-free weighted sampling: u from the first 13 md5 hex digits
    // (identical doubles both engines, 1e-18 floor), A-ES key
    // -ln(u)/w, pico-snapped, bounded top-k
    "q_weighted_sample" -> {
      val k = ext.Corpus.WeightedSampleK
      "WITH wsb AS (SELECT doc_id, " +
        "GREATEST(COALESCE(n_chars, 1), 1) AS weight, " +
        "GREATEST(CAST(('0x' || substr(md5(text), 1, 13))::BIGINT AS DOUBLE) " +
        "/ 4503599627370496.0, 1e-18) AS u " +
        "FROM documents WHERE text IS NOT NULL), " +
        "wsk AS (SELECT doc_id, CAST(weight AS BIGINT) AS weight, " +
        "CAST(floor((-ln(u)) / CAST(weight AS DOUBLE) * 1000000000000.0 + 0.5) AS BIGINT) AS key_pico " +
        "FROM wsb) " +
        "SELECT doc_id, weight, key_pico, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY key_pico, doc_id) AS BIGINT) AS rank " +
        s"FROM wsk ORDER BY key_pico, doc_id LIMIT $k"
    },
    // Hilbert vs Morton curve bake-off: the xy->d quadrant-rotation
    // recurrence unrolled as one CTE per level (levels reference the
    // previous level's resolved x/y/d, mirroring the Spark chained
    // projections); quadrant id as the CASE equivalent of (3rx)^ry
    "q_hilbert_layout" -> {
      val levels = (7 to 0 by -1).zipWithIndex.map { case (k, i) =>
        val sq = (1L << k) * (1L << k)
        val rx = s"((x >> $k) & 1)"
        val ry = s"((y >> $k) & 1)"
        val quad = s"CASE WHEN $rx = 0 AND $ry = 0 THEN 0 " +
          s"WHEN $rx = 0 THEN 1 WHEN $ry = 1 THEN 2 ELSE 3 END"
        s"hp${i + 1} AS (SELECT user_id, sec, ur, tr, " +
          s"CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1 THEN 255 - y ELSE y END ELSE x END AS x, " +
          s"CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1 THEN 255 - x ELSE x END ELSE y END AS y, " +
          s"d + $sq * ($quad) AS d FROM hp$i)"
      }.mkString(", ")
      "WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events), " +
        "m AS (SELECT MIN(user_id) AS minu, MAX(user_id) AS maxu, " +
        "MIN(sec) AS mins, MAX(sec) AS maxs FROM e), " +
        "hp0 AS (SELECT user_id, sec, maxu - minu AS ur, maxs - mins AS tr, " +
        "CAST(floor(CAST(user_id - minu AS DOUBLE) * 256 / CAST(maxu - minu + 1 AS DOUBLE)) AS BIGINT) AS x, " +
        "CAST(floor(CAST(sec - mins AS DOUBLE) * 256 / CAST(maxs - mins + 1 AS DOUBLE)) AS BIGINT) AS y, " +
        "CAST(0 AS BIGINT) AS d FROM e CROSS JOIN m), " +
        levels + ", " +
        "bh AS (SELECT 'hilbert' AS layout, CAST(floor(CAST(d AS DOUBLE) / 2048) AS BIGINT) AS bucket, " +
        "user_id, sec, ur, tr FROM hp8), " +
        s"bm2 AS (SELECT 'morton', CAST(floor(CAST($zTerms AS DOUBLE) / 2048) AS BIGINT), " +
        "user_id, sec, ur, tr FROM hp0), " +
        "hab AS (SELECT * FROM bh UNION ALL SELECT * FROM bm2), " +
        "hg AS (SELECT layout, bucket, COUNT(*) AS n, " +
        "MAX(user_id) - MIN(user_id) AS usp, MAX(sec) - MIN(sec) AS tsp, " +
        "MAX(ur) AS ur, MAX(tr) AS tr FROM hab GROUP BY layout, bucket), " +
        "ha AS (SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_buckets, " +
        "CAST(SUM(n * usp) AS BIGINT) AS wu, CAST(SUM(n * tsp) AS BIGINT) AS wt, " +
        "CAST(SUM(n) AS BIGINT) AS tn, MAX(ur) AS ur, MAX(tr) AS tr FROM hg GROUP BY layout) " +
        "SELECT layout, n_buckets, " +
        "CASE WHEN ur > 0 THEN floor(CAST(wu AS DOUBLE) / CAST(tn AS DOUBLE) " +
        "/ CAST(ur AS DOUBLE) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS user_span_frac, " +
        "CASE WHEN tr > 0 THEN floor(CAST(wt AS DOUBLE) / CAST(tn AS DOUBLE) " +
        "/ CAST(tr AS DOUBLE) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS ts_span_frac " +
        "FROM ha ORDER BY layout"
    },
    // sliding-window chunking: chunk count / start / length are exact
    // integer math; the chunk identity is md5 over the space-joined
    // token slice (1-based inclusive slicing on both engines)
    "q_doc_chunks" ->
      (s"WITH f AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
        "j AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n, " +
        "unnest(range(0, CASE WHEN len(t) <= 64 THEN 1 " +
        "ELSE ((len(t) - 64 + 47) // 48) + 1 END)) AS chunk_id FROM f) " +
        "SELECT doc_id, chunk_id, chunk_id * 48 + 1 AS start_tok, " +
        "least(64, n - chunk_id * 48) AS n_tokens, " +
        "md5(array_to_string(list_slice(t, chunk_id * 48 + 1, " +
        "chunk_id * 48 + least(64, n - chunk_id * 48)), ' ')) AS chunk_md5 " +
        "FROM j ORDER BY doc_id, chunk_id"),
    // content-defined chunking: the cut rule (md5 of the 3-token window
    // below '2') and the span algebra are identical HOF chains on both
    // engines; DuckDB's range() is empty for n < 3, so it needs no guard
    "q_cdc_chunks" ->
      (cdcChainSql + " " +
        "SELECT doc_id, chunk_id, CAST(p.s AS BIGINT) AS start_tok, " +
        "CAST(p.e - p.s + 1 AS BIGINT) AS n_tokens, " +
        "md5(array_to_string(list_slice(t, p.s, p.e), ' ')) AS chunk_md5 " +
        "FROM e ORDER BY doc_id, chunk_id"),
    // cross-doc CDC chunk dedup: the q_cdc_chunks chain verbatim, then
    // one fingerprint-keyed aggregate; keeper = lexicographic min of
    // (doc_id, chunk_id) — min_by twice mirrors the min-struct
    "q_cdc_dedup" ->
      (cdcChainSql + ", " +
        "c AS (SELECT doc_id, chunk_id, CAST(p.e - p.s + 1 AS BIGINT) AS n_tokens, " +
        "md5(array_to_string(list_slice(t, p.s, p.e), ' ')) AS chunk_md5 FROM e), " +
        // keeper = lexicographic min of (doc_id, chunk_id): min doc_id
        // at the fingerprint level, then that doc's min chunk_id via the
        // per-(fingerprint, doc) min table
        "a AS (SELECT chunk_md5, COUNT(DISTINCT doc_id) AS n_docs, " +
        "COUNT(*) AS n_occurrences, MIN(doc_id) AS keeper_doc_id, " +
        "MIN(n_tokens) AS n_tokens FROM c GROUP BY chunk_md5 " +
        "HAVING COUNT(DISTINCT doc_id) > 1), " +
        "k2 AS (SELECT chunk_md5, doc_id, MIN(chunk_id) AS keeper_chunk_id " +
        "FROM c GROUP BY chunk_md5, doc_id) " +
        "SELECT a.chunk_md5, n_docs, n_occurrences, a.keeper_doc_id, " +
        "k2.keeper_chunk_id, n_tokens FROM a JOIN k2 " +
        "ON a.chunk_md5 = k2.chunk_md5 AND a.keeper_doc_id = k2.doc_id " +
        "ORDER BY a.chunk_md5"),
    // incremental CDC containment: the chunk chain verbatim, split
    // snapshot/delta on doc_id % 4; owned = fingerprint present in the
    // base keeper set; owned_frac is the micro-snapped token share
    "q_cdc_incremental" ->
      (cdcChainSql + ", " +
        "c AS (SELECT doc_id, CAST(p.e - p.s + 1 AS BIGINT) AS n_toks, " +
        "md5(array_to_string(list_slice(t, p.s, p.e), ' ')) AS chunk_md5 FROM e), " +
        "base AS (SELECT chunk_md5, MIN(doc_id) AS keeper_id FROM c " +
        "WHERE doc_id % 4 <> 0 GROUP BY chunk_md5), " +
        "arr AS (SELECT c.doc_id, c.n_toks, base.keeper_id FROM c " +
        "LEFT JOIN base ON c.chunk_md5 = base.chunk_md5 WHERE c.doc_id % 4 = 0), " +
        "agg AS (SELECT doc_id, COUNT(*) AS n_chunks, " +
        "CAST(SUM(CASE WHEN keeper_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_owned, " +
        "CAST(SUM(n_toks) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN keeper_id IS NOT NULL THEN n_toks ELSE 0 END) AS BIGINT) AS owned_tokens " +
        "FROM arr GROUP BY doc_id) " +
        "SELECT doc_id, n_chunks, n_owned, n_tokens, owned_tokens, " +
        "floor(CAST(owned_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 " +
        "AS owned_frac FROM agg ORDER BY doc_id"),
    // curriculum order: quality fragment verbatim; tercile boundaries by
    // whole class over the histogram (pure BIGINT 3·cb < n tests); the
    // within-stage order is the q_epoch_order hash-shard discipline
    "q_curriculum_order" ->
      (s"WITH f0 AS (SELECT doc_id, text, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents WHERE length(text) > 0), " +
        "f AS (SELECT doc_id, text, round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) AS quality FROM f0), " +
        "h AS (SELECT quality, COUNT(*) AS cnt FROM f GROUP BY quality), " +
        "w AS (SELECT quality, COALESCE(SUM(cnt) OVER " +
        "(ORDER BY quality DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb, " +
        "SUM(cnt) OVER () AS n FROM h), " +
        "thr AS (SELECT MIN(CASE WHEN cb * 3 < n THEN quality END) AS q1, " +
        "MIN(CASE WHEN cb * 3 < n * 2 THEN quality END) AS q2 FROM w), " +
        "st AS (SELECT doc_id, quality, " +
        "CASE WHEN quality >= q1 THEN 1 WHEN quality >= q2 THEN 2 ELSE 3 END AS stage, text " +
        "FROM f CROSS JOIN thr), " +
        "sh AS (SELECT doc_id, quality, stage, " +
        "md5(CAST(stage AS VARCHAR) || ':' || text) AS hh FROM st) " +
        "SELECT doc_id, quality, stage, substring(hh, 1, 1) AS shard, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY stage, substring(hh, 1, 1) " +
        "ORDER BY hh, doc_id) AS BIGINT) AS pos " +
        "FROM sh ORDER BY doc_id"),
    // link graph: per-node degrees over the shared edge chain — exact
    // integer compare
    "q_link_graph_degrees" ->
      (s"$linkGraphCteSql " +
        "SELECT doc_id, COALESCE(out_deg, 0) AS out_deg, COALESCE(in_deg, 0) AS in_deg " +
        "FROM documents LEFT JOIN od ON doc_id = od.src LEFT JOIN ideg ON doc_id = ideg.dst " +
        "ORDER BY doc_id"),
    // PageRank: 4 exact-integer iterations, bit-identical replay
    "q_pagerank" -> pagerankSql,
    // classifier training: the full unrolled gradient descent
    "q_train_classifier" -> trainClassifierSql,
    // distillation end-to-end: the corpus scored with the weights the
    // chain just trained
    "q_distilled_scores" -> distilledScoresSql,
    // connected components: exact integer min-label propagation
    "q_link_components" -> linkComponentsSql,
    // TrustRank: the seeded-teleport recurrence, seeds = the vetted source
    "q_trustrank" -> trustrankSql,
    // personalized PageRank: the seeded-rank chain, topic = English
    "q_ppr_topic" -> seededRankSql("lang = 'en'", includeSeedCol = true),
    // strongly-connected components: nested peel unroll
    "q_link_scc" -> linkSccSql,
    // crawl depth: min-plus BFS unroll from the trusted seed host
    "q_crawl_depth" -> crawlDepthSql,
    // incremental PageRank: base-chain + warm-refinement double unroll
    "q_pagerank_incremental" -> pagerankIncrementalSql,
    // web bow-tie: SCC chain + dual BFS unrolls off the giant core
    "q_web_bowtie" -> webBowtieSql,
    // HITS hubs/authorities: exact integer replay
    "q_hits" -> hitsSql,
    // rank convergence audit: exact per-iteration movement
    "q_pagerank_converge" -> pagerankConvergeSql,
    // deterministic random walks (DeepWalk context generation)
    "q_random_walks" -> randomWalksSql,
    // node2vec biased walks: lexicographic (class, hash) election
    "q_node2vec_walks" -> node2vecWalksSql,
    // serving: rank/trust mass of each page's outbound targets
    "q_crawl_priority" -> crawlPrioritySql,
    // skip-gram co-occurrence pairs over the walks (window 2)
    "q_walk_context_pairs" ->
      (s"$walkPairsCtesSql " +
        "SELECT center, context, n_cooc FROM wp ORDER BY center, context"),
    // DeepWalk closure: unrolled full-batch factorization descent
    "q_node_embeddings" -> nodeEmbeddingsSql,
    // embedding evaluation: histogram-midrank AUC over sigmoid-scored
    // edges vs hash-derived non-edges (the q_quality_auc replay)
    "q_link_prediction_auc" -> linkPredictionAucSql,
    // entity resolution: FastSS k=1 deletion-neighborhood blocking,
    // levenshtein <= 1 verification, (distance, key) argmin election —
    // all string/integer ops, engine-identical
    "q_fuzzy_entity_match" ->
      ("WITH cust AS (SELECT c_custkey AS key, c_name AS name FROM customer), " +
        "pr AS (SELECT key AS probe_id, " +
        "substr(name, 1, CAST((('0x' || substr(md5(name), 1, 15))::BIGINT) % length(name) AS INT)) || " +
        "substr(name, CAST((('0x' || substr(md5(name), 1, 15))::BIGINT) % length(name) AS INT) + 2) AS probe_name " +
        "FROM cust), " +
        "pk AS (SELECT probe_id, probe_name, unnest(list_distinct(list_prepend(probe_name, " +
        "list_transform(range(1, length(probe_name) + 1), i -> " +
        "substr(probe_name, 1, i - 1) || substr(probe_name, i + 1))))) AS k FROM pr), " +
        "tk AS (SELECT key, name, unnest(list_distinct(list_prepend(name, " +
        "list_transform(range(1, length(name) + 1), i -> " +
        "substr(name, 1, i - 1) || substr(name, i + 1))))) AS k FROM cust), " +
        "cand AS (SELECT DISTINCT probe_id, probe_name, key, name FROM pk JOIN tk USING (k)), " +
        "m AS (SELECT probe_id, probe_name, key, name, " +
        "CAST(levenshtein(probe_name, name) AS BIGINT) AS d FROM cand " +
        "WHERE levenshtein(probe_name, name) <= 1) " +
        "SELECT probe_id, probe_name, key AS match_key, name AS match_name, " +
        "d AS edit_dist, CAST(COUNT(*) OVER (PARTITION BY probe_id) AS BIGINT) AS n_matches " +
        "FROM m QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY d, key) = 1 " +
        "ORDER BY probe_id"),
    // triangle family: degree-ordered orientation makes every wedge
    // and every triangle appear exactly once — pure integer joins,
    // only the final lcc ratio is FP (exact-ratio 6-dp snap)
    "q_clustering_coefficient" ->
      (s"$triangleCtesSql " +
        "SELECT d.doc_id, COALESCE(ud.udeg, 0) AS und_deg, " +
        "COALESCE(tc.n_triangles, 0) AS n_triangles, " +
        "CASE WHEN COALESCE(ud.udeg, 0) >= 2 THEN " +
        "floor(2000000.0 * COALESCE(tc.n_triangles, 0) / (ud.udeg * (ud.udeg - 1)) + 0.5) / 1000000.0 " +
        "ELSE 0.0 END AS lcc " +
        "FROM documents d LEFT JOIN ud ON d.doc_id = ud.doc_id " +
        "LEFT JOIN tc ON d.doc_id = tc.doc_id ORDER BY d.doc_id"),
    // k-core: unrolled simultaneous peel, integer degree counts only
    "q_kcore_membership" -> kcoreMembershipSql,
    // label propagation: unrolled majority-vote rounds, clamped seeds
    "q_label_propagation" -> labelPropagationSql,
    // retrieval: the probe-term postings audit — integer tf/df only
    "q_term_postings" -> {
      val probe = ext.Search.ProbeTerms.map(t => s"'$t'").mkString(", ")
      s"WITH sp AS MATERIALIZED (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf " +
        s"FROM (SELECT doc_id, unnest($toks) AS term FROM documents WHERE text IS NOT NULL) " +
        s"WHERE term IN ($probe) GROUP BY doc_id, term), " +
        "st AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf " +
        "FROM sp GROUP BY term), " +
        "sr AS (SELECT term, doc_id, tf, ROW_NUMBER() OVER " +
        "(PARTITION BY term ORDER BY tf DESC, doc_id) AS rank FROM sp) " +
        "SELECT sr.term, st.df, st.total_tf, CAST(sr.rank AS BIGINT) AS rank, " +
        "sr.doc_id, sr.tf FROM sr JOIN st ON sr.term = st.term " +
        "WHERE sr.rank <= 3 ORDER BY sr.term, sr.rank"
    },
    // BM25: per-(doc, term) contributions micro-snapped BEFORE the
    // per-doc sum — expression structure (operator order, literal
    // values) mirrors Search.bm25Against term for term
    "q_bm25_topk" -> bm25ExhaustiveSql,
    // MaxScore-pruned BM25: the ORACLE IS the exhaustive SQL — the
    // driver's hash gate is the pruned-vs-exhaustive parity proof
    // (upper-bound pruning must be invisible in the result); the
    // pruning-bites evidence lives in SearchSpec's planted fixture
    "q_bm25_maxscore_topk" -> bm25ExhaustiveSql,
    // WAND/MaxScore bound table: the per-(doc, term) snapped
    // contribution chain (the bm25 tree verbatim), MAX per term
    "q_bm25_term_bounds" -> {
      s"WITH $bm25ContribCtesSql " +
        "SELECT term, ANY_VALUE(df_t) AS df_t, MAX(c) AS u_micro " +
        "FROM scc GROUP BY term ORDER BY term"
    },
    // block-max variant: per (term, 256-doc block) count + MAX —
    // doc_id >> 8 replays as floor division
    "q_bm25_blockmax_bounds" -> {
      s"WITH $bm25ContribCtesSql " +
        s"SELECT term, doc_id // ${ext.Search.BlockSize} AS block, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, MAX(c) AS bmax_micro " +
        "FROM scc GROUP BY term, block ORDER BY term, block"
    },
    // block-max pruned evaluation: oracle = the exhaustive ranking
    // (the q_bm25_maxscore_topk parity-by-oracle discipline)
    "q_bm25_blockmax_topk" -> bm25ExhaustiveSql,
    // hard-negative mining: per probe term (= training query) the
    // top-1 doc is the positive; ranks 2..max+1 within the 2·neg >= pos
    // margin are the hard negatives. The oracle replays the bounded
    // aggregator as a per-term rank window over the scc contributions.
    "q_hard_negatives" -> {
      val maxN = ext.Search.MaxHardNegs
      s"WITH $bm25ContribCtesSql, " +
        "hnr AS (SELECT term, doc_id, c, ROW_NUMBER() OVER " +
        "(PARTITION BY term ORDER BY c DESC, doc_id) AS rn FROM scc), " +
        "hnp AS (SELECT term, doc_id AS pos_doc_id, c AS pos_score_micro " +
        "FROM hnr WHERE rn = 1) " +
        "SELECT s.term, CAST(s.rn - 1 AS BIGINT) AS neg_rank, s.doc_id, " +
        "s.c AS neg_score_micro, p.pos_doc_id, p.pos_score_micro " +
        "FROM hnr s JOIN hnp p ON s.term = p.term " +
        s"WHERE s.rn >= 2 AND s.rn <= ${maxN + 1} " +
        "AND s.c * 2 >= p.pos_score_micro ORDER BY s.term, neg_rank"
    },
    // retrieval effectiveness audit: nDCG@k / MRR / MAP@k of the BM25
    // ranking against the label-free grade rel = n distinct query
    // terms present. Discounts are a shared 10-entry double-constant
    // CASE (zero libm exposure); gains micro-snapped per row, summed
    // as exact BIGINTs; every division a single double op.
    "q_retrieval_eval_audit" -> {
      val k = ext.Search.EvalK
      val rg = ext.Search.RelGrade
      val gain = ndcgGainSql
      s"WITH $bm25ContribCtesSql, " +
        "evc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micro, " +
        "CAST(COUNT(*) AS BIGINT) AS rel FROM scc GROUP BY doc_id), " +
        "evs AS (SELECT doc_id, rel, CAST(ROW_NUMBER() OVER " +
        "(ORDER BY score_micro DESC, doc_id) AS BIGINT) AS r " +
        s"FROM evc ORDER BY score_micro DESC, doc_id LIMIT $k), " +
        "evi AS (SELECT rel, CAST(ROW_NUMBER() OVER " +
        "(ORDER BY rel DESC, doc_id) AS BIGINT) AS r " +
        s"FROM evc ORDER BY rel DESC, doc_id LIMIT $k), " +
        s"evg AS (SELECT COALESCE(CAST(SUM($gain) AS BIGINT), 0) AS dcg_micro FROM evs), " +
        s"evh AS (SELECT COALESCE(CAST(SUM($gain) AS BIGINT), 0) AS idcg_micro FROM evi), " +
        "evm AS (SELECT COALESCE(CAST(floor(1000000.0 / MIN(r) + 0.5) AS BIGINT), 0) " +
        s"AS mrr_micro FROM evs WHERE rel >= $rg), " +
        s"evp AS (SELECT r, rel, SUM(CASE WHEN rel >= $rg THEN 1 ELSE 0 END) " +
        "OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS relcnt FROM evs), " +
        "eva AS (SELECT COALESCE(CAST(SUM(CAST(floor(CAST(relcnt AS DOUBLE) " +
        "* 1000000.0 / r + 0.5) AS BIGINT)) AS BIGINT), 0) AS sum_p_micro " +
        s"FROM evp WHERE rel >= $rg), " +
        s"evn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant FROM evc WHERE rel >= $rg), " +
        "evt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM evc) " +
        "SELECT n_candidates, n_relevant, dcg_micro, idcg_micro, " +
        "CASE WHEN idcg_micro > 0 THEN floor(CAST(dcg_micro AS DOUBLE) / " +
        "CAST(idcg_micro AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END AS ndcg_r, " +
        "CAST(mrr_micro AS DOUBLE) / 1000000.0 AS mrr_r, " +
        "CASE WHEN n_relevant > 0 THEN floor(CAST(sum_p_micro AS DOUBLE) / " +
        s"CAST(LEAST(n_relevant, $k) AS DOUBLE) + 0.5) / 1000000.0 ELSE 0.0 END AS map_r " +
        "FROM evt, evn, evg, evh, evm, eva"
    },
    // BM25 parameter sweep: per (k1, b) grid cell the contribution
    // arithmetic replays with the cell's constants (one cross join of
    // the VALUES grid); per-cell nDCG@k/MRR against the shared
    // term-coverage grade; ideal ranking (and idcg) grid-independent
    "q_bm25_param_sweep" -> {
      val grid = ext.Search.BmSweepGrid.map { case (g, k1, b) =>
        s"($g, CAST($k1 AS DOUBLE), CAST($b AS DOUBLE))" }.mkString(", ")
      val k = ext.Search.EvalK
      val rg = ext.Search.RelGrade
      val gain = ndcgGainSql
      s"WITH $bm25ContribCtesSql, " +
        s"bsg AS (SELECT * FROM (VALUES $grid) AS g(gid, k1, b)), " +
        "bsc AS MATERIALIZED (SELECT gid, k1, b, doc_id, CAST(floor(" +
        "ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5)) * tf / " +
        "(tf + k1 * (1.0 - b + b * dl / (CAST(s AS DOUBLE) / n))) " +
        "* 1000000.0 + 0.5) AS BIGINT) AS c " +
        "FROM sp JOIN sdf ON sp.term = sdf.term CROSS JOIN cs CROSS JOIN bsg), " +
        "bsa AS (SELECT gid, k1, b, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro " +
        "FROM bsc GROUP BY gid, k1, b, doc_id), " +
        "bsr AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS rel FROM sp GROUP BY doc_id), " +
        "bss AS (SELECT gid, k1, b, doc_id, r FROM (SELECT gid, k1, b, doc_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY gid ORDER BY score_micro DESC, doc_id) AS BIGINT) AS r " +
        s"FROM bsa) WHERE r <= $k), " +
        "bsj AS (SELECT s.gid, s.k1, s.b, s.r, t.rel FROM bss s " +
        "JOIN bsr t ON s.doc_id = t.doc_id), " +
        "bsi AS (SELECT rel, CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS BIGINT) AS r " +
        s"FROM bsr ORDER BY rel DESC, doc_id LIMIT $k), " +
        s"bsd AS (SELECT COALESCE(CAST(SUM($gain) AS BIGINT), 0) AS idcg_micro FROM bsi), " +
        s"bsm AS (SELECT gid, k1, b, CAST(SUM($gain) AS BIGINT) AS dcg_micro, " +
        s"MIN(CASE WHEN rel >= $rg THEN r END) AS minr " +
        "FROM bsj GROUP BY gid, k1, b) " +
        "SELECT k1, b, dcg_micro, idcg_micro, " +
        "CASE WHEN idcg_micro > 0 THEN floor(CAST(dcg_micro AS DOUBLE) / " +
        "CAST(idcg_micro AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END AS ndcg_r, " +
        "CAST(COALESCE(CAST(floor(1000000.0 / minr + 0.5) AS BIGINT), 0) AS DOUBLE) " +
        "/ 1000000.0 AS mrr_r " +
        "FROM bsm CROSS JOIN bsd ORDER BY k1, b"
    },
    // conversion attribution: first/last-touch credit inside the
    // lookback, the window predicate in the LEFT JOIN condition so
    // no-touch conversions credit 'none'; picks are per-conversion
    // rank windows with explicit NULLS LAST on both engines
    "q_conversion_attribution" -> {
      val h = analytics.ExtraQueries.AttributionLookbackH
      val conv = analytics.ExtraQueries.AttributionConv
      val touch = analytics.ExtraQueries.AttributionTouch
        .map(t => s"'$t'").mkString(", ")
      s"WITH cac AS (SELECT user_id, ts AS cts, event_id AS cid FROM events " +
        s"WHERE event_type = '$conv'), " +
        "cat2 AS (SELECT user_id AS tuid, ts AS tts, event_id AS tid, " +
        s"event_type AS touch_type FROM events WHERE event_type IN ($touch)), " +
        "caj AS MATERIALIZED (SELECT c.cid, t.tts, t.tid, t.touch_type " +
        "FROM cac c LEFT JOIN cat2 t ON c.user_id = t.tuid " +
        s"AND t.tts <= c.cts AND t.tts >= c.cts - INTERVAL $h HOURS), " +
        "caf AS (SELECT 'first' AS model, COALESCE(touch_type, 'none') AS touch_type " +
        "FROM (SELECT cid, touch_type, ROW_NUMBER() OVER (PARTITION BY cid " +
        "ORDER BY tts ASC NULLS LAST, tid) AS rn FROM caj) WHERE rn = 1), " +
        "cal AS (SELECT 'last' AS model, COALESCE(touch_type, 'none') AS touch_type " +
        "FROM (SELECT cid, touch_type, ROW_NUMBER() OVER (PARTITION BY cid " +
        "ORDER BY tts DESC NULLS LAST, tid DESC) AS rn FROM caj) WHERE rn = 1), " +
        "can AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_conv FROM cac) " +
        "SELECT model, touch_type, CAST(COUNT(*) AS BIGINT) AS n_conversions, " +
        "floor(CAST(COUNT(*) AS DOUBLE) / CAST(n_conv AS DOUBLE) * 1000000.0 + 0.5) " +
        "/ 1000000.0 AS share_r " +
        "FROM (SELECT * FROM caf UNION ALL SELECT * FROM cal) CROSS JOIN can " +
        "GROUP BY model, touch_type, n_conv ORDER BY model, touch_type"
    },
    // MMR diversification: the greedy λ=1/2 recurrence unrolled round
    // by round (the Lloyd-unroll discipline) — objective is pure
    // integer micro arithmetic (score − max 3-gram Jaccard to the
    // selected set), ties to doc_id
    "q_mmr_diversify" -> {
      val p = ext.Search.MmrPool
      val kk = ext.Search.MmrK
      val rounds = (2 to kk).map { i =>
        val prev = s"msel${i - 1}"
        s"mm$i AS (SELECT CAST($i AS BIGINT) AS round, p.doc_id, p.score_micro, " +
          "COALESCE(s.ms, 0) AS max_sim_micro, " +
          "p.score_micro - COALESCE(s.ms, 0) AS obj_micro " +
          "FROM mmp p LEFT JOIN (SELECT ia, MAX(sim_micro) AS ms FROM mms " +
          s"WHERE ib IN (SELECT doc_id FROM $prev) GROUP BY ia) s " +
          "ON p.doc_id = s.ia " +
          s"WHERE p.doc_id NOT IN (SELECT doc_id FROM $prev) " +
          "ORDER BY obj_micro DESC, p.doc_id LIMIT 1), " +
          s"msel$i AS (SELECT doc_id FROM $prev UNION ALL SELECT doc_id FROM mm$i)"
      }.mkString(", ")
      val unions = (1 to kk).map(i => s"SELECT * FROM mm$i").mkString(" UNION ALL ")
      s"WITH $bm25ContribCtesSql, " +
        "mmp AS MATERIALIZED (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micro " +
        s"FROM scc GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT $p), " +
        "mmsh AS MATERIALIZED (SELECT d.doc_id, list_distinct(list_transform(" +
        s"generate_series(1, greatest(len($toks) - 2, 1)), " +
        s"i -> array_to_string(($toks)[i:i+2], ' '))) AS sh " +
        "FROM documents d JOIN mmp p ON d.doc_id = p.doc_id WHERE d.text IS NOT NULL), " +
        "mms AS MATERIALIZED (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
        "CAST(floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) * 1000000.0 / " +
        "len(list_distinct(list_concat(a.sh, b.sh))) + 0.5) AS BIGINT) AS sim_micro " +
        "FROM mmsh a JOIN mmsh b ON a.doc_id <> b.doc_id), " +
        "mm1 AS (SELECT CAST(1 AS BIGINT) AS round, doc_id, score_micro, " +
        "CAST(0 AS BIGINT) AS max_sim_micro, score_micro AS obj_micro " +
        "FROM mmp ORDER BY score_micro DESC, doc_id LIMIT 1), " +
        "msel1 AS (SELECT doc_id FROM mm1), " +
        rounds +
        s" SELECT round, doc_id, score_micro, max_sim_micro, obj_micro " +
        s"FROM ($unions) ORDER BY round"
    },
    // postings compression model: per-term delta-gap + LEB128 widths
    // over the probed postings (sp from the shared contribution chain;
    // first gap = doc_id + 1 via the -1 lag default)
    "q_postings_size_model" -> {
      def vb(e: String) = "CASE " + (1 to 8).map(b =>
        s"WHEN $e < ${1L << (7 * b)} THEN $b").mkString(" ") + " ELSE 9 END"
      s"WITH $bm25ContribCtesSql, " +
        "psg AS (SELECT term, tf, doc_id - COALESCE(LAG(doc_id) OVER " +
        "(PARTITION BY term ORDER BY doc_id), -1) AS gap FROM sp) " +
        "SELECT term, CAST(COUNT(*) AS BIGINT) AS df, " +
        s"CAST(SUM(${vb("gap")}) AS BIGINT) AS gap_bytes, " +
        s"CAST(SUM(${vb("tf")}) AS BIGINT) AS tf_bytes, " +
        "CAST(COUNT(*) * 16 AS BIGINT) AS raw_bytes, " +
        s"floor(CAST(SUM(${vb("gap")}) + SUM(${vb("tf")}) AS DOUBLE) / " +
        "CAST(COUNT(*) * 16 AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 " +
        "AS compressed_frac_r FROM psg GROUP BY term ORDER BY term"
    },
    // k-anonymity: quasi-identifier group sizes (lang × source ×
    // 500-char length bucket), risk mass below k ∈ {2, 5, 10}
    "q_k_anonymity" -> {
      val lb = ext.Cleaning.KAnonLenBucket
      def gl(k: Int) =
        s"CAST(SUM(CASE WHEN gs < $k THEN 1 ELSE 0 END) AS BIGINT) AS groups_lt_$k"
      def dl(k: Int) =
        s"CAST(SUM(CASE WHEN gs < $k THEN gs ELSE 0 END) AS BIGINT) AS docs_lt_$k"
      def rr(k: Int) =
        s"floor(CAST(SUM(CASE WHEN gs < $k THEN gs ELSE 0 END) AS DOUBLE) / " +
          s"CAST(SUM(gs) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS risk_pct_${k}_r"
      s"WITH kag AS (SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM documents " +
        s"GROUP BY lang, source, floor(n_chars / $lb)) " +
        "SELECT CAST(SUM(gs) AS BIGINT) AS n_docs, " +
        "CAST(COUNT(*) AS BIGINT) AS n_groups, " +
        s"${gl(2)}, ${dl(2)}, ${rr(2)}, ${gl(5)}, ${dl(5)}, ${rr(5)}, " +
        s"${gl(10)}, ${dl(10)}, ${rr(10)} FROM kag"
    },
    // chunk-granular BM25 (r15): the docChunks window algebra yields
    // (chunk, cl, token slice); chunk-level BM25 with the q_bm25
    // expression tree verbatim (chunk stats for N/avgdl/df);
    // per-doc best chunk via (score DESC, chunk_id) rank; the winning
    // chunk's KWIC snippet replays the q_search_snippets clamp
    "q_chunk_bm25_topk" -> {
      val probe = ext.Search.ProbeTerms.map(t => s"'$t'").mkString(", ")
      val k1 = ext.Search.K1
      val b = ext.Search.B
      val cw = ext.Search.ChunkTok
      val cs = ext.Search.ChunkStride
      val pad = ext.Search.SnippetPad
      val topK = ext.Search.ChunkTopK
      val posCase = "CASE " + ext.Search.ProbeTerms.map(tm =>
        s"WHEN strpos(lower(ct), '${tm.toLowerCase}') > 0 THEN CAST(strpos(lower(ct), '${tm.toLowerCase}') AS BIGINT)")
        .mkString(" ") + " END"
      val tlCase = "CASE " + ext.Search.ProbeTerms.map(tm =>
        s"WHEN strpos(lower(ct), '${tm.toLowerCase}') > 0 THEN CAST(${tm.length} AS BIGINT)")
        .mkString(" ") + " END"
      s"WITH cf AS (SELECT doc_id, $toks AS t FROM documents WHERE text IS NOT NULL), " +
        "cj AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n, " +
        s"unnest(range(0, CASE WHEN len(t) <= $cw THEN 1 " +
        s"ELSE ((len(t) - $cw + ${cs - 1}) // $cs) + 1 END)) AS chunk_id FROM cf), " +
        s"ck AS MATERIALIZED (SELECT doc_id, chunk_id, least($cw, n - chunk_id * $cs) AS cl, " +
        s"list_slice(t, chunk_id * $cs + 1, chunk_id * $cs + least($cw, n - chunk_id * $cs)) AS ctoks FROM cj), " +
        "cst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cl) AS BIGINT) AS s FROM ck), " +
        "cp AS MATERIALIZED (SELECT doc_id, chunk_id, term, CAST(COUNT(*) AS BIGINT) AS tf, " +
        "ANY_VALUE(cl) AS cl FROM (SELECT doc_id, chunk_id, cl, unnest(ctoks) AS term FROM ck) " +
        s"WHERE term IN ($probe) GROUP BY doc_id, chunk_id, term), " +
        "cdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM cp GROUP BY term), " +
        "csc AS (SELECT doc_id, chunk_id, CAST(SUM(CAST(floor(" +
        "ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5)) * tf / " +
        s"(tf + $k1 * (${1.0 - b} + $b * cl / (CAST(s AS DOUBLE) / n))) " +
        "* 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS chunk_score " +
        "FROM cp JOIN cdf ON cp.term = cdf.term CROSS JOIN cst GROUP BY doc_id, chunk_id), " +
        "cb AS (SELECT doc_id, chunk_id, chunk_score AS score_micro, n_chunks_hit FROM " +
        "(SELECT doc_id, chunk_id, chunk_score, " +
        "CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_chunks_hit, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_score DESC, chunk_id) AS rn " +
        "FROM csc) WHERE rn = 1), " +
        "ctp AS (SELECT doc_id, chunk_id, score_micro, n_chunks_hit, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank " +
        s"FROM cb ORDER BY score_micro DESC, doc_id LIMIT $topK), " +
        "csn AS (SELECT p.rank, p.doc_id, p.chunk_id, p.score_micro, p.n_chunks_hit, " +
        "array_to_string(k.ctoks, ' ') AS ct FROM ctp p " +
        "JOIN ck k ON k.doc_id = p.doc_id AND k.chunk_id = p.chunk_id), " +
        s"cs2 AS (SELECT rank, doc_id, chunk_id, score_micro, n_chunks_hit, ct, " +
        s"$posCase AS pos, $tlCase AS tl FROM csn) " +
        "SELECT rank, doc_id, chunk_id, score_micro, n_chunks_hit, " +
        s"CASE WHEN pos IS NOT NULL THEN substring(ct, CAST(greatest(1, pos - $pad) AS INT), " +
        s"CAST(pos + tl + ${pad - 1} - greatest(1, pos - $pad) + 1 AS INT)) ELSE '' END AS snippet " +
        "FROM cs2 ORDER BY rank"
    },
    // section splitter (r16): the sectionChunksDf chain — heading
    // parse, running window maxima, active-path rule — all exact
    // string/integer ops
    "q_section_chunks" ->
      (s"WITH $sectionCtesSql " +
        "SELECT doc_id, section_id, level, heading_path, n_lines, cl " +
        "FROM ssx ORDER BY doc_id, section_id"),
    // section-granular BM25 (r16): the chunk-BM25 expression tree over
    // structure-derived sections, winner payload = heading path + KWIC
    // snippet (the q_chunk_bm25_topk discipline)
    "q_section_bm25_topk" -> {
      val probe = ext.Search.ProbeTerms.map(t => s"'$t'").mkString(", ")
      val k1 = ext.Search.K1
      val b = ext.Search.B
      val pad = ext.Search.SnippetPad
      val topK = ext.Search.SectionTopK
      val posCase = "CASE " + ext.Search.ProbeTerms.map(tm =>
        s"WHEN strpos(lower(ct), '${tm.toLowerCase}') > 0 THEN CAST(strpos(lower(ct), '${tm.toLowerCase}') AS BIGINT)")
        .mkString(" ") + " END"
      val tlCase = "CASE " + ext.Search.ProbeTerms.map(tm =>
        s"WHEN strpos(lower(ct), '${tm.toLowerCase}') > 0 THEN CAST(${tm.length} AS BIGINT)")
        .mkString(" ") + " END"
      s"WITH $sectionCtesSql, " +
        "zst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cl) AS BIGINT) AS s FROM ssx), " +
        "zp AS MATERIALIZED (SELECT doc_id, section_id, term, CAST(COUNT(*) AS BIGINT) AS tf, " +
        "ANY_VALUE(cl) AS cl FROM (SELECT doc_id, section_id, cl, " +
        "unnest(string_split_regex(trim(st), '\\s+')) AS term FROM ssx WHERE cl > 0) " +
        s"WHERE term IN ($probe) GROUP BY doc_id, section_id, term), " +
        "zdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM zp GROUP BY term), " +
        "zsc AS (SELECT doc_id, section_id, CAST(SUM(CAST(floor(" +
        "ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5)) * tf / " +
        s"(tf + $k1 * (${1.0 - b} + $b * cl / (CAST(s AS DOUBLE) / n))) " +
        "* 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS section_score " +
        "FROM zp JOIN zdf ON zp.term = zdf.term CROSS JOIN zst GROUP BY doc_id, section_id), " +
        "zb AS (SELECT doc_id, section_id, section_score AS score_micro, n_sections_hit FROM " +
        "(SELECT doc_id, section_id, section_score, " +
        "CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_sections_hit, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY section_score DESC, section_id) AS rn " +
        "FROM zsc) WHERE rn = 1), " +
        "ztp AS (SELECT doc_id, section_id, score_micro, n_sections_hit, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank " +
        s"FROM zb ORDER BY score_micro DESC, doc_id LIMIT $topK), " +
        "zsn AS (SELECT p.rank, p.doc_id, p.section_id, x.heading_path, " +
        "p.score_micro, p.n_sections_hit, x.st AS ct FROM ztp p " +
        "JOIN ssx x ON x.doc_id = p.doc_id AND x.section_id = p.section_id), " +
        s"zs2 AS (SELECT rank, doc_id, section_id, heading_path, score_micro, n_sections_hit, ct, " +
        s"$posCase AS pos, $tlCase AS tl FROM zsn) " +
        "SELECT rank, doc_id, section_id, heading_path, score_micro, n_sections_hit, " +
        s"CASE WHEN pos IS NOT NULL THEN substring(ct, CAST(greatest(1, pos - $pad) AS INT), " +
        s"CAST(pos + tl + ${pad - 1} - greatest(1, pos - $pad) + 1 AS INT)) ELSE '' END AS snippet " +
        "FROM zs2 ORDER BY rank"
    },
    // section outline audit (r16): per-level counts + one snapped mean
    "q_section_stats" ->
      (s"WITH $sectionCtesSql " +
        "SELECT level, CAST(COUNT(*) AS BIGINT) AS n_sections, " +
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN cl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty, " +
        "CAST(SUM(cl) AS BIGINT) AS total_tokens, " +
        "floor(CAST(SUM(cl) AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_tokens " +
        "FROM ssx GROUP BY level ORDER BY level"),
    // section dedup (r16): boilerplate clauses — md5-keyed groups of
    // non-empty section texts spanning > 1 document, bounded final
    // under the (n, n_docs, clause) total order
    "q_section_dedup" -> {
      val k = ext.Search.SectionDedupTopK
      s"WITH $sectionCtesSql, " +
        "sdg AS (SELECT md5(st) AS clause_md5, CAST(COUNT(*) AS BIGINT) AS n_occurrences, " +
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, MIN(doc_id) AS first_doc_id, " +
        "MAX(st) AS clause FROM ssx WHERE st <> '' GROUP BY md5(st)) " +
        "SELECT clause_md5, n_occurrences, n_docs, first_doc_id, clause FROM sdg " +
        s"WHERE n_docs > 1 ORDER BY n_occurrences DESC, n_docs DESC, clause LIMIT $k"
    },
    // hybrid RRF: the bm25 chain at fusion depth + the single-probe
    // cosine ranking, micro-snapped 1/(K+rank) contributions over a
    // full-outer join — rank arithmetic end to end
    "q_hybrid_rrf" -> {
      val probe = ext.Search.ProbeTerms.map(t => s"'$t'").mkString(", ")
      val k1 = ext.Search.K1
      val b = ext.Search.B
      val kc = ext.Search.RrfKConst
      val depth = ext.Search.RrfDepth
      val topK = ext.Search.RrfTopK
      val pv = ext.Search.ProbeVecId
      def c(r: String) =
        s"COALESCE(CAST(floor(1000000.0 / ($kc + $r) + 0.5) AS BIGINT), 0)"
      s"WITH sb AS (SELECT doc_id, len($toks) AS dl, unnest($toks) AS term " +
        "FROM documents WHERE text IS NOT NULL), " +
        s"sp AS MATERIALIZED (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, " +
        s"ANY_VALUE(dl) AS dl FROM sb WHERE term IN ($probe) GROUP BY doc_id, term), " +
        s"cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len($toks)) AS BIGINT) AS s " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM sp GROUP BY term), " +
        "ssc AS (SELECT doc_id, CAST(SUM(CAST(floor(" +
        "ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5)) * tf / " +
        s"(tf + $k1 * (${1.0 - b} + $b * dl / (CAST(s AS DOUBLE) / n))) " +
        "* 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score_micro " +
        "FROM sp JOIN sdf ON sp.term = sdf.term CROSS JOIN cs GROUP BY doc_id), " +
        "hlex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS lex_rank " +
        s"FROM ssc ORDER BY score_micro DESC, doc_id LIMIT $depth), " +
        "hq AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings " +
        s"WHERE vec_id = $pv AND embedding IS NOT NULL), " +
        "hs AS (SELECT c.vec_id AS doc_id, " +
        "round(list_cosine_similarity(q, CAST(c.embedding AS DOUBLE[])), 6) AS cos_s " +
        s"FROM embeddings c CROSS JOIN hq WHERE c.vec_id <> $pv AND c.embedding IS NOT NULL), " +
        "hsem AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos_s DESC, doc_id) AS BIGINT) AS sem_rank " +
        s"FROM hs ORDER BY cos_s DESC, doc_id LIMIT $depth), " +
        "hfu AS (SELECT COALESCE(l.doc_id, se.doc_id) AS doc_id, l.lex_rank, se.sem_rank, " +
        s"${c("l.lex_rank")} + ${c("se.sem_rank")} AS rrf_micro " +
        "FROM hlex l FULL OUTER JOIN hsem se ON l.doc_id = se.doc_id) " +
        "SELECT doc_id, lex_rank, sem_rank, rrf_micro, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank " +
        s"FROM hfu ORDER BY rrf_micro DESC, doc_id LIMIT $topK"
    },
    // incremental postings: disjoint % 4 doc-id spaces make merged
    // stats pure sums — base/delta probed aggregates, one |terms| join
    "q_postings_incremental" -> {
      val probe = ext.Search.ProbeTerms.map(t => s"'$t'").mkString(", ")
      def side(name: String, cond: String) =
        s"$name AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS tft " +
          "FROM (SELECT doc_id, term, COUNT(*) AS tf FROM " +
          s"(SELECT doc_id, unnest($toks) AS term FROM documents " +
          s"WHERE text IS NOT NULL AND $cond) " +
          s"WHERE term IN ($probe) GROUP BY doc_id, term) GROUP BY term)"
      s"WITH ${side("pb", "doc_id % 4 <> 0")}, ${side("pd", "doc_id % 4 = 0")} " +
        "SELECT COALESCE(pb.term, pd.term) AS term, " +
        "COALESCE(pb.df, 0) AS df_base, COALESCE(pd.df, 0) AS df_delta, " +
        "COALESCE(pb.df, 0) + COALESCE(pd.df, 0) AS df_merged, " +
        "COALESCE(pb.tft, 0) + COALESCE(pd.tft, 0) AS total_tf_merged, " +
        "floor(CAST(COALESCE(pd.df, 0) AS DOUBLE) / (COALESCE(pb.df, 0) + COALESCE(pd.df, 0)) " +
        "* 1000000.0 + 0.5) / 1000000.0 AS delta_share " +
        "FROM pb FULL OUTER JOIN pd ON pb.term = pd.term ORDER BY term"
    },
    // query expansion (pseudo-relevance feedback): bm25 top-m feedback
    // docs -> candidate terms scored idf * exact tf sum, micro-snapped
    "q_query_expansion" -> {
      val probe = ext.Search.ProbeTerms.map(t => s"'$t'").mkString(", ")
      val k1 = ext.Search.K1
      val b = ext.Search.B
      val m = ext.Search.FbDocs
      val topK = ext.Search.FbTerms
      s"WITH sb AS (SELECT doc_id, len($toks) AS dl, unnest($toks) AS term " +
        "FROM documents WHERE text IS NOT NULL), " +
        s"sp AS MATERIALIZED (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, " +
        s"ANY_VALUE(dl) AS dl FROM sb WHERE term IN ($probe) GROUP BY doc_id, term), " +
        s"cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len($toks)) AS BIGINT) AS s " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM sp GROUP BY term), " +
        "ssc AS (SELECT doc_id, CAST(SUM(CAST(floor(" +
        "ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5)) * tf / " +
        s"(tf + $k1 * (${1.0 - b} + $b * dl / (CAST(s AS DOUBLE) / n))) " +
        "* 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score_micro " +
        "FROM sp JOIN sdf ON sp.term = sdf.term CROSS JOIN cs GROUP BY doc_id), " +
        s"fbd AS (SELECT doc_id FROM ssc ORDER BY score_micro DESC, doc_id LIMIT $m), " +
        "fbp AS MATERIALIZED (SELECT term, CAST(SUM(tf) AS BIGINT) AS tf_fb, " +
        "CAST(COUNT(*) AS BIGINT) AS df_fb FROM " +
        "(SELECT t.doc_id, t.term, COUNT(*) AS tf FROM sb t JOIN fbd ON t.doc_id = fbd.doc_id " +
        s"WHERE t.term NOT IN ($probe) GROUP BY t.doc_id, t.term) GROUP BY term), " +
        "dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM " +
        "(SELECT DISTINCT doc_id, term FROM sb) " +
        "WHERE term IN (SELECT term FROM fbp) GROUP BY term) " +
        "SELECT f.term, f.df_fb, f.tf_fb, d.df_t, " +
        "CAST(floor(ln(1.0 + (CAST(cs.n AS DOUBLE) - d.df_t + 0.5) / (d.df_t + 0.5)) " +
        "* f.tf_fb * 1000000.0 + 0.5) AS BIGINT) AS score_micro, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY CAST(floor(ln(1.0 + (CAST(cs.n AS DOUBLE) - d.df_t + 0.5) / (d.df_t + 0.5)) " +
        "* f.tf_fb * 1000000.0 + 0.5) AS BIGINT) DESC, f.term) AS BIGINT) AS rank " +
        "FROM fbp f JOIN dft d ON f.term = d.term CROSS JOIN cs " +
        s"ORDER BY score_micro DESC, f.term LIMIT $topK"
    },
    // Newman degree assortativity: three exact BIGINT edge sums, one
    // shared closed-form FP expression
    "q_degree_assortativity" ->
      (s"$undirectedCtesSql, " +
        "oeA AS (SELECT s.udeg AS sdeg, t.udeg AS ddeg " +
        "FROM u JOIN ud s ON u.src = s.doc_id JOIN ud t ON u.dst = t.doc_id " +
        "WHERE s.udeg < t.udeg OR (s.udeg = t.udeg AND u.src < u.dst)), " +
        "ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_und_edges, " +
        "CAST(SUM(sdeg * ddeg) AS BIGINT) AS sum_jk, " +
        "CAST(SUM(sdeg + ddeg) AS BIGINT) AS sum_j_plus_k, " +
        "CAST(SUM(sdeg * sdeg + ddeg * ddeg) AS BIGINT) AS sum_j2_plus_k2 FROM oeA) " +
        "SELECT n_und_edges, sum_jk, sum_j_plus_k, sum_j2_plus_k2, " +
        "CASE WHEN n_und_edges > 0 THEN floor(" +
        "(CAST(sum_jk AS DOUBLE) / CAST(n_und_edges AS DOUBLE) - " +
        "(CAST(sum_j_plus_k AS DOUBLE) / (2.0 * CAST(n_und_edges AS DOUBLE))) * " +
        "(CAST(sum_j_plus_k AS DOUBLE) / (2.0 * CAST(n_und_edges AS DOUBLE)))) / " +
        "(CAST(sum_j2_plus_k2 AS DOUBLE) / (2.0 * CAST(n_und_edges AS DOUBLE)) - " +
        "(CAST(sum_j_plus_k AS DOUBLE) / (2.0 * CAST(n_und_edges AS DOUBLE))) * " +
        "(CAST(sum_j_plus_k AS DOUBLE) / (2.0 * CAST(n_und_edges AS DOUBLE)))) " +
        "* 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END AS assortativity FROM ag"),
    "q_graph_transitivity" ->
      (s"$triangleCtesSql " +
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_nodes, " +
        "(SELECT CAST(SUM(udeg) / 2 AS BIGINT) FROM ud) AS n_und_edges, " +
        "(SELECT CAST(SUM(udeg * (udeg - 1)) / 2 AS BIGINT) FROM ud) AS n_wedges, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles, " +
        "CASE WHEN (SELECT SUM(udeg * (udeg - 1)) FROM ud) > 0 THEN " +
        "floor(3000000.0 * (SELECT COUNT(*) FROM tri) / " +
        "(SELECT CAST(SUM(udeg * (udeg - 1)) / 2 AS BIGINT) FROM ud) + 0.5) / 1000000.0 " +
        "ELSE 0.0 END AS transitivity"),
    // the corpus card: one scan, one source-keyed aggregate; rates use
    // the exact-integer-ratio snap (floor(x*1e6+0.5)/1e6)
    "q_corpus_card" ->
      (s"WITH c0 AS (SELECT source, lang, text, " +
        s"COALESCE(len($toks), 0) AS n_tok_all, " +
        "md5(nfc_normalize(text)) AS h, " +
        s"CAST(len(list_filter($toks, t -> t IN ('the','a','of','and','to','in','is','on','for'))) AS DOUBLE) " +
        s"/ len($toks) AS stop_r, " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) AS punct_r, " +
        s"CAST(len($toks) AS DOUBLE) AS n_tok, " +
        s"CAST(length(text) AS DOUBLE) / len($toks) AS avg_len " +
        "FROM documents), " +
        "c AS (SELECT source, lang, n_tok_all, h, " +
        "CASE WHEN length(text) > 0 AND round(1.0 / (1.0 + exp(-(-1.5 + 3.2 * stop_r - 8.0 * punct_r " +
        "+ 0.9 * ln(n_tok + 1.0) - 0.35 * avg_len))), 6) >= 0.5 THEN 1 ELSE 0 END AS kept FROM c0), " +
        "g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_tok_all) AS BIGINT) AS n_tokens, " +
        "CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_texts, " +
        "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs, " +
        "CAST(SUM(kept) AS BIGINT) AS n_kept FROM c GROUP BY source) " +
        "SELECT source, n_docs, n_tokens, n_distinct_texts, n_langs, " +
        "floor(CAST(n_kept AS DOUBLE) / n_docs * 1000000.0 + 0.5) / 1000000.0 AS kept_rate, " +
        "floor(CAST(n_tokens AS DOUBLE) / n_docs * 1000000.0 + 0.5) / 1000000.0 AS avg_tokens " +
        "FROM g ORDER BY source")
    // No oracle (rows-only checks): the queries named in [[rowsOnly]].
  )
}
