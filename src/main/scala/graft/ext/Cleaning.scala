package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionArtifact, Tables}
import graft.SessionArtifact.Pin
import graft.functions.{WinnowExpression, WinnowKernel}

/** Heuristic corpus-cleaning operators: the rule-based document filter
  * battery (Gopher-style, Rae et al. 2021 §A1.1) and cross-document
  * duplicate-span removal (the ExactSubstr idea of Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better", at token
  * n-gram granularity).
  *
  * Both are fully DuckDB-oracle-checked; the filter battery is a pure
  * narrow map (zero shuffles at any scale), span dedup's only
  * corpus-sized exchanges are keyed on 8-byte span hashes.
  */
object Cleaning {

  /** Winnow-family parameters (span n-gram width, winnowing window,
    * the match query's audit id range, and the dedup keep threshold) —
    * `private[graft]` because the DuckDB oracle builders in
    * [[graft.SparkEntry]] interpolate the SAME values: operator and
    * oracle share one definition (the round-12 ADVICE discipline).
    */
  private[graft] val WinnowN = 5
  private[graft] val WinnowW = 4
  private[graft] val WinnowIdLimit = 200
  private[graft] val SpanMaxDupFrac = 0.2

  /** Rule-based document filter battery (Gopher-style): per-document
    * features — word count, mean word length, alphabetic-word fraction,
    * distinct-stopword hits, symbol ratio — each thresholded into a
    * named rule verdict, plus the conjunction `keep`. This is the
    * heuristic pre-filter stage a training pipeline runs BEFORE model
    * scoring ([[TextAnalysis.modelQualityFilter]]) and repetition
    * checks ([[TextAnalysis.repetitionStats]]): cheap, interpretable,
    * and tuned by inspection of the per-rule pass rates it emits.
    *
    * Thresholds are the published Gopher values where the fixture's
    * synthetic docs make them meaningful (mean word length in [3, 10],
    * symbol ratio <= 0.1) and fixture-scaled where not (min words 30
    * instead of 50 — the fixture median is 56; distinct stopwords >= 2
    * against the shared 9-word list).
    *
    * Scale shape: one projection over the scan — every feature is a
    * codegen'd array/regex expression over the token split, no explode,
    * no shuffle, no UDF. At 100 TB this runs at scan speed.
    */
  def gopherFilters(spark: SparkSession, d: String): DataFrame =
    gopherFiltersDf(Tables.fanOut(Tables.documents(spark, d)))

  /** The five filter features as one struct column over `text` — shared
    * by [[gopherFiltersDf]] and [[curationFunnel]].
    */
  private[ext] def gopherFeatures: Column = {
    val t = TextAnalysis.tokens(col("text"))
    val nWords = size(t)
    // Long zero: an Int accumulator overflows on a single document with
    // > 2^31 total token characters (a ~2 GiB doc), silently corrupting
    // mean_word_len and the keep verdict
    val sumLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    struct(
      nWords.as("n_words"),
      round(sumLen.cast("double") / nWords, 6).as("mean_word_len"),
      round(size(filter(t, x => x.rlike("[A-Za-z]"))).cast("double") / nWords, 6)
        .as("alpha_frac"),
      size(array_intersect(array_distinct(t),
        array(TextAnalysis.stopwords.map(lit): _*))).as("stopword_hits"),
      round(size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0)))
        .cast("double") / nWords, 6).as("symbol_ratio"))
  }

  /** The five rule verdicts over a [[gopherFeatures]] struct column. */
  private[ext] def gopherRules(gf: Column): Seq[Column] = Seq(
    gf.getField("n_words").between(30, 50000).as("r_words"),
    gf.getField("mean_word_len").between(3.0, 10.0).as("r_mean_len"),
    (gf.getField("alpha_frac") >= 0.8).as("r_alpha"),
    (gf.getField("stopword_hits") >= 2).as("r_stop"),
    (gf.getField("symbol_ratio") <= 0.1).as("r_symbol"))

  /** DataFrame form (docs must have doc_id + text). */
  def gopherFiltersDf(docs: DataFrame): DataFrame = {
    val rules = gopherRules(col("gf"))
    docs
      // empty/null text has no words — every ratio is 0/0; such docs are
      // dropped by definition (same exclusion as modelQualityFilter)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), gopherFeatures.as("gf"))
      .select(Seq(col("doc_id"), col("gf.n_words").as("n_words"),
        col("gf.mean_word_len").as("mean_word_len"),
        col("gf.alpha_frac").as("alpha_frac"),
        col("gf.stopword_hits").as("stopword_hits"),
        col("gf.symbol_ratio").as("symbol_ratio")) ++ rules: _*)
      .withColumn("keep",
        col("r_words") && col("r_mean_len") && col("r_alpha") &&
          col("r_stop") && col("r_symbol"))
      .orderBy(col("doc_id"))
  }

  /** CURATION FUNNEL: the per-stage survivor audit of the whole
    * heuristic-cleaning chain — raw → rule battery ([[gopherFilters]])
    * → repetition check ([[TextAnalysis.repetitionStats]]) → model
    * quality score ([[TextAnalysis.modelQualityFilter]]) → exact
    * content dedup (min-doc_id keeper per md5, the
    * [[Dedup]] exact rung). Stages apply CUMULATIVELY (a doc must
    * survive every earlier stage), which is how a production pipeline
    * actually runs them: cheap filters first, each stage seeing only
    * the previous stage's survivors. The output — docs and tokens
    * surviving each stage — is the data-card table every curation run
    * reports.
    *
    * Scale shape: ALL stage verdicts compute in ONE projection over one
    * scan (the rule battery, bigram kernel, and quality score are
    * narrow per-doc expressions); the only corpus-sized exchange is the
    * md5 window for the dedup keeper, and the funnel itself is a single
    * global aggregation (map-side-combined into one row) unstacked to
    * five rows at the end. Running the five operators separately would
    * scan the corpus five times for the same answer.
    */
  def curationFunnel(spark: SparkSession, d: String): DataFrame =
    curationFunnelDf(Tables.documents(spark, d))

  /** DataFrame form (docs must have doc_id + text). */
  def curationFunnelDf(docs: DataFrame): DataFrame = {
    val base = Tables.fanOut(docs)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        gopherFeatures.as("gf"),
        TextAnalysis.bigramStats(col("text")).as("bs"),
        TextAnalysis.qualityScoreCol.as("q"))
    val rulesKeep = gopherRules(col("gf")).reduce(_ && _)
    val repKeep = when(col("bs._1") === 0, lit(true))
      .otherwise(round(col("bs._2").cast("double") / col("bs._1"), 6) <= 0.20)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text").cast("binary")))
    val flagged = base
      .withColumn("s_rules", rulesKeep)
      .withColumn("s_rep", col("s_rules") && repKeep)
      .withColumn("s_q", col("s_rep") && col("q") >= 0.5)
      // keeper among STAGE SURVIVORS: min(doc_id) over same-content docs
      // that reached this stage (min ignores the NULLs of non-survivors)
      .withColumn("s_dedup", col("s_q") &&
        col("doc_id") === min(when(col("s_q"), col("doc_id"))).over(w))
    flagged.agg(
      count(lit(1)).as("n0"), sum(col("n_tokens")).as("t0"),
      sum(col("s_rules").cast("long")).as("n1"),
      sum(when(col("s_rules"), col("n_tokens")).otherwise(0L)).as("t1"),
      sum(col("s_rep").cast("long")).as("n2"),
      sum(when(col("s_rep"), col("n_tokens")).otherwise(0L)).as("t2"),
      sum(col("s_q").cast("long")).as("n3"),
      sum(when(col("s_q"), col("n_tokens")).otherwise(0L)).as("t3"),
      sum(col("s_dedup").cast("long")).as("n4"),
      sum(when(col("s_dedup"), col("n_tokens")).otherwise(0L)).as("t4"))
      .select(expr("stack(5, " +
        "1, 'raw', n0, t0, " +
        "2, 'rules', n1, t1, " +
        "3, 'repetition', n2, t2, " +
        "4, 'quality', n3, t3, " +
        "5, 'dedup', n4, t4) AS (stage, stage_name, n_docs, n_tokens)"))
      .orderBy(col("stage"))
  }

  /** INDEPENDENT filter-signal matrix — [[curationFunnelDf]]'s four
    * signals evaluated UNCONDITIONALLY per document, the
    * [[graft.ext.Dedup.dedupCascade]] verdict-matrix discipline at
    * quality-filter granularity. The funnel tells you how many
    * documents survive the serial gauntlet; this tells you WHICH
    * signals fire together — the overlap between a cheap rule and an
    * expensive model score is exactly the number that decides whether
    * the expensive signal earns its compute, and multi-flag documents
    * (n_flags ≥ 2) are the unambiguous drops a pipeline can cut with a
    * cheap rule alone. verdict = the first failing signal in the
    * funnel's canonical order, 'clean' otherwise. The dup bit is
    * UNCONDITIONED (a smaller-id copy exists, period) where the funnel
    * elects keepers among stage SURVIVORS — but every signal here is a
    * pure function of content, so same-content documents share all
    * their signals and the two elections provably coincide: the clean
    * set equals the funnel's final survivor set exactly (asserted
    * numerically in CleaningSpec).
    *
    * Scale shape: identical to the funnel — one projection computes
    * every signal, one content-hash window for the dup bit, no joins.
    */
  def filterEnsemble(spark: SparkSession, d: String): DataFrame =
    filterEnsembleDf(Tables.documents(spark, d))

  /** DataFrame form (docs must have doc_id + text); see
    * [[filterEnsemble]].
    */
  def filterEnsembleDf(docs: DataFrame): DataFrame = {
    val base = Tables.fanOut(docs)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        gopherFeatures.as("gf"),
        TextAnalysis.bigramStats(col("text")).as("bs"),
        TextAnalysis.qualityScoreCol.as("q"))
    val rulesKeep = gopherRules(col("gf")).reduce(_ && _)
    val repKeep = when(col("bs._1") === 0, lit(true))
      .otherwise(round(col("bs._2").cast("double") / col("bs._1"), 6) <= 0.20)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text").cast("binary")))
    base
      .withColumn("rules_pass", rulesKeep)
      .withColumn("repetition_pass", repKeep)
      .withColumn("quality_pass", col("q") >= 0.5)
      .withColumn("is_dup", col("doc_id") =!= min(col("doc_id")).over(w))
      .withColumn("n_flags",
        (!col("rules_pass")).cast("int") + (!col("repetition_pass")).cast("int") +
          (!col("quality_pass")).cast("int") + col("is_dup").cast("int"))
      .withColumn("verdict",
        when(!col("rules_pass"), "rules")
          .when(!col("repetition_pass"), "repetition")
          .when(!col("quality_pass"), "quality")
          .when(col("is_dup"), "duplicate")
          .otherwise("clean"))
      .select(col("doc_id"), col("rules_pass"), col("repetition_pass"),
        col("quality_pass"), col("is_dup"), col("n_flags"), col("verdict"))
      .orderBy(col("doc_id"))
  }

  /** FILTER ATTRIBUTION — the marginal-removal audit over the
    * [[filterEnsembleDf]] signal matrix: per filter, how many
    * documents it flags (n_flagged), how many it flags ALONE
    * (n_unique — the documents the ensemble would STOP removing if
    * this filter were dropped, i.e. its marginal contribution), the
    * overlap (n_shared), and the marginal fraction.
    * This is the ablation table a pipeline reads before paying for an
    * expensive filter: a signal whose flags are ~all shared with
    * cheaper rules earns nothing. Corpus totals (n_docs, n_any_flag)
    * ride every row as the denominators.
    *
    * Scale shape: the ensemble matrix is one projection + one
    * content-hash window (its own scaladoc); the attribution is ONE
    * map-side-combined global aggregate stacked to 4 rows — no new
    * corpus-sized exchange.
    */
  def filterAttribution(spark: SparkSession, d: String): DataFrame =
    filterAttributionDf(Tables.documents(spark, d))

  /** DataFrame form (docs must have doc_id + text). */
  def filterAttributionDf(docs: DataFrame): DataFrame = {
    val fe = filterEnsembleDf(docs)
    val f1 = !col("rules_pass")
    val f2 = !col("repetition_pass")
    val f3 = !col("quality_pass")
    val f4 = col("is_dup")
    def uniq(f: Column) = (f && col("n_flags") === 1).cast("long")
    fe.agg(
        count(lit(1)).as("n_docs"),
        sum((col("n_flags") > 0).cast("long")).as("n_any_flag"),
        sum(f1.cast("long")).as("n1"), sum(uniq(f1)).as("u1"),
        sum(f2.cast("long")).as("n2"), sum(uniq(f2)).as("u2"),
        sum(f3.cast("long")).as("n3"), sum(uniq(f3)).as("u3"),
        sum(f4.cast("long")).as("n4"), sum(uniq(f4)).as("u4"))
      .select(col("n_docs"), col("n_any_flag"),
        expr("stack(4, " +
          "'rules', n1, u1, " +
          "'repetition', n2, u2, " +
          "'quality', n3, u3, " +
          "'duplicate', n4, u4) AS (filter, n_flagged, n_unique)"))
      .select(col("filter"), col("n_flagged"), col("n_unique"),
        (col("n_flagged") - col("n_unique")).as("n_shared"),
        when(col("n_flagged") > 0,
          floor(col("n_unique").cast("double") / col("n_flagged") * lit(1e6) +
            lit(0.5)) / lit(1e6)).otherwise(lit(0.0)).as("marginal_frac"),
        col("n_docs"), col("n_any_flag"))
      .orderBy(col("filter"))
  }

  /** Streaming form of the filter battery (foreachBatch stage): each
    * micro-batch of documents is scored and its verdict rows append to
    * `outPath` tagged with the batch id. Verdicts are per-document
    * (narrow map, no cross-doc state), so the union of per-batch
    * outputs equals the batch-mode result on the same documents — the
    * batch/streaming symmetry contract (asserted in StreamingSpec).
    */
  def gopherFilterSink(docStream: DataFrame, outPath: String, checkpoint: String,
                       triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      gopherFiltersDf(batch)
    }

  /** Cross-document duplicate-SPAN removal stats (ExactSubstr-style, at
    * token n-gram granularity): every position in every document opens a
    * token n-gram span; a span is REMOVED iff the identical n-gram
    * occurs at a lexicographically earlier (doc_id, pos) anywhere in the
    * corpus — so exactly one copy of every duplicated passage survives,
    * deterministically, with no connected-components machinery (span
    * identity is equality, which is transitive — unlike near-dup
    * similarity, which is why [[Dedup.nearDupClusters]] needs CC and
    * this does not).
    *
    * Unlike document-level dedup (which keeps or drops whole docs), this
    * is the operator for corpora where COPIED PASSAGES hide inside
    * otherwise-distinct documents — boilerplate headers, quoted text,
    * licence blocks. Output is the per-document audit: span count,
    * removed-span count, removed fraction, and a keep verdict at the
    * `maxDupFrac` threshold (a doc that is mostly duplicated passages is
    * dropped outright; one with a stray quoted line is kept and cleaned
    * downstream).
    *
    * Scale shape: the exploded span stream carries (doc_id, pos, 8-byte
    * xxhash64 span hash) — span STRINGS never reach an exchange (the
    * hash-not-string trick of [[Corpus.decontaminationStats]]; same
    * collision math, documented there, applies). The duplicate/keeper
    * decision is a WINDOW over the span hash, not a groupBy+self-join:
    * at corpus scale most n-grams are UNIQUE, so a per-gram group table
    * is itself corpus-sized and joining it back would shuffle the full
    * stream twice — the window shuffles it once (exchange +
    * in-partition sort on the hash, the same topology as
    * decontamination's one-pass fallback). (doc_id, pos) rides the
    * window packed into one BIGINT so the keeper-min stays a primitive
    * aggregation. The per-doc rollup then reduces map-side. A hot span
    * (the same licence block pasted a million times) is one hash key —
    * a skewed window partition; if one key ever dominates, pre-filter
    * unique hashes with a count pass or a Bloom sketch first.
    *
    * The DuckDB oracle computes the same removal rule over span STRINGS
    * (ROW_NUMBER over (gram) ordered by (doc_id, pos)) — hashing changes
    * the grouping key, not the groups, short of an xxhash64 collision.
    */
  def spanDedupStats(spark: SparkSession, d: String, n: Int = 5,
                     maxDupFrac: Double = 0.2): DataFrame =
    spanDedupCore(packGuardedSessionTokens(spark, d, n), n, maxDupFrac)

  /** Cross-SOURCE n-gram overlap matrix: for every source pair, how many
    * distinct token n-grams they share, and the Jaccard similarity of
    * their gram sets — the audit a pipeline runs to find sources that
    * mirror each other (the same site crawled twice, a dataset bundled
    * inside another) before document-level dedup ever sees them. High
    * overlap says "dedup these two against each other first / drop one";
    * it also catches cross-source benchmark bleed the per-doc
    * [[Corpus.decontaminationStats]] view doesn't aggregate.
    *
    * Scale shape: ONE corpus pass and ONE full-stream exchange. The
    * (source, 8-byte gram hash) stream — gram strings never reach an
    * exchange (the [[Dedup.shingleHashes]] kernel; decontamination's
    * collision note applies) — aggregates to one source-SET per hash
    * (`collect_set` partials merge map-side; the set is bounded by the
    * SOURCE count, an operator precondition, not the corpus). Pair
    * counts and per-source gram counts then derive from the per-hash
    * sets: a gram in s sources yields s·(s−1)/2 pairs via array
    * transforms, and both downstream aggregations are |sources|²-sized.
    * A hash-keyed self-join of the distinct gram table computes the
    * same matrix but scans the corpus and shuffles the full stream once
    * PER SIDE — this shape replaces it deliberately.
    */
  def sourceOverlap(spark: SparkSession, d: String, n: Int = 5): DataFrame =
    sourceOverlapDf(Tables.documents(spark, d), n)

  /** DataFrame form (docs must have source + text). */
  def sourceOverlapDf(docs: DataFrame, n: Int = 5): DataFrame = {
    val byGram = Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(col("source"),
        explode(Dedup.shingleHashes(TextAnalysis.tokens(col("text")), n)).as("h"))
      .groupBy(col("h"))
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
    val sizes = byGram
      .select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    // ordered pairs (a < b) of each gram's sorted source set
    val pairArr = flatten(transform(col("srcs"), (a, i) =>
      transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
        b => struct(a.as("sa"), b.as("sb")))))
    val pairs = byGram
      .select(explode(pairArr).as("p"))
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("source").as("source_a"), col("n_grams").as("grams_a")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n_grams").as("grams_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("grams_a"), col("grams_b"),
        col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("grams_a") + col("grams_b") - col("n_shared")), 6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** SKETCHED source overlap: [[sourceOverlap]]'s matrix estimated from
    * mergeable HLL sketches (Apache DataSketches via Spark's
    * `hll_sketch_agg` family) — the 100 TB form of the audit. The exact
    * operator must move the full (source, gram-hash) stream through one
    * keyed exchange; here each map partition folds its grams into a
    * fixed-size sketch (lgK = 14 → 2^14 registers, ~0.8 % standard
    * error), so only KILOBYTES per source cross the wire, and the same
    * sketches are the artifact a daily job persists and unions across
    * snapshots/shards without ever rescanning history — the property
    * exact distinct counts fundamentally lack. Pairwise overlap is
    * inclusion–exclusion over the union sketch (HLLs cannot intersect
    * directly), clamped at 0; the subtraction amplifies the relative
    * error when the true overlap is small, which is why the exact
    * operator stays registered as this one's auditor
    * (CleaningAndExtractSpec bounds the drift against it).
    *
    * Scale shape: one corpus pass into per-source sketch partials
    * (map-side merged, |sources| rows out), then a |sources|²
    * broadcast pair join over the aggregated table only — the corpus
    * never joins anything. Estimates are engine-internal (DataSketches
    * HLL), so the query is rows-only by design.
    */
  def sourceOverlapSketch(spark: SparkSession, d: String, n: Int = 5,
                          lgK: Int = 14): DataFrame =
    sourceOverlapSketchDf(Tables.documents(spark, d), n, lgK)

  /** DataFrame form (docs must have source + text); see
    * [[sourceOverlapSketch]].
    */
  def sourceOverlapSketchDf(docs: DataFrame, n: Int = 5,
                            lgK: Int = 14): DataFrame = {
    val sk = Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(col("source"),
        explode(Dedup.shingleHashes(TextAnalysis.tokens(col("text")), n)).as("h"))
      .groupBy(col("source"))
      .agg(hll_sketch_agg(col("h"), lit(lgK)).as("sk"))
    val a = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("source_b"), col("sk").as("sk_b"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))).as("est_union"))
      .withColumn("est_shared",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
      .withColumn("est_jaccard",
        round(col("est_shared").cast("double") /
          greatest(col("est_union"), lit(1L)).cast("double"), 6))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Positional span hashes of a token array: pos i (1-based) covers
    * tokens [i, i+n-1], hashed with xxhash64 so span STRINGS never
    * reach an exchange. sequence(1, 0) would generate a DESCENDING
    * [1, 0] — short docs are guarded to an explicit empty array.
    */
  private def spanHashesOf(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => xxhash64(concat_ws(" ", slice(t, i, lit(n))))))
      .otherwise(array().cast("array<bigint>"))

  /** Span count of a token array WITHOUT materializing the span-hash
    * array: `max(|t| − n + 1, 0)` — arithmetic on the token count, by
    * construction equal to `size(spanHashesOf(t, n))`. Call sites that
    * need both the count and the winnowed fingerprints use this instead
    * of binding the span-hash array to an attribute: a bound attribute
    * referenced twice blocks CollapseProject, and the resulting
    * materialized intermediate array measured ~12× slower than the
    * fully fused pipeline at sf0.1 (0.28 s vs 3.4 s for the
    * fingerprint-explode stage).
    */
  private def nSpansOf(t: Column, n: Int): Column =
    greatest(size(t) - (n - 1), lit(0)).cast("long")

  /** Positional span hashes for the WINNOW family: the 60-bit md5
    * prefix ([[Graph.md5Bucket60]]) of each n-token span instead of
    * xxhash64. Winnowing SELECTS by hash ORDER, so a DuckDB oracle can
    * only replay the selection if both engines compute the identical
    * hash — md5 exists in both, xxhash64 only in Spark (the same trade
    * [[Dedup]]'s minhash kernel made in round 13). Still a codegen'd
    * builtin expression chain over the token slice; the exact span
    * ELECTIONS ([[spanDedupStatsDf]] and winnow stage 3) keep the
    * cheaper xxhash64 spans — their verdicts depend only on hash
    * EQUALITY and their oracles replay on gram strings.
    */
  private def winnowSpanHashesOf(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => Graph.md5Bucket60(concat_ws(" ", slice(t, i, lit(n))))))
      .otherwise(array().cast("array<bigint>"))

  /** DISTINCT span hashes of a static base corpus — the keeper set the
    * streaming form of span dedup checks arrivals against. One corpus
    * pass, one distinct on the 8-byte hash.
    */
  def keeperSpanHashes(docs: DataFrame, n: Int = 5): DataFrame =
    Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(TextAnalysis.tokens(col("text")).as("t"))
      .select(explode(spanHashesOf(col("t"), n)).as("h"))
      .distinct()

  /** Span-dedup stats AGAINST a static keeper-span set: a span of an
    * incoming document is removed iff its hash is already owned by the
    * base corpus. There is no within-batch keeper election — the base
    * corpus owns all its spans, the streaming analogue of the batch
    * operator's earliest-(doc_id, pos) rule (first writer wins across
    * time). Per-doc output schema matches [[spanDedupStatsDf]], and
    * per-doc results depend only on the doc and the keeper set, so the
    * union of per-batch outputs equals the one-shot batch result on
    * the same documents (asserted in StreamingSpec).
    *
    * Scale shape: the batch span stream joins the keeper set on the
    * 8-byte hash — at scale the keeper side is corpus-sized, so this
    * is a shuffle join keyed on a uniform hash (or, for small batches
    * against a huge base, the bloom-prefilter ladder of
    * [[graft.functions.BloomPrefilter]] applies in front).
    */
  def spanDedupStatsAgainst(docs: DataFrame, keeperSpans: DataFrame,
                            n: Int = 5, maxDupFrac: Double = 0.2): DataFrame = {
    val spans = Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(spanHashesOf(col("t"), n)).as("h"))
    val marked = spans
      .join(keeperSpans.select(col("h")).distinct().withColumn("dup", lit(1L)),
        Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(0L)).as("removed"))
    val perDoc = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("removed")).as("n_removed"))
    docs.filter(col("text").isNotNull).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .withColumn("dup_frac",
        when(col("n_spans") > 0,
          round(col("n_removed").cast("double") / col("n_spans"), 6))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_frac") <= maxDupFrac)
      .orderBy(col("doc_id"))
  }

  /** Streaming span dedup (foreachBatch stage): each micro-batch of
    * documents is scored against the STATIC keeper-span set and its
    * per-doc stats rows append to `outPath` tagged with the batch id —
    * the same sink contract as [[gopherFilterSink]] /
    * [[Corpus.decontaminationSink]].
    */
  def spanDedupSink(docStream: DataFrame, keeperSpans: DataFrame,
                    outPath: String, checkpoint: String, n: Int = 5,
                    maxDupFrac: Double = 0.2, triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // freeze the keeper set NOW: a lazy keeperSpans would re-run the
    // full base-corpus span pass (and re-read the base files) on every
    // trigger instead of joining one static, precomputed table
    val frozen = Freeze.scoped(checkpoint, keeperSpans)
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      spanDedupStatsAgainst(batch, frozen, n, maxDupFrac)
    }
  }

  /** MOSS WINNOWING selection (Schleimer et al. 2003 §4): the selected
    * positions over a k-gram hash sequence — in every window of `w`
    * consecutive hashes the minimum is selected (rightmost on ties),
    * and consecutive windows sharing their minimum record it once.
    * The winnowing GUARANTEE: every window contributes at least one
    * selection, so any shared passage spanning >= w + k − 1 tokens
    * shares at least one selected fingerprint between documents —
    * unlike min-hash sketches, matches are POSITIONAL and local.
    * Exposed as a pure function over a primitive array so the
    * guarantee is property-testable directly (CleaningSpec). The
    * kernel itself lives in [[graft.functions.WinnowKernel]], shared
    * with the codegen'd [[graft.functions.WinnowFingerprints]]
    * expression the DataFrame operators below run on — one
    * implementation under both the property tests and the plans.
    */
  def winnowSelect(hashes: Array[Long], w: Int): Vector[Int] =
    WinnowKernel.selectPositions(hashes, w).toVector

  /** Column form of the winnowing selection over a span-hash array —
    * the native [[graft.functions.WinnowFingerprints]] expression.
    * The former Scala-UDF form (returning a `(n_spans, fps)` struct)
    * was the measured hot spot of the whole family: exploding its
    * boxed output array cost ~5× the codegen'd explode of the span
    * hashes it came from. Call sites FUSE this over [[spanHashesOf]]
    * inline (never binding the span-hash array to an attribute first —
    * see [[nSpansOf]] for the measured penalty) so the whole
    * tokens→hashes→selection chain stays in one codegen stage.
    */
  private def winnowFps(sh: Column, w: Int): Column =
    WinnowExpression.winnowFingerprints(sh, w)

  /** Per-document winnowing fingerprint audit: span count, selected
    * fingerprint count, and density. Winnowing's expected density is
    * 2/(w+1) with a hard floor of one selection per window — the
    * robust-local-fingerprint rung above the single rolling-hash
    * fingerprint ([[TextAnalysis.fingerprints]]), and the sketch MOSS
    * builds its plagiarism matching on.
    *
    * Scale shape: a pure narrow map (span hashing is the codegen'd
    * [[spanHashesOf]] expression, selection a per-doc kernel) — zero
    * shuffles above the scan beyond the presentation sort.
    */
  def winnowFingerprintStats(spark: SparkSession, d: String,
                             n: Int = WinnowN, w: Int = WinnowW): DataFrame =
    winnowFingerprintStatsDf(Tables.documents(spark, d), n, w)

  /** DataFrame form (docs must have doc_id + text). */
  def winnowFingerprintStatsDf(docs: DataFrame, n: Int = WinnowN, w: Int = WinnowW): DataFrame =
    Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id"), nSpansOf(col("t"), n).as("n_spans"),
        size(winnowFps(winnowSpanHashesOf(col("t"), n), w)).cast("long").as("n_fingerprints"))
      .withColumn("density",
        when(col("n_spans") > 0,
          round(col("n_fingerprints").cast("double") / col("n_spans"), 6))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))

  /** Winnowing MATCH candidates within a bounded id range: document
    * pairs sharing selected fingerprints, with the shared count — the
    * MOSS matching step. By the winnowing guarantee, any copied
    * passage of >= w + n − 1 tokens MUST surface here (no false
    * negatives at that length), unlike probabilistic sketches.
    *
    * Scale shape mirrors [[Dedup.ngramJaccardPairs]]: the bounded id
    * range keeps this the oracle-checkable verification kernel; at
    * corpus scale the fingerprint stream joins on the 8-byte hash
    * exactly like [[spanDedupStatsDf]]'s span stream (selected
    * fingerprints are ~2/(w+1) of spans — winnowing IS the payload
    * reduction).
    */
  def winnowMatches(spark: SparkSession, d: String, n: Int = WinnowN, w: Int = WinnowW,
                    idLimit: Int = WinnowIdLimit): DataFrame =
    winnowMatchesDf(Tables.documents(spark, d), n, w, idLimit)

  /** DataFrame form (docs must have doc_id + text). */
  def winnowMatchesDf(docs: DataFrame, n: Int = WinnowN, w: Int = WinnowW,
                      idLimit: Int = WinnowIdLimit): DataFrame = {
    val fps = docs
      .filter(col("text").isNotNull && col("doc_id") < idLimit)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(winnowFps(winnowSpanHashesOf(col("t"), n), w)).as("h"))
      .distinct()
    val a = fps.as("a")
    val b = fps.as("b")
    a.join(b, col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DataFrame form (docs must have doc_id + text). */
  /** Tokenized docs with the packing bounds ENFORCED (not just the
    * documented contract): a doc opening >= 2^20 spans, or a doc_id
    * outside [0, 2^43), would silently alias into a neighboring
    * document's packed key space and corrupt keeper selection — wrong
    * answers with no error. Cheap per-row predicate in the scan stage;
    * raise_error is codegen'd. Tokens are MATERIALIZED as an attribute
    * before any span lambda (the Dedup.shinglesOfTokens trap). Shared
    * by [[spanDedupStatsDf]] and [[winnowSpanDedupStatsDf]].
    */
  private def packGuardedTokens(docs: DataFrame, n: Int): DataFrame =
    packGuardOf(Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t")), n)

  /** The registered-path (doc_id, t) stream off the SESSION tokenized
    * artifact — both span-dedup queries consume the token arrays three
    * times per run (candidates / spans / n_spans legs), so reading the
    * columnar cache replaces three parquet scans + three fanOut
    * round-robin exchanges + three tokenize passes. The artifact stores
    * exactly `tokens(text)` over the same not-null-text corpus, so the
    * stream is bit-identical to the raw-text form.
    */
  private def packGuardedSessionTokens(spark: SparkSession, d: String,
                                       n: Int): DataFrame =
    packGuardOf(TextAnalysis.sessionTokens(spark, d)
      .select(col("doc_id"), col("toks").as("t")), n)

  /** The packing-bounds guard over an already-tokenized (doc_id, t)
    * frame — shared by the raw-text and session-artifact heads.
    */
  private def packGuardOf(toksed: DataFrame, n: Int): DataFrame =
    toksed
      .withColumn("t",
        when(col("doc_id") < 0 || col("doc_id") >= lit(1L << 43) ||
          (size(col("t")) - (n - 1)).cast("long") >= lit(1L << 20),
          raise_error(concat(
            lit(s"span dedup packing overflow: doc_id must be in [0, 2^43) " +
              s"and a document must open < 2^20 spans (n=$n); got doc_id="),
            col("doc_id").cast("string"), lit(" with "),
            greatest(size(col("t")) - (n - 1), lit(0)).cast("string"),
            lit(" spans. Densify ids / pre-split pathological docs upstream."))))
          .otherwise(col("t")))

  def spanDedupStatsDf(docs: DataFrame, n: Int = 5,
                       maxDupFrac: Double = 0.2): DataFrame =
    spanDedupCore(packGuardedTokens(docs, n), n, maxDupFrac)

  private def spanDedupCore(toksed: DataFrame, n: Int,
                            maxDupFrac: Double): DataFrame = {
    val t = col("t")
    val spanHashes = spanHashesOf(t, n)
    // (doc_id, pos) packed into one BIGINT BELOW the exchange: the span
    // stream rides the shuffle as 16 bytes/span (pk + hash), and
    // min(packed) = lexicographic min of (doc_id, pos) while staying a
    // primitive-buffer aggregation (min over a struct falls back to
    // sort-based aggregation). The packing bounds BOTH fields: pos
    // takes the low 20 bits (up to ~1M spans per document), and doc_id
    // must fit the remaining 43 value bits (~8.8e12 documents). Both
    // bounds are ENFORCED by the raise_error guard on `t` above —
    // out-of-range input fails loudly instead of silently aliasing.
    val spans = toksed
      .select(col("doc_id"), posexplode(spanHashes).as(Seq("pos0", "h")))
      .select((shiftleft(col("doc_id"), 20) + col("pos0") + 1).as("pk"), col("h"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val marked = spans
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("keeper", min(col("pk")).over(w))
      .select(shiftright(col("pk"), 20).as("doc_id"),
        (col("cnt") > 1 && col("pk") =!= col("keeper")).cast("long").as("removed"))
    val perDoc = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("removed")).as("n_removed"))
    // LEFT JOIN back so docs too short to open a span still report
    val full = toksed.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
    spanVerdict(full, maxDupFrac)
  }

  /** A PARAGRAPH-STRUCTURED view of a flat document table, built
    * deterministically so the fixture corpus (whose rows are single
    * unstructured texts) exercises intra-document structure: every
    * four consecutive documents become one structured doc (their texts
    * joined by blank lines, member order by doc_id), and each ODD
    * group additionally quotes the first member paragraph of the
    * PREVIOUS group — a planted cross-document duplicate paragraph
    * with a deterministic earliest owner. Pure DataFrame expressions
    * (group/sort/concat), so the same construction is re-derivable in
    * SQL — which is what lets [[paragraphDedupStats]] carry a full
    * DuckDB oracle instead of a rows-only check.
    */
  def structuredParagraphDocs(docs: DataFrame): DataFrame = {
    val members = docs.filter(col("text").isNotNull)
      .select(expr("doc_id div 4").as("g"), col("doc_id"), col("text"))
    val grouped = members.groupBy(col("g"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id"), col("text")))),
        s => s.getField("text")), "\n\n").as("body"))
    val firsts = docs.filter(col("text").isNotNull && col("doc_id") % 4 === 0)
      .select(expr("doc_id div 4").as("pg"), col("text").as("planted"))
    grouped.join(firsts, col("g") - 1 === col("pg"), "left")
      .select(col("g").as("doc_id"),
        when(col("g") % 2 === 1 && col("planted").isNotNull,
          concat(col("body"), lit("\n\n"), col("planted")))
          .otherwise(col("body")).as("text"))
  }

  /** PARAGRAPH-level cross-document dedup — [[spanDedupStatsDf]]'s
    * first-writer-wins election lifted from sliding token n-grams to
    * the document's OWN structural units: text splits on blank lines,
    * each trimmed non-empty paragraph hashes once, and a paragraph is
    * removed iff an identical paragraph exists at a lexicographically
    * earlier (doc_id, position). The operator for corpora where whole
    * boilerplate blocks repeat across documents (license headers,
    * navigation chrome, quoted replies) — n-gram span dedup sees those
    * as many overlapping spans and bills every n-gram of the block;
    * this bills exactly one unit per paragraph and never crosses
    * paragraph boundaries.
    *
    * Scale shape: identical to [[spanDedupStatsDf]] — the paragraph
    * stream rides ONE (hash-keyed) window exchange as 16 bytes/row
    * ((doc_id, pos) packed into a BIGINT below the exchange; same
    * 20-bit position / 43-bit doc_id bounds, here bounding paragraphs
    * per document), and the per-doc rollup reduces map-side. The
    * DuckDB oracle elects keepers over paragraph STRINGS (ROW_NUMBER
    * over trimmed paragraph) — hashing changes the key, not the
    * groups, short of an xxhash64 collision.
    */
  def paragraphDedupStats(spark: SparkSession, d: String,
                          maxDupFrac: Double = 0.2): DataFrame =
    paragraphDedupStatsDf(
      structuredParagraphDocs(Tables.documents(spark, d)), maxDupFrac)

  /** DataFrame form (docs must have doc_id + text). `docs` is
    * referenced exactly ONCE: a doc whose paragraphs are all empty
    * still reports (0, 0) because `split` of any non-null text emits
    * at least one element and empty paragraphs ride the stream as
    * `is_para = false` sentinel rows (uniquely hashed so they never
    * form a window group) instead of being restored by a join-back —
    * a second `docs` reference would re-run the whole upstream lineage
    * (the structured builder, in the registered composition) for a
    * row-presence check (the smoothedStatTable diamond; the pin in
    * PlanShapeSpec caught exactly that in this operator's first form).
    */
  def paragraphDedupStatsDf(docs: DataFrame,
                            maxDupFrac: Double = 0.2): DataFrame = {
    val paras = Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(col("doc_id"),
        // split on the LITERAL blank-line marker (regex "\n\n" has no
        // quantifier) — the oracle's string_split must see identical
        // paragraph lists, so no \n{2,}-style normalization here
        posexplode(split(col("text"), "\n\n")).as(Seq("pos0", "para")))
      .select(col("doc_id"), col("pos0"), trim(col("para")).as("para"))
      .select((shiftleft(col("doc_id"), 20) + col("pos0") + 1).as("pk"),
        (length(col("para")) > 0).as("is_para"), col("para"))
      .select(col("pk"), col("is_para"),
        when(col("is_para"), xxhash64(col("para")))
          .otherwise(xxhash64(lit("graft-empty-para"), col("pk"))).as("h"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val marked = paras
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("keeper", min(col("pk")).over(w))
      .select(shiftright(col("pk"), 20).as("doc_id"),
        col("is_para").cast("long").as("is_para"),
        (col("is_para") && col("cnt") > 1 && col("pk") =!= col("keeper"))
          .cast("long").as("removed"))
    marked.groupBy(col("doc_id"))
      .agg(sum(col("is_para")).as("n_paras"), sum(col("removed")).as("n_removed"))
      .withColumn("dup_frac",
        when(col("n_paras") > 0,
          round(col("n_removed").cast("double") / col("n_paras"), 6))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_frac") <= maxDupFrac)
      .orderBy(col("doc_id"))
  }

  /** DISTINCT trimmed-paragraph hashes of a static base corpus — the
    * keeper set [[paragraphDedupSink]] freezes and checks arrivals
    * against. One corpus pass, one distinct on the 8-byte hash.
    */
  def keeperParagraphHashes(docs: DataFrame): DataFrame =
    Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(explode(split(col("text"), "\n\n")).as("para"))
      .select(trim(col("para")).as("para"))
      .filter(length(col("para")) > 0)
      .select(xxhash64(col("para")).as("h"))
      .distinct()

  /** Paragraph-dedup stats AGAINST a static keeper set: an arriving
    * document's paragraph is removed iff the base corpus already owns
    * an identical (trimmed) paragraph — no within-batch election, the
    * streaming analogue of [[paragraphDedupStatsDf]]'s earliest-
    * (doc_id, pos) rule (first writer wins across time; the
    * [[spanDedupStatsAgainst]] contract at paragraph granularity).
    * Output schema matches the batch form, so per-batch outputs union
    * to the batch result on the same documents (StreamingSpec).
    */
  def paragraphDedupStatsAgainst(docs: DataFrame, keeperParas: DataFrame,
                                 maxDupFrac: Double = 0.2): DataFrame = {
    val paras = Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), "\n\n")).as("para"))
      .select(col("doc_id"), trim(col("para")).as("para"))
      .filter(length(col("para")) > 0)
      .select(col("doc_id"), xxhash64(col("para")).as("h"))
    val marked = paras
      .join(keeperParas.select(col("h")).distinct().withColumn("dup", lit(1L)),
        Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(0L)).as("removed"))
    val perDoc = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"), sum(col("removed")).as("n_removed"))
    docs.filter(col("text").isNotNull).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .withColumn("dup_frac",
        when(col("n_paras") > 0,
          round(col("n_removed").cast("double") / col("n_paras"), 6))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_frac") <= maxDupFrac)
      .orderBy(col("doc_id"))
  }

  /** Streaming paragraph dedup (foreachBatch stage): the base corpus's
    * keeper-paragraph set is FROZEN once; each micro-batch runs
    * [[paragraphDedupStatsAgainst]] and appends per-doc stats tagged
    * with the batch id — the [[spanDedupSink]] sink contract at
    * paragraph granularity.
    */
  def paragraphDedupSink(docStream: DataFrame, baseDocs: DataFrame,
                         outPath: String, checkpoint: String,
                         maxDupFrac: Double = 0.2, triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozen = Freeze.scoped(checkpoint, keeperParagraphHashes(baseDocs))
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      paragraphDedupStatsAgainst(batch, frozen, maxDupFrac)
    }
  }

  /** Shared verdict tail: dup fraction + keep flag over a
    * (doc_id, n_spans, n_removed) frame, presentation-sorted.
    */
  private def spanVerdict(perDoc: DataFrame, maxDupFrac: Double): DataFrame =
    perDoc
      .withColumn("dup_frac",
        when(col("n_spans") > 0,
          round(col("n_removed").cast("double") / col("n_spans"), 6))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_frac") <= maxDupFrac)
      .orderBy(col("doc_id"))

  /** WINNOW-ACCELERATED span dedup: [[winnowSelect]] fingerprints as
    * the CANDIDATE GENERATOR in front of the exact keeper election of
    * [[spanDedupStatsDf]]. Three stages:
    *
    *  1. narrow pass — per doc, the span count and the winnowed
    *     fingerprint selection (density ~2/(w+1));
    *  2. candidate election — a fingerprint hash seen at more than one
    *     position marks every document holding it (the ONLY
    *     corpus-sized exchange, at ~2/(w+1) of the span stream — the
    *     1/w cut on the library's highest bytes-per-input-byte
    *     shuffle);
    *  3. exact election — the full [[spanDedupStatsDf]] window, but
    *     only over CANDIDATE documents' spans; non-candidates report
    *     n_removed = 0 from the narrow pass.
    *
    * CONTRACT (the winnowing guarantee, Schleimer et al. 2003 §4): any
    * duplicated passage spanning >= w + n − 1 tokens shares a selected
    * fingerprint at every occurrence, so every document involved in
    * one is a candidate and stage 3 reproduces the exact operator's
    * verdict for it — on corpora whose duplication is passage-level
    * (boilerplate, licence blocks, quoted text), output EQUALS
    * [[spanDedupStatsDf]] row for row (CleaningSpec asserts this on
    * planted fixtures). Duplicated spans shorter than w + n − 1 tokens
    * whose documents share nothing longer can escape candidacy — the
    * sf0.01 documents table has 7 such docs (measured r10), which is
    * why this query is rows-only rather than sharing the exact
    * operator's oracle — and the exact operator is the auditor for
    * that regime (the spec pins one such miss so the relaxation stays
    * visible).
    */
  def winnowSpanDedupStats(spark: SparkSession, d: String, n: Int = WinnowN,
                           w: Int = WinnowW, maxDupFrac: Double = SpanMaxDupFrac): DataFrame =
    winnowSpanDedupCore(packGuardedSessionTokens(spark, d, n), n, w, maxDupFrac)

  /** DataFrame form (docs must have doc_id + text). */
  def winnowSpanDedupStatsDf(docs: DataFrame, n: Int = WinnowN, w: Int = WinnowW,
                             maxDupFrac: Double = SpanMaxDupFrac): DataFrame =
    winnowSpanDedupCore(packGuardedTokens(docs, n), n, w, maxDupFrac)

  private def winnowSpanDedupCore(toksed: DataFrame, n: Int, w: Int,
                                  maxDupFrac: Double): DataFrame = {
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    // the explode is FUSED over the winnow expression (no intermediate
    // fps attribute): InferFiltersFromGenerate turns an attribute-bound
    // explode into a size()>0 filter that predicate pushdown re-expands
    // to the FULL tokenize→hash→winnow chain below the scan — the whole
    // narrow pass evaluated twice, measured 4.2 s vs 0.35 s at sf0.1.
    // A fused (expensive-expression) generator child is exempt from the
    // inference, keeping one evaluation inside one codegen stage.
    val candidates = toksed
      .select(col("doc_id"), explode(winnowFps(winnowSpanHashesOf(col("t"), n), w)).as("h"))
      .withColumn("cnt", count(lit(1)).over(wh))
      .filter(col("cnt") > 1)
      .select(col("doc_id")).distinct()
    // exact election, candidate docs only — the spanDedupStatsDf window
    // on the same 16-byte packed keys (packing bounds already enforced)
    val spans = toksed.join(candidates, Seq("doc_id"))
      .select(col("doc_id"), posexplode(spanHashesOf(col("t"), n)).as(Seq("pos0", "h")))
      .select((shiftleft(col("doc_id"), 20) + col("pos0") + 1).as("pk"), col("h"))
    val removedPerDoc = spans
      .withColumn("cnt", count(lit(1)).over(wh))
      .withColumn("keeper", min(col("pk")).over(wh))
      .select(shiftright(col("pk"), 20).as("doc_id"),
        (col("cnt") > 1 && col("pk") =!= col("keeper")).cast("long").as("removed"))
      .groupBy(col("doc_id")).agg(sum(col("removed")).as("n_removed"))
    val full = toksed.select(col("doc_id"), nSpansOf(col("t"), n).as("n_spans"))
      .join(removedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
    spanVerdict(full, maxDupFrac)
  }

  /** DISTINCT winnowed fingerprint hashes of a static base corpus —
    * the candidate-probe set the streaming form of winnow-accelerated
    * span dedup checks arrivals against (~2/(w+1) the size of
    * [[keeperSpanHashes]]).
    */
  def winnowKeeperFingerprints(docs: DataFrame, n: Int = WinnowN, w: Int = WinnowW): DataFrame =
    Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(TextAnalysis.tokens(col("text")).as("t"))
      .select(explode(winnowFps(winnowSpanHashesOf(col("t"), n), w)).as("h"))
      .distinct()

  /** Winnow-accelerated span-dedup stats AGAINST a static base: an
    * arrival is a CANDIDATE iff any of its winnowed fingerprints is
    * already owned by the base ([[winnowKeeperFingerprints]]); only
    * candidates' full span streams probe the base keeper-span set
    * ([[keeperSpanHashes]]), non-candidates report n_removed = 0 from
    * the narrow pass. Same schema and keeper rule as
    * [[spanDedupStatsAgainst]] (base owns all its spans; no
    * within-batch election), with the [[winnowSpanDedupStatsDf]]
    * contract: equality whenever shared passages span >= w + n − 1
    * tokens (asserted in StreamingSpec).
    */
  def winnowSpanDedupStatsAgainst(docs: DataFrame, baseFps: DataFrame,
                                  keeperSpans: DataFrame, n: Int = WinnowN,
                                  w: Int = WinnowW, maxDupFrac: Double = SpanMaxDupFrac): DataFrame = {
    val toksed = Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
    // fused explode — see winnowSpanDedupStatsDf's candidates note
    val candidates = toksed
      .select(col("doc_id"), explode(winnowFps(winnowSpanHashesOf(col("t"), n), w)).as("h"))
      .join(baseFps.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    val removedPerDoc = toksed.join(candidates, Seq("doc_id"))
      .select(col("doc_id"), explode(spanHashesOf(col("t"), n)).as("h"))
      .join(keeperSpans.select(col("h")).distinct().withColumn("dup", lit(1L)),
        Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("dup"), lit(0L))).as("n_removed"))
    val full = toksed.select(col("doc_id"), nSpansOf(col("t"), n).as("n_spans"))
      .join(removedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
    spanVerdict(full, maxDupFrac)
  }

  /** Streaming winnow-accelerated span dedup (foreachBatch stage): the
    * base corpus's fingerprint and keeper-span sets are FROZEN once
    * before the stream starts; each micro-batch runs
    * [[winnowSpanDedupStatsAgainst]] and appends its per-doc stats
    * tagged with the batch id — the [[spanDedupSink]] sink contract
    * with the candidate prefilter in front.
    */
  def winnowSpanDedupSink(docStream: DataFrame, baseDocs: DataFrame,
                          outPath: String, checkpoint: String, n: Int = WinnowN,
                          w: Int = WinnowW, maxDupFrac: Double = SpanMaxDupFrac,
                          triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val fps = Freeze.scoped(checkpoint, winnowKeeperFingerprints(baseDocs, n, w))
    val spans = Freeze.scoped(checkpoint, keeperSpanHashes(baseDocs, n))
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      winnowSpanDedupStatsAgainst(batch, fps, spans, n, w, maxDupFrac)
    }
  }

  // --------------------------------------- exact substring dedup (Lee et al.)

  /** Anchor width of [[substringDedup]] — the minimum repeat length in
    * tokens (Lee et al. 2022 use 50 BPE tokens; 20 whitespace tokens is
    * the same operator fixture-scaled to the ~54-token corpus
    * documents). `private[graft]`: the DuckDB oracle builder
    * interpolates the SAME value.
    */
  private[graft] val SubstrK = 20

  /** EXACT SUBSTRING DEDUP — the Lee et al. 2022 suffix-array operator
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr), re-expressed distributed: every MAXIMAL token span
    * whose k-token windows each occur in at least one OTHER document,
    * with EXACT token boundaries. A cross-document repeat of length
    * L ≥ k duplicates all of its L−k+1 k-windows, and a maximal run of
    * cross-duplicated windows is exactly a union of exact repeats — so
    * anchoring on k-gram identity and merging consecutive duplicated
    * anchor positions finds the ExactSubstr spans without a suffix
    * array (a single-node structure; this is the distributed shape:
    * one keyed aggregate + one keyed semi-join + one per-document
    * window). The shingle/winnow span family ([[spanDedupStatsDf]],
    * [[winnowSpanDedupStatsDf]]) reports per-document duplicated-mass
    * fractions only; THIS operator localizes each repeat and its
    * [start_tok, end_tok] boundaries — the cut list a Lee-et-al-style
    * pipeline feeds to the span excision step.
    *
    * Anchor identity: Spark hashes each k-token slice with the
    * multi-arg chained xxhash64 (the [[TextAnalysis]] gramHash
    * discipline — element boundaries hashed exactly, no concatenated
    * string ever materialized); the DuckDB oracle re-derives anchors
    * from gram STRINGS, so an xxhash collision changes the span set
    * and fails the driver hash gate loudly instead of passing
    * silently (the backoffLogProbDf contract). The span_md5 output
    * column re-hashes the ACTUAL span text on both engines, proving
    * the boundaries delimit identical content.
    *
    * Scale shape: the anchor stream is |token positions| narrow rows
    * (8 B hash + id + pos); ONE map-side-combined aggregate on the
    * gram key (min/max doc id — cross-document iff they differ), ONE
    * keyed semi-join back (build side = distinct duplicated grams
    * only), ONE doc-keyed window pass for the island merge, and the
    * excerpt join touches island rows only. Never all-pairs, no
    * driver state, no skew trap (the aggregate combines partials;
    * a corpus-hot phrase contributes one build-side row).
    */
  def substringDedup(spark: SparkSession, d: String): DataFrame =
    // the registered-width span table is a session artifact: the
    // excerpt columns derive from the pinned rows alone (n_tokens is
    // span arithmetic; span_md5 is stored) — no anchor-chain pass
    sessionSubstrSpans(spark, d)
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("n_tokens"), col("span_md5"))
      .orderBy(col("doc_id"), col("start_tok"))

  /** DataFrame form (docs must have doc_id + text). */
  def substringDedupDf(docs: DataFrame, k: Int = SubstrK): DataFrame = {
    val toksed = Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
    spanExcerpts(toksed, substringSpans(toksed, k))
  }

  /** The excerpt tail shared by the cross-document, incremental and
    * self-repeat span queries: join each span back to its document's
    * tokens, emit exact boundaries + the md5 of the actual span text
    * (the content proof both engines replay).
    */
  private def spanExcerpts(toksed: DataFrame, spans: DataFrame): DataFrame =
    spans.join(toksed, Seq("doc_id"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("t"), col("start_tok").cast("int"),
            (col("end_tok") - col("start_tok") + 1).cast("int")))).as("span_md5"))
      .orderBy(col("doc_id"), col("start_tok"))

  /** Anchor width of [[substringSelfRepeat]] — intra-document repeats
    * are shorter than cross-document boilerplate (a doc repeating a
    * 20-token run verbatim is rare even in template-heavy corpora;
    * repeated 8-token runs are the classic generation-loop /
    * navigation-chrome signal Lee et al. excise within documents).
    * `private[graft]`: the oracle interpolates the same value.
    */
  private[graft] val SelfRepeatK = 8

  /** INTRA-DOCUMENT exact repeats — the within-document half of the
    * Lee et al. ExactSubstr operator ([[substringDedup]] localizes
    * cross-document repeats; this localizes spans a document repeats
    * WITHIN itself — generation loops, navigation chrome, copy-paste
    * stutter): every maximal token span whose k-gram windows each
    * occur at least twice in the SAME document, exact boundaries,
    * span content md5-proven. Note both copies of a repeat surface
    * (each window of each copy is duplicated; adjacent copies fuse
    * into one maximal island) — an excision pass over this cut list
    * would keep min-start per (doc, span_md5), the keeper discipline
    * [[substringExcised]] applies across documents.
    *
    * Scale shape: the anchor stream is the same narrow
    * (doc_id, pos, h) frame; ONE (doc, gram)-keyed count aggregate
    * (map-side combined), one keyed semi-join back, one per-doc
    * island window — never pairwise, no driver state. Unlike the
    * cross-doc form the aggregate key includes doc_id, so the build
    * side shards WITH the corpus and a corpus-hot phrase cannot hot-key
    * the exchange at 100 TB.
    */
  /** Planted-fixture geometry of the REGISTERED q_substring_selfrepeat
    * (the plantedShiftedAudio precedent: real corpora carry their own
    * intra-doc repeats — generation loops, chrome — but the synthetic
    * test corpus has NONE at any k ≥ 2, measured; a vacuous 0-row gate
    * proves nothing, so the registered query plants deterministic
    * self-repeats and the oracle replays the identical planting).
    * Every third document with at least [[SelfPlantMinTokens]] tokens
    * re-appends its first [[SelfPlantTokens]] tokens, creating exactly
    * two repeated copies per planted doc.
    */
  private[graft] val SelfPlantTokens = 12
  private[graft] val SelfPlantMinTokens = 20

  def substringSelfRepeat(spark: SparkSession, d: String,
                          k: Int = SelfRepeatK): DataFrame =
    substringSelfRepeatOn(
      TextAnalysis.sessionTokens(spark, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0 && size(col("toks")) >= SelfPlantMinTokens,
            concat(col("toks"), slice(col("toks"), 1, SelfPlantTokens)))
            .otherwise(col("toks")).as("t")), k)

  /** DataFrame form (docs must have doc_id + text). */
  def substringSelfRepeatDf(docs: DataFrame, k: Int = SelfRepeatK): DataFrame =
    substringSelfRepeatOn(
      Tables.fanOut(docs).filter(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t")), k)

  private def substringSelfRepeatOn(toksed: DataFrame, k: Int): DataFrame = {
    val anchors = anchorStream(toksed, k)
    val selfDup = anchors.groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("doc_id"), col("h"))
    spanExcerpts(toksed,
      islandsOf(anchors.join(selfDup, Seq("doc_id", "h"), "left_semi"), k))
  }

  /** The shared anchor→island chain: maximal spans (doc_id, start_tok,
    * end_tok) of consecutive cross-document-duplicated k-gram
    * positions. Boundaries only — the excision keeper election
    * downstream keys on span-content md5, not on any anchor hash.
    */
  private def substringSpans(toksed: DataFrame, k: Int): DataFrame = {
    val anchors = anchorStream(toksed, k)
    // cross-document duplicated grams: min(doc) != max(doc) — one
    // map-side-combined aggregate, build side of the semi-join below
    val crossDup = anchors.groupBy(col("h"))
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
      .filter(col("dmin") =!= col("dmax"))
      .select(col("h"))
    islandsOf(anchors.join(crossDup, Seq("h"), "left_semi"), k)
  }

  /** The (doc_id, pos, h) anchor stream: one 8-byte hash per token
    * position — xxhash64 over the k-token slice, chained multi-arg
    * inside the transform lambda.
    */
  private def anchorStream(toksed: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"substring dedup needs k >= 2, got $k")
    val gramHash = (1 to k).map(j => s"element_at(t, i + ${j - 1})").mkString(", ")
    toksed
      .filter(size(col("t")) >= k)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, size(t) - ${k - 1}), i -> xxhash64($gramHash))"))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
  }

  /** Island merge: consecutive duplicated anchor positions fuse into
    * one maximal span [min pos, max pos + k - 1]. Boundaries only —
    * keeper election happens on span-content md5 downstream.
    */
  private def islandsOf(dupPos: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) === 1, lit(0L)).otherwise(lit(1L)))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + (k - 1)).as("end_tok"))
  }

  /** The FROZEN duplicated-gram index of a base corpus: every distinct
    * k-gram anchor hash the base contains — what an ingest gate holds
    * resident to excise arriving documents' already-seen spans against
    * (the [[keeperSpanHashes]] / minhashBandIndex freeze discipline
    * applied to the ExactSubstr family).
    */
  def substringGramIndex(docs: DataFrame, k: Int = SubstrK): DataFrame =
    anchorStream(
      Tables.fanOut(docs).filter(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t")), k)
      .select(col("h")).distinct()

  /** The cross-document ExactSubstr span table (doc_id, start_tok,
    * end_tok, span_md5) at the registered anchor width [[SubstrK]] —
    * parameter-free given the corpus and rebuilt per run by BOTH
    * q_substring_dedup and q_substring_excised before r20 (the full
    * anchor chain: one token-position explode, two keyed exchanges, a
    * doc-keyed window, plus the md5 excerpt join — twice per bench
    * sweep). One build per (session, dir), ledger-timed to the
    * `artifact_builds` sidecar, ArtifactStore-backed, cold-cleared.
    * Span-count rows pinned (≪ corpus — only duplicated islands).
    */
  private[ext] val sessionSubstrSpans =
    SessionArtifact.frame("substr_spans", Pin.Checkpoint) { (spark, d) =>
      val toksed = TextAnalysis.sessionTokens(spark, d)
        .select(col("doc_id"), col("toks").as("t"))
      spansWithMd5(toksed, SubstrK)
    }

  /** The frozen-base duplicated-gram index at the registered width —
    * the [[substringIncremental]] base side (doc_id % 4 != 0, the
    * exactDedupIncremental split convention), parameter-free given the
    * corpus: distinct anchor hashes only (8 B each), the r20
    * frozen-base dedup-artifact discipline (654f142) applied to the
    * ExactSubstr family. |distinct base grams| rows pinned per
    * (session, dir) — the largest pin of this family; noted in the
    * artifact ledger like the postings-index pin.
    */
  private[ext] val sessionSubstrBaseGrams =
    SessionArtifact.frame("substr_base_grams", Pin.Checkpoint) { (spark, d) =>
      anchorStream(
        TextAnalysis.sessionTokens(spark, d)
          .filter(col("doc_id") % 4 =!= 0)
          .select(col("doc_id"), col("toks").as("t")), SubstrK)
        .select(col("h")).distinct()
    }

  /** Arriving documents' spans already present in a FROZEN base-corpus
    * gram index — the delta half of incremental exact-substring dedup:
    * maximal islands of arrival k-gram positions whose grams exist in
    * the base (same schema as [[substringDedup]]). Never delta × base
    * pairs: one keyed semi-join of the delta anchor stream against the
    * index, then the per-document island window.
    */
  def substringDedupAgainst(arrivals: DataFrame, baseGrams: DataFrame,
                            k: Int = SubstrK): DataFrame = {
    val toksed = Tables.fanOut(arrivals).filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
    val spans = islandsOf(
      anchorStream(toksed, k).join(baseGrams, Seq("h"), "left_semi"), k)
    spans.join(toksed, Seq("doc_id"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("t"), col("start_tok").cast("int"),
            (col("end_tok") - col("start_tok") + 1).cast("int")))).as("span_md5"))
      .orderBy(col("doc_id"), col("start_tok"))
  }

  /** Incremental exact-substring dedup as a registered batch query:
    * the corpus splits base (doc_id % 4 != 0) / arrivals (% 4 == 0) —
    * the exactDedupIncremental split convention — and arrivals report
    * their base-duplicated spans against the frozen gram index.
    */
  def substringIncremental(spark: SparkSession, d: String): DataFrame =
    substringDedupAgainst(Tables.documents(spark, d).filter(col("doc_id") % 4 === 0),
      sessionSubstrBaseGrams(spark, d), SubstrK)

  /** SPAN EXCISION — the output half of the Lee et al. ExactSubstr
    * pipeline ([[substringDedup]] is the cut list; this applies it):
    * every flagged span is removed from every document EXCEPT the
    * span's KEEPER — the minimum doc_id among documents carrying a
    * span with the IDENTICAL content (md5 of the span text: the
    * [[graft.ext.Dedup]] md5-keeper discipline applied to substrings,
    * so each distinct repeated span-content keeps exactly one copy;
    * a keeper document keeps ALL its flagged spans, including
    * within-document repeats of its own kept content). Electing on
    * content — NOT on the span's first anchor — matters: maximal
    * islands with the same leading k-gram can delimit DIFFERENT
    * content (doc A carries block X alone; docs B and C carry X
    * followed by Y, fusing into one X·Y island), and a first-anchor
    * election would crown the X-only document keeper of the X·Y
    * spans, excising content Y from every document that has it. The
    * content key gives X·Y its own keeper (the fixture in
    * CleaningSpec pins this). Output per affected document: spans
    * excised, tokens removed/kept, and the md5 of the cleaned text —
    * the excision is proven content-exact against the oracle's
    * replay, not just counted.
    *
    * Scale shape: the span chain is [[substringSpans]] (anchor stream
    * linear in tokens, two keyed exchanges); the keeper election is
    * one aggregate on the first-anchor hash (span-count rows, tiny);
    * the excision explodes span token ranges (bounded by document
    * length), anti-joins the token stream, and re-joins in order —
    * all doc-keyed.
    */
  def substringExcised(spark: SparkSession, d: String): DataFrame =
    // keeper election + excise tail over the PINNED span table — the
    // anchor chain (the expensive half) bills to the sidecar once
    excisedFromSpans(
      TextAnalysis.sessionTokens(spark, d).select(col("doc_id"), col("toks").as("t")),
      sessionSubstrSpans(spark, d))

  /** DataFrame form (docs must have doc_id + text). */
  def substringExcisedDf(docs: DataFrame, k: Int = SubstrK): DataFrame =
    substringExcisedOn(
      Tables.fanOut(docs).filter(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t")), k)

  /** The (doc_id, start_tok, end_tok, span_md5) cross-document span
    * table — the [[substringSpans]] boundaries with the content md5
    * attached (one excerpt join). Shared by the excision chain and the
    * session pin so the two cannot drift.
    */
  private def spansWithMd5(toksed: DataFrame, k: Int): DataFrame =
    substringSpans(toksed, k)
      .join(toksed, Seq("doc_id"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        md5(concat_ws(" ",
          slice(col("t"), col("start_tok").cast("int"),
            (col("end_tok") - col("start_tok") + 1).cast("int")))).as("span_md5"))

  private def substringExcisedOn(toksed: DataFrame, k: Int): DataFrame =
    // spans and the cut list are span-count-sized (<< corpus); lazy
    // localCheckpoints let their many consumers below share ONE
    // evaluation of the anchor chain instead of re-running it per
    // reference (the mmrDiversify poolSh discipline) — measured 17
    // keyed exchanges without, <= 8 with
    excisedFromSpans(toksed, spansWithMd5(toksed, k).localCheckpoint(false))

  /** Keeper election + excision over an already-materialized span
    * table (`spans` must be checkpointed/pinned by the caller — it is
    * referenced twice).
    */
  private def excisedFromSpans(toksed: DataFrame, spans: DataFrame): DataFrame = {
    val keepers = spans.groupBy(col("span_md5")).agg(min(col("doc_id")).as("keeper"))
    val excised = spans.join(keepers, Seq("span_md5"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"))
      .localCheckpoint(false)
    exciseTail(toksed, excised)
  }

  /** The excision tail shared by the batch keeper-elected form and the
    * streaming Against form: cut every (doc_id, start_tok, end_tok)
    * span, re-join the survivors in order, report per-doc accounting +
    * the cleaned-text md5. `excised` must be bounded/checkpointed by
    * the caller (it is referenced three times).
    */
  private def exciseTail(toksed: DataFrame, excised: DataFrame): DataFrame = {
    // only AFFECTED documents pay the explode/sort/md5 tail (the
    // oracle's `WHERE doc_id IN (SELECT doc_id FROM ex)` mirror) —
    // without the semi-join the per-doc rebuild ran corpus-wide and
    // the left join below threw the unaffected 99% away
    val affected = toksed.join(
      excised.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    val cutPos = excised
      .select(col("doc_id"),
        explode(sequence(col("start_tok"), col("end_tok"))).as("pos"))
      .distinct() // overlapping spans cannot double-cut a position
    val toks = affected
      .select(col("doc_id"), posexplode(col("t")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
    val kept = toks.join(cutPos, Seq("doc_id", "pos"), "left_anti")
    // tokens_removed counts DISTINCT cut positions (abutting islands'
    // spans can overlap in token space; a position cuts once)
    val stats = excised.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans_excised"))
      .join(cutPos.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("tokens_removed")), Seq("doc_id"))
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")))).as("cleaned_md5"))
    // affected docs only (the cut list's targets); a FULLY-excised doc
    // has no kept rows and reports 0 kept tokens + the empty-text md5
    stats.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans_excised"), col("tokens_removed"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** Excise arriving documents against a FROZEN base gram index: every
    * span whose windows all exist in the base is cut — NO keeper
    * election (the base holds the canonical copy by definition; this
    * is exactly Lee et al.'s train-side excision against a dedup-ed
    * reference corpus). Same output schema as [[substringExcised]].
    */
  def substringExciseAgainst(arrivals: DataFrame, baseGrams: DataFrame,
                             k: Int = SubstrK): DataFrame = {
    val toksed = Tables.fanOut(arrivals).filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
    val excised = islandsOf(
      anchorStream(toksed, k).join(baseGrams, Seq("h"), "left_semi"), k)
      .select(col("doc_id"), col("start_tok"), col("end_tok"))
      .localCheckpoint(false)
    exciseTail(toksed, excised)
  }

  /** Streaming substring excision (foreachBatch stage): the base
    * corpus's duplicated-gram index is FROZEN once before the stream
    * starts; each micro-batch of arriving documents is excised against
    * the snapshot and appends its per-doc accounting tagged with the
    * batch id — the [[spanDedupSink]] contract on the ExactSubstr
    * family.
    */
  def substringExciseSink(docStream: DataFrame, baseDocs: DataFrame,
                          outPath: String, checkpoint: String,
                          k: Int = SubstrK, triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozen = Freeze.scoped(checkpoint, substringGramIndex(baseDocs, k))
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      substringExciseAgainst(batch, frozen, k)
    }
  }

  // ----------------------------------------------- C4 line-level cleaning

  /** A LINE-STRUCTURED view of the flat document table, built
    * deterministically so the fixture corpus (single-line word-soup
    * texts) exercises every C4 line rule: each document gains a proper
    * sentence line, a short fragment line, a deterministic id-bearing
    * sentence, and — keyed on doc_id arithmetic — a "javascript"
    * notice (7), a cookie-policy line (5), a question line (all but
    * multiples of 3, so those documents land below the 3-kept-line
    * floor), a curly-brace code line (31) and a lorem-ipsum line (37)
    * that poison the whole page. Pure `concat_ws` over conditional
    * expressions (NULL branches drop out), so the same construction is
    * re-derivable in DuckDB SQL — which is what lets
    * [[c4LineFilter]] carry a full oracle instead of a rows-only check.
    */
  def c4StructuredDocs(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), c4TextCol.as("text"))

  /** The structured-text construction itself, reusable wherever the
    * row already carries doc_id + text ([[acquisitionFunnel]] builds
    * every per-doc view in ONE projection).
    */
  private[ext] def c4TextCol: Column = concat_ws("\n",
    concat(substring(col("text"), 1, 60), lit(".")),
    substring(col("text"), 1, 12),
    when(col("doc_id") % 7 === 0,
      lit("Please enable javascript to view this content.")),
    when(col("doc_id") % 5 === 0,
      lit("We use cookies as described in our cookie policy.")),
    concat(lit("Deterministic check number "),
      col("doc_id").cast("string"), lit(" passed the quality gate.")),
    when(col("doc_id") % 3 =!= 0,
      concat(substring(col("text"), 61, 50), lit(" right?"))),
    when(col("doc_id") % 31 === 0, lit("if (x) { runScript(); }")),
    when(col("doc_id") % 37 === 0, lit("Lorem ipsum dolor sit amet.")))

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, the
    * "Colossal Clean Crawled Corpus" heuristics): a line survives iff
    * it ends in a terminal punctuation mark (. ! ? "), carries at
    * least [[C4MinWords]] whitespace-delimited words, and mentions
    * neither "javascript" nor any of the six boilerplate policy
    * phrases; a PAGE is discarded outright if it contains "lorem
    * ipsum" (any case) or a curly brace, and a surviving page needs at
    * least [[C4MinLines]] kept lines. (C4 states the floor in
    * sentences; this operator applies it at its own unit of work, the
    * kept line — the one documented deviation.)
    *
    * Emits per-document: line totals, kept counts, kept-text size, the
    * verdict ('kept' / 'page_filtered' / 'too_short') and a short
    * cleaned preview — the inspection surface a pipeline tunes the
    * rules against before committing to a corpus-wide rewrite.
    *
    * Scale shape: one projection over the scan — split / transform /
    * filter / array_join are all codegen'd higher-order builtin
    * expressions evaluated per document, no explode, no shuffle, no
    * UDF. At 100 TB this runs at scan speed; the only exchange in the
    * registered plan is the presentation sort.
    */
  def c4LineFilter(spark: SparkSession, d: String): DataFrame =
    c4LineFilterDf(c4StructuredDocs(Tables.fanOut(Tables.documents(spark, d))))

  val C4MinWords = 5
  val C4MinLines = 3

  // ------------------------------------------------- URL-level dedup

  /** A URL-CARRYING view of the flat document table, built
    * deterministically so the fixture corpus exercises URL
    * canonicalization: every three consecutive documents share one
    * logical article URL, presented three ways — plain; upper-cased
    * scheme/host with the default :443 port, a trailing slash, swapped
    * query-parameter order, a utm_source tracker and a fragment; and a
    * trailing slash with a tracker spliced between the real
    * parameters. Pure string expressions, re-derivable in SQL (the
    * full-oracle precondition, as with [[c4StructuredDocs]]).
    */
  def urlDocs(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), urlCol.as("url"))

  /** The URL construction itself (see [[c4TextCol]]). */
  private[ext] def urlCol: Column = {
    val art = concat(lit("/articles/"), expr("doc_id div 3").cast("string"))
    when(col("doc_id") % 3 === 0,
      concat(lit("https://news.example.com"), art, lit("?a=1&b=2")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("HTTPS://News.Example.COM:443"), art,
          lit("/?b=2&a=1&utm_source=feed#frag")))
      .otherwise(
        concat(lit("https://news.example.com"), art,
          lit("/?a=1&utm_medium=email&b=2")))
  }

  /** URL canonicalization + URL-level dedup — the acquisition-hygiene
    * step a crawl pipeline runs BEFORE any content dedup (CCNet /
    * RefinedWeb discipline: most recrawl duplicates are the same URL
    * dressed differently). Canonical form: fragment dropped; scheme
    * and host lower-cased; default :80/:443 port dropped; trailing
    * path slash stripped; tracking parameters (utm_*, fbclid, gclid)
    * removed; surviving query parameters sorted. Documents sharing a
    * canonical URL collapse to the smallest doc_id (first-writer-wins,
    * the [[spanDedupStatsDf]] election at URL granularity).
    *
    * Scale shape: canonicalization is a per-row chain of regex /
    * higher-order builtin expressions (codegen'd, no UDF); the
    * election is ONE hash exchange keyed on the canonical URL — at
    * 100 TB this is a single keyed shuffle of (url, doc_id) pairs,
    * independent of document payload size, plus the presentation sort.
    */
  def urlDedup(spark: SparkSession, d: String): DataFrame =
    urlDedupDf(urlDocs(Tables.fanOut(Tables.documents(spark, d))))

  /** The canonicalization chain itself — shared by the batch election,
    * the frozen keeper set, and the streaming sink.
    */
  private[ext] def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val host = lower(regexp_extract(noFrag, "^([a-zA-Z]+://[^/?#]+)", 1))
    val hostNoPort = regexp_replace(host, ":(443|80)$", "")
    val rem = regexp_replace(noFrag, "^[a-zA-Z]+://[^/?#]+", "")
    val path = regexp_replace(regexp_replace(rem, "\\?.*$", ""), "/$", "")
    val query = when(rem.contains("?"),
      regexp_replace(rem, "^[^?]*\\?", "")).otherwise(lit(""))
    val keptParams = array_sort(filter(split(query, "&"),
      p => length(p) > 0 && !p.rlike("^(utm_[a-z]+|fbclid|gclid)=")))
    concat(hostNoPort, path,
      when(size(keptParams) > 0,
        concat(lit("?"), array_join(keptParams, "&"))).otherwise(lit("")))
  }

  /** DataFrame form (docs must have doc_id + url). */
  def urlDedupDf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("canon_url"))
    docs.select(col("doc_id"), col("url"), canonicalUrl(col("url")).as("canon_url"))
      .withColumn("keeper_id", min(col("doc_id")).over(w))
      .withColumn("dup", col("doc_id") =!= col("keeper_id"))
      .orderBy(col("doc_id"))
  }

  /** (canon_url, keeper_id) ownership table of a static base corpus —
    * the set [[urlDedupSink]] freezes. One pass, one keyed aggregate
    * on the canonical URL.
    */
  def keeperCanonUrls(docs: DataFrame): DataFrame =
    docs.select(canonicalUrl(col("url")).as("canon_url"), col("doc_id"))
      .groupBy(col("canon_url")).agg(min(col("doc_id")).as("keeper_id"))

  /** URL dedup AGAINST a static ownership table: an arriving document
    * is a duplicate iff the base corpus already owns its canonical URL
    * (first-writer-wins across time — the [[spanDedupStatsAgainst]]
    * contract at URL granularity; no within-batch election). Output
    * schema matches [[urlDedupDf]], with keeper_id naming the base
    * owner for duplicates and the arrival itself otherwise.
    */
  def urlDedupAgainst(docs: DataFrame, keepers: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("url"), canonicalUrl(col("url")).as("canon_url"))
      .join(keepers.withColumnRenamed("keeper_id", "base_keeper"),
        Seq("canon_url"), "left")
      .select(col("doc_id"), col("url"), col("canon_url"),
        coalesce(col("base_keeper"), col("doc_id")).as("keeper_id"),
        col("base_keeper").isNotNull.as("dup"))
      .orderBy(col("doc_id"))

  /** Streaming URL dedup (foreachBatch stage): the base corpus's
    * canonical-URL ownership table is FROZEN once; each micro-batch
    * runs [[urlDedupAgainst]] and appends its verdicts tagged with the
    * batch id. The recrawl-hygiene stage of a streaming ingest: a
    * re-fetched URL is flagged before its content is ever parsed.
    */
  def urlDedupSink(docStream: DataFrame, baseDocs: DataFrame,
                   outPath: String, checkpoint: String,
                   triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozen = Freeze.scoped(checkpoint, keeperCanonUrls(baseDocs))
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      urlDedupAgainst(batch, frozen)
    }
  }

  private val c4PolicyPhrases = Seq(
    "terms of use", "privacy policy", "cookie policy",
    "uses cookies", "use of cookies", "use cookies")

  /** The REWRITE form: the cleaned corpus itself — kept documents with
    * their surviving lines reassembled (page-filtered and too-short
    * documents dropped). [[c4LineFilterDf]] is the audit a pipeline
    * tunes rules against; this is what it materializes afterwards.
    * Same narrow-map shape; the two share the rule expressions.
    */
  def c4CleanedDocs(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        array_join(filter(transform(split(col("text"), "\n"), trim(_)),
          c4LineKeep(_)), "\n").as("clean_text"))
      .filter(!(lower(col("text")).contains("lorem ipsum") ||
        col("text").contains("{")))
      .filter(size(split(col("clean_text"), "\n")) >= C4MinLines &&
        length(col("clean_text")) > 0)
      .select(col("doc_id"), col("clean_text"))

  /** Registered composition of the rewrite form over the structured
    * fixture view (presentation-sorted for the oracle compare).
    */
  def c4CleanedCorpus(spark: SparkSession, d: String): DataFrame =
    c4CleanedDocs(c4StructuredDocs(Tables.fanOut(Tables.documents(spark, d))))
      .orderBy(col("doc_id"))

  /** Streaming form of the C4 cleaner (foreachBatch stage): each
    * micro-batch rewrites to its cleaned survivors, appended with the
    * batch id. Verdicts are per-document (narrow map, no cross-doc
    * state), so per-batch outputs union to the batch-mode result on
    * the same documents — the [[gopherFilterSink]] symmetry contract.
    */
  def c4CleanedSink(docStream: DataFrame, outPath: String, checkpoint: String,
                    triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      c4CleanedDocs(batch)
    }

  private def c4LineKeep(l: Column): Column = {
    val lw = lower(l)
    substring(l, -1, 1).isin(".", "!", "?", "\"") &&
      size(regexp_extract_all(l, lit("\\S+"), lit(0))) >= C4MinWords &&
      !lw.contains("javascript") &&
      c4PolicyPhrases.map(p => !lw.contains(p)).reduce(_ && _)
  }

  /** DataFrame form (docs must have doc_id + text). */
  def c4LineFilterDf(docs: DataFrame): DataFrame = {
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        filter(transform(split(col("text"), "\n"), trim(_)), c4LineKeep(_))
          .as("kept_lines"),
        size(split(col("text"), "\n")).as("lines_total"))
      .select(col("doc_id"),
        (lower(col("text")).contains("lorem ipsum") ||
          col("text").contains("{")).as("page_bad"),
        col("lines_total"), size(col("kept_lines")).as("lines_kept"),
        array_join(col("kept_lines"), "\n").as("kept_text"))
      .select(col("doc_id"),
        col("lines_total").cast("long").as("lines_total"),
        col("lines_kept").cast("long").as("lines_kept"),
        length(col("kept_text")).cast("long").as("kept_chars"),
        when(col("page_bad"), lit("page_filtered"))
          .when(col("lines_kept") < C4MinLines, lit("too_short"))
          .otherwise(lit("kept")).as("verdict"),
        substring(col("kept_text"), 1, 40).as("preview"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------ domain blocklist filtering

  /** A HOST-carrying view of the flat document table, built
    * deterministically so blocklist suffix matching is exercised at
    * every depth: subdomain (`cdn.` every 4th doc-row-block), site
    * (`<source>.example.`), and TLD+1 (`com`/`org` rotating every 3rd
    * block). Pure string expressions, re-derivable in SQL (the
    * full-oracle precondition, as with [[urlDocs]]).
    */
  def hostDocs(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), hostCol.as("host"))

  /** The host construction itself (see [[c4TextCol]]). */
  private[ext] def hostCol: Column = {
    val k = expr("doc_id div 20")
    concat(
      when(k % 4 === 0, lit("cdn.")).otherwise(lit("")),
      lower(col("source")), lit(".example."),
      when(k % 3 === 0, lit("org")).otherwise(lit("com")))
  }

  /** Fixture blocklist, LONGEST-FIRST: `cdn.src5.example.com` and
    * `src5.example.com` overlap so longest-match precedence is
    * observable; `example.org` proves TLD+1-level blocking. Order is
    * part of the contract — the first filter survivor IS the match.
    */
  val DomainBlocklist: Seq[String] = Seq(
    "cdn.src5.example.com", "src3.example.com", "src5.example.com",
    "example.org")

  /** Domain blocklist filtering with DNS-suffix semantics (the
    * RefinedWeb/C4 URL-filter stage: a blocklist entry blocks the
    * domain itself and every subdomain of it, never a mere string
    * suffix — `gexample.org` is NOT blocked by `example.org`). Emits
    * per document: host, blocked flag, and the longest matching
    * blocklist entry (the one a takedown audit reports).
    *
    * Scale shape: the blocklist rides inside the plan as a literal
    * array and matching is a higher-order `filter` over it — a pure
    * narrow map at scan speed, zero joins, zero shuffles beyond the
    * presentation sort. This is the right shape for the usual
    * thousands-of-entries blocklist; a blocklist too large to inline
    * would switch to exploding each host's label suffixes (bounded by
    * label count) into a broadcast semi-join — same per-row work,
    * still no corpus shuffle.
    */
  def domainBlocklist(spark: SparkSession, d: String): DataFrame =
    domainBlocklistDf(hostDocs(Tables.fanOut(Tables.documents(spark, d))),
      DomainBlocklist)

  /** DataFrame form (docs: doc_id + host); `blocklist` must be
    * longest-first for the reported match to be the longest one.
    */
  def domainBlocklistDf(docs: DataFrame, blocklist: Seq[String]): DataFrame = {
    val bl = array(blocklist.map(lit): _*)
    docs.select(col("doc_id"), col("host"),
        filter(bl, b =>
          col("host") === b ||
            col("host").endsWith(concat(lit("."), b))).as("matches"))
      .select(col("doc_id"), col("host"),
        (size(col("matches")) > 0).as("blocked"),
        get(col("matches"), lit(0)).as("matched_suffix"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------ boilerplate line removal

  /** A line is per-domain boilerplate when it appears in at least
    * [[BoilerMinDocs]] documents AND at least [[BoilerMinFrac]] of the
    * domain's documents — the nav-bar / cookie-banner / footer text a
    * site stamps on every page. The two-sided threshold is what the
    * published pipelines converge on (RefinedWeb's line-wise filters,
    * Penedo et al. 2023 §3.2; CCNet's shard-frequency paragraph
    * dedup, Wenzek et al. 2020 §3): an absolute floor so single-digit
    * repeats in tiny domains don't count, a fractional floor so a
    * merely-popular sentence in a huge domain doesn't.
    *
    * On the structured fixture the cookie banner (every 5th doc,
    * df 0.2) and the javascript notice (every 7th, df 0.14) cross the
    * 0.05 fraction while the rarer code line (1/31) and lorem line
    * (1/37) stay below it — the thresholds discriminate, not rubber-
    * stamp.
    */
  val BoilerMinDocs = 2
  val BoilerMinFrac = 0.05

  /** The flagged boilerplate dictionary: one row per (domain, line)
    * crossing both thresholds, with its document frequency. This is
    * the artifact a pipeline inspects (and persists) before committing
    * to the rewrite — and the table [[boilerplateCleanSink]] freezes.
    *
    * Scale shape: the per-(source, line) document-frequency count is
    * the one corpus-sized exchange — keyed on (source, trimmed line),
    * map-side combined, carrying (key, count) pairs only after the
    * per-document `array_distinct` collapses within-doc repeats
    * upstream of the explode. Per-domain totals ride a second, tiny
    * keyed aggregate (one row per domain) joined back by broadcast.
    * Everything downstream of the frequency count is sized by the
    * dictionary (lines above a 5 % document frequency), not the
    * corpus.
    */
  def boilerplateLines(spark: SparkSession, d: String): DataFrame =
    boilerplateFlaggedDf(c4StructuredDocs(Tables.fanOut(Tables.documents(spark, d))))
      .orderBy(col("source"), col("line"))

  /** Flagged rows without the presentation sort (docs: doc_id +
    * source + newline-structured text).
    */
  private[ext] def boilerplateFlaggedDf(docs: DataFrame): DataFrame = {
    val docLines = docs
      .select(col("source"), col("doc_id"),
        explode(array_distinct(filter(
          transform(split(col("text"), "\n"), trim(_)),
          l => length(l) > 0))).as("line"))
    val df = docLines.groupBy(col("source"), col("line"))
      .agg(count(lit(1)).as("df_docs"))
    val totals = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("source_docs"))
    df.join(broadcast(totals), Seq("source"))
      .filter(col("df_docs") >= BoilerMinDocs &&
        col("df_docs") >= lit(BoilerMinFrac) * col("source_docs"))
      .select(col("source"), col("line"), col("df_docs"),
        col("source_docs"),
        round(col("df_docs").cast("double") / col("source_docs"), 6)
          .as("df_frac_r"))
  }

  /** The per-domain dictionary rolled into one sorted array per
    * domain — the broadcast side of the rewrite join. Bounded by
    * construction: a domain can have at most 1/[[BoilerMinFrac]] = 20
    * distinct lines at or above the fractional floor *per document
    * slot*, and in practice the flagged set is the handful of
    * templated banner lines — this is the "boilerplate dictionary"
    * analog of the decontamination delta table (≤ thousands of rows at
    * any corpus size), which is what licenses the broadcast.
    */
  def boilerplateDictDf(docs: DataFrame): DataFrame =
    boilerplateFlaggedDf(docs).groupBy(col("source"))
      .agg(sort_array(collect_list(col("line"))).as("boiler_lines"))

  /** The session boilerplate dictionary of the corpus' structured view
    * — parameter-free given (session, dir) and rebuilt per run by BOTH
    * registered consumers ([[boilerplateCleaned]],
    * [[acquisitionFunnel]]) before r20: one mining pass is billed to
    * the `artifact_builds` sidecar, every run broadcasts the pinned
    * table. ArtifactStore-backed so warm sessions load and the cold
    * ledger prices the true re-mine. Bounded rows by construction
    * (the [[boilerplateDictDf]] scaladoc's ≤ 20-lines-per-domain
    * argument), so the pin is broadcast-sized at any scale.
    */
  private[ext] val sessionBoilerDict = SessionArtifact.frame("boiler_dict", Pin.Checkpoint) {
    (spark, d) => boilerplateDictDf(c4StructuredDocs(Tables.fanOut(Tables.documents(spark, d))))
  }

  /** The REWRITE form: every document with its domain's boilerplate
    * lines removed (kept lines reassembled in order; empty lines and
    * non-flagged lines survive untouched; documents in domains with no
    * flagged lines pass through). Narrow map over the scan plus ONE
    * broadcast join against the dictionary — the document side never
    * shuffles.
    */
  def boilerplateCleaned(spark: SparkSession, d: String): DataFrame =
    boilerplateCleanedAgainst(
      c4StructuredDocs(Tables.fanOut(Tables.documents(spark, d))),
      sessionBoilerDict(spark, d))
      .orderBy(col("doc_id"))

  /** DataFrame form, cleaning `docs` against a dictionary built from
    * `dictDocs` (the two coincide in batch mode; the streaming sink
    * freezes the dictionary from a base corpus and cleans arrivals).
    */
  def boilerplateCleanedAgainst(docs: DataFrame, dict: DataFrame): DataFrame =
    docs.join(broadcast(dict), Seq("source"), "left")
      .select(col("doc_id"), col("source"),
        transform(split(col("text"), "\n"), trim(_)).as("all_lines"),
        coalesce(col("boiler_lines"), array().cast("array<string>"))
          .as("boiler"))
      .select(col("doc_id"), col("source"),
        size(col("all_lines")).cast("long").as("lines_total"),
        filter(col("all_lines"),
          l => !array_contains(col("boiler"), l)).as("kept"))
      .select(col("doc_id"), col("source"), col("lines_total"),
        (col("lines_total") - size(col("kept"))).cast("long")
          .as("removed_lines"),
        array_join(col("kept"), "\n").as("clean_text"))

  private def boilerplateCleanedDf(docs: DataFrame): DataFrame =
    boilerplateCleanedAgainst(docs, boilerplateDictDf(docs))

  /** Streaming form (foreachBatch stage): the base corpus's
    * boilerplate dictionary is FROZEN once; each micro-batch rewrites
    * its documents against it and appends, tagged with the batch id.
    * Same frozen-artifact discipline as [[urlDedupSink]]: a daily
    * ingest cleans arrivals against the *snapshot's* dictionary and
    * re-mines the dictionary only when the snapshot rolls.
    */
  // ------------------------------------ acquisition funnel

  /** The ACQUISITION-side curation funnel — the hygiene stages a crawl
    * pipeline runs before any content scoring, composed in their
    * canonical order with cumulative survivor counts per stage:
    *
    *   1 raw → 2 url_dedup (canonical-URL first-writer-wins)
    *         → 3 blocklist (DNS-suffix domain blocking)
    *         → 4 c4_pages  (page poison + kept-line floor)
    *         → 5 boilerplate (≥ C4MinLines lines survive dictionary
    *           removal; dictionary mined corpus-wide, as
    *           [[boilerplateLines]] does)
    *
    * The content-side stages (Gopher rules → repetition → model
    * quality → exact dedup) are [[curationFunnel]]; together the two
    * funnels are the full pipeline audit.
    *
    * Scale shape: every per-doc view (url, host, structured text)
    * is built in ONE projection over the scan — no self-joins to
    * reconcile views. The URL election is the one corpus-keyed window
    * (canon_url, 16-byte-scale keys); the boilerplate dictionary rides
    * the same mining exchanges as [[boilerplateLines]] and broadcasts
    * back; the final is a single-row aggregate stacked to 5 rows.
    */
  def acquisitionFunnel(spark: SparkSession, d: String): DataFrame =
    acquisitionFunnelCore(Tables.fanOut(Tables.documents(spark, d)),
      sessionBoilerDict(spark, d))

  /** The funnel's own URL view: same dressing rules as [[urlCol]] but
    * a FOUR-doc article group (period coprime to the structured
    * fixture's %3 question-line period — with [[urlCol]]'s period-3
    * groups every first-writer keeper is a doc_id ≡ 0 (mod 3) head,
    * which is exactly the set the c4 kept-line floor rejects, and the
    * funnel would bottom out at 0 by fixture resonance, not by
    * pipeline semantics).
    */
  private[ext] def funnelUrlCol: Column = {
    val art = concat(lit("/articles/"), expr("doc_id div 4").cast("string"))
    when(col("doc_id") % 4 === 0,
      concat(lit("https://news.example.com"), art, lit("?a=1&b=2")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://News.Example.COM:443"), art,
          lit("/?b=2&a=1&utm_source=feed#frag")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://news.example.com"), art,
          lit("/?a=1&utm_medium=email&b=2")))
      .otherwise(
        concat(lit("https://news.example.com"), art, lit("?a=1&b=2#sec")))
  }

  /** The funnel's URL view as a table (doc_id + url) — what stage 2's
    * component cross-check runs [[urlDedupDf]] over.
    */
  def funnelUrlDocs(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), funnelUrlCol.as("url"))

  /** DataFrame form (docs: doc_id + source + text). */
  def acquisitionFunnelDf(docs: DataFrame): DataFrame =
    acquisitionFunnelCore(docs, boilerplateDictDf(c4StructuredDocs(docs)))

  private def acquisitionFunnelCore(docs: DataFrame, dict: DataFrame): DataFrame = {
    val bl = array(DomainBlocklist.map(lit): _*)
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), funnelUrlCol.as("url"),
        hostCol.as("host"), c4TextCol.as("sd_text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(canonicalUrl(col("url")))
    val lines = transform(split(col("sd_text"), "\n"), trim(_))
    val c4Kept =
      !(lower(col("sd_text")).contains("lorem ipsum") ||
        col("sd_text").contains("{")) &&
        size(filter(lines, c4LineKeep(_))) >= C4MinLines
    val blocked = size(filter(bl, b =>
      col("host") === b || col("host").endsWith(concat(lit("."), b)))) > 0
    val boilerKept = size(filter(lines, l => !array_contains(
      coalesce(col("boiler_lines"), array().cast("array<string>")), l))) >= C4MinLines
    val flagged = base
      .withColumn("s_url", col("doc_id") === min(col("doc_id")).over(w))
      .join(broadcast(dict), Seq("source"), "left")
      .withColumn("s_block", col("s_url") && !blocked)
      .withColumn("s_c4", col("s_block") && c4Kept)
      .withColumn("s_boiler", col("s_c4") && boilerKept)
    flagged.agg(
      count(lit(1)).as("n0"),
      sum(col("s_url").cast("long")).as("n1"),
      sum(col("s_block").cast("long")).as("n2"),
      sum(col("s_c4").cast("long")).as("n3"),
      sum(col("s_boiler").cast("long")).as("n4"))
      .select(expr("stack(5, " +
        "1, 'raw', n0, " +
        "2, 'url_dedup', n1, " +
        "3, 'blocklist', n2, " +
        "4, 'c4_pages', n3, " +
        "5, 'boilerplate', n4) AS (stage, stage_name, n_docs)"))
      .orderBy(col("stage"))
  }

  def boilerplateCleanSink(docStream: DataFrame, baseDocs: DataFrame,
                           outPath: String, checkpoint: String,
                           triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozen = Freeze.scoped(checkpoint, boilerplateDictDf(baseDocs))
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      boilerplateCleanedAgainst(batch, frozen)
    }
  }

  /** Quasi-identifier width of the length bucket in
    * [[kAnonymityAudit]] — shared with the oracle.
    */
  private[graft] val KAnonLenBucket = 500L

  /** K-ANONYMITY AUDIT (Sweeney 2002) — the privacy companion to PII
    * redaction: redaction strips DIRECT identifiers, but a document
    * remains re-identifiable when its quasi-identifier combination
    * (language × source × length bucket here — the metadata a released
    * corpus ships) is rare. Per the standard thresholds k ∈ {2, 5,
    * 10}, reports how many QI groups fall below k and how many
    * documents sit in them (the re-identification-risk mass a release
    * review reads). One row, exact integer counts, risk fractions
    * 6-dp-snapped.
    *
    * Scale shape: ONE keyed group-size aggregate + one scalar
    * conditional-sum reduce — no threshold explode, no join; null QI
    * values group as values (both engines agree).
    */
  def kAnonymityAudit(spark: SparkSession, d: String): DataFrame =
    kAnonymityAuditDf(Tables.documents(spark, d))

  def kAnonymityAuditDf(docs: DataFrame): DataFrame = {
    val g = docs
      .groupBy(col("lang"), col("source"),
        floor(col("n_chars") / lit(KAnonLenBucket)).as("len_bucket"))
      .agg(count(lit(1)).as("gs"))
    def groupsLt(k: Int): Column =
      sum(when(col("gs") < k, lit(1L)).otherwise(lit(0L))).as(s"groups_lt_$k")
    def docsLt(k: Int): Column =
      sum(when(col("gs") < k, col("gs")).otherwise(lit(0L))).as(s"docs_lt_$k")
    def riskR(k: Int): Column =
      (floor(col(s"docs_lt_$k").cast("double") / col("n_docs").cast("double")
        * lit(1e6) + lit(0.5)) / lit(1e6)).as(s"risk_pct_${k}_r")
    g.agg(count(lit(1)).as("n_groups"), sum(col("gs")).as("n_docs"),
        groupsLt(2), docsLt(2), groupsLt(5), docsLt(5),
        groupsLt(10), docsLt(10))
      .select(col("n_docs"), col("n_groups"),
        col("groups_lt_2"), col("docs_lt_2"), riskR(2),
        col("groups_lt_5"), col("docs_lt_5"), riskR(5),
        col("groups_lt_10"), col("docs_lt_10"), riskR(10))
  }
}
