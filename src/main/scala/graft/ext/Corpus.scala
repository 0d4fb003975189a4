package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionArtifact, Tables}
import graft.SessionArtifact.Pin

/** Corpus-preparation operators a training-data pipeline runs after
  * dedup/quality filtering: deterministic dataset splitting and
  * fixed-budget sequence packing.
  */
object Corpus {

  /** Deterministic train/val/test assignment by CONTENT hash: the first
    * two hex chars of md5(text) give 256 uniform buckets, compared
    * lexicographically against hex thresholds ('e6' = 230 → ~90% train,
    * 'f3' = 243 → ~5% val, rest test). Content-keyed (not id-keyed) so
    * the same document lands in the same split across re-crawls and
    * re-partitions, and duplicate texts can never straddle splits
    * (train/test contamination). A narrow map — no shuffle, no RNG
    * state; md5-hex is engine-portable so the assignment is
    * DuckDB-checkable.
    */
  def splitAssignments(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        substring(md5(col("text").cast("binary")), 1, 2).as("bucket"))
      .withColumn("split",
        when(col("bucket") < "e6", "train")
          .when(col("bucket") < "f3", "val")
          .otherwise("test"))
      .drop("bucket")

  /** Split sizes per source — the audit a pipeline runs to confirm the
    * hash split is balanced and no source is skewed into one split.
    */
  def splitCounts(spark: SparkSession, d: String): DataFrame =
    splitAssignments(spark, d)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("split"))

  /** Deterministic per-EPOCH corpus permutation + shard assignment —
    * the training-order stage between curation and the data loader:
    * every epoch needs a different, reproducible, resumable global
    * shuffle of the corpus, split into shards a loader can consume in
    * parallel. Each document's shard is the first `shardHexChars` hex
    * chars of md5(epoch ":" text) (16^k uniform shards, the
    * [[splitAssignments]] hash-as-uniform trick salted by epoch), and
    * its position within the shard is the rank of that same hash — so
    * (shard, pos) is a pure function of (epoch, content).
    *
    * Why hash-derived order instead of `orderBy(rand(seed))`: rand()
    * is seeded PER PARTITION INDEX, so a lost executor's task retry —
    * or any upstream repartition — replays a DIFFERENT permutation
    * mid-job; content-hash order is identical across retries,
    * re-crawls, and cluster sizes, and a resumed training run can
    * reproduce the tail of an epoch from (epoch, shard, pos) alone.
    *
    * Scale shape: one exchange keyed on the shard prefix + an
    * in-partition sort (the window ORDER BY) — a distributed total
    * order WITHOUT a global range sort, because inter-shard order is
    * free (shard ids ARE the leading hash bits: concatenating shards
    * 0..f in id order equals the one-key md5 total order). Loaders
    * stream shards independently; skew is the md5 balance (uniform).
    */
  def epochShuffleShards(spark: SparkSession, d: String, epoch: Int = 1,
                         shardHexChars: Int = 1): DataFrame =
    epochShuffleShardsDf(Tables.documents(spark, d), epoch, shardHexChars)

  /** DataFrame form (docs must have doc_id + text). */
  def epochShuffleShardsDf(docs: DataFrame, epoch: Int = 1,
                           shardHexChars: Int = 1): DataFrame = {
    require(shardHexChars >= 1 && shardHexChars <= 4,
      s"shardHexChars must be in [1, 4] (16..65536 shards), got $shardHexChars")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        md5(concat(lit(s"$epoch:"), col("text")).cast("binary")).as("h"))
      .withColumn("shard", substring(col("h"), 1, shardHexChars))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Shuffle MIX audit for [[epochShuffleShards]]: per shard, the
    * fraction of adjacent position pairs that share a source, against
    * the no-replacement random baseline Σ nₛ(nₛ−1) / n(n−1) — the
    * training-order quality check behind the shuffle (a poorly mixed
    * order feeds the model long same-source runs; gradient noise
    * stops being i.i.d. exactly when same_frac detaches from the
    * baseline). Content-hash order should sit ON the baseline; a
    * same_frac excess flags duplicate-heavy sources (identical texts
    * hash adjacently) or a broken salt.
    *
    * Scale shape: the [[epochShuffleShards]] exchange + one lag window
    * on the same (shard, pos) partitioning, and a source-count rollup
    * — all shard-keyed, nothing corpus-global.
    */
  def shuffleMixAudit(spark: SparkSession, d: String, epoch: Int = 1,
                      shardHexChars: Int = 1): DataFrame = {
    val docs = Tables.documents(spark, d)
    val order = epochShuffleShardsDf(docs, epoch, shardHexChars)
    val withSrc = order
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("pos"))
    val adj = withSrc
      .withColumn("prev_src", lag(col("source"), 1).over(w))
      .filter(col("prev_src").isNotNull)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("source") === col("prev_src")).cast("long")).as("n_same"))
    val base = withSrc
      .groupBy(col("shard"), col("source")).agg(count(lit(1)).as("ns"))
      .groupBy(col("shard"))
      .agg(sum(col("ns")).as("n_docs"),
        sum(col("ns") * (col("ns") - 1)).as("pairs_same"))
    adj.join(base, "shard")
      .select(col("shard"), col("n_docs"), col("n_pairs"),
        round(col("n_same").cast("double") / col("n_pairs"), 6)
          .as("same_frac"),
        round(col("pairs_same").cast("double") /
          (col("n_docs") * (col("n_docs") - 1)), 6).as("expected_frac"))
      .orderBy(col("shard"))
  }

  /** Per-shard balance audit for [[epochShuffleShards]]: document and
    * character counts per shard — the check a pipeline runs before
    * pointing N loader workers at 16^k shards (a skewed shard starves
    * the other workers at epoch end; md5 uniformity makes skew here a
    * bug signal, not a data property).
    */
  def shardStats(spark: SparkSession, d: String, epoch: Int = 1,
                 shardHexChars: Int = 1): DataFrame =
    Tables.documents(spark, d).filter(col("text").isNotNull)
      .select(
        substring(md5(concat(lit(s"$epoch:"), col("text")).cast("binary")),
          1, shardHexChars).as("shard"),
        length(col("text")).cast("long").as("len"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"))
      .orderBy(col("shard"))

  /** Sequence packing: greedy first-fit of documents into packs of at
    * most `budget` whitespace tokens (the training-batch shaping step
    * that turns ragged documents into near-full fixed-size sequences).
    *
    * Scale shape: packing is per-PARTITION greedy — a mapPartitions
    * walk carrying one open pack, no shuffle beyond the initial
    * repartition, no driver involvement; 100 TB packs in parallel with
    * per-task O(1) state. Pack ids are (partition_id, local_seq) so
    * they are globally unique without coordination. Oversized single
    * documents become their own pack (truncation is a downstream
    * tokenizer concern, flagged by `overflow`).
    */
  def packDocuments(spark: SparkSession, d: String,
                    budget: Int = 2048): DataFrame = {
    // NULL text packs as 0 tokens (size() is NULL for NULL input, and
    // the tuple encoder rejects null Ints) — every doc_id must land in
    // exactly one pack, including empty/null documents
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"),
        coalesce(size(graft.ext.TextAnalysis.tokens(col("text"))), lit(0))
          .as("n_tokens"))
    import spark.implicits._
    val packed = docs.as[(Long, Int)].rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Boolean)]
        var packSeq = 0L
        var used = 0
        var members = List.empty[(Long, Int)]
        def flush(): Unit = if (members.nonEmpty) {
          val packId = pid.toLong << 32 | packSeq
          members.reverse.foreach { case (id, n) =>
            out += ((packId, id, n, used > budget))
          }
          packSeq += 1; used = 0; members = Nil
        }
        it.foreach { case (id, n) =>
          if (used > 0 && used + n > budget) flush()
          members ::= (id, n)
          used += n
          if (used > budget) flush() // oversized single doc: own pack
        }
        flush()
        out.iterator
      }
    packed.toDF("pack_id", "doc_id", "n_tokens", "overflow")
  }

  /** Capacity ladder and shard count of [[packBucketedStats]] —
    * `private[graft]` because the DuckDB oracle interpolates the SAME
    * values (one definition, no drift). The ladder top equals the
    * pack budget, so every non-overflow document has a bucket.
    */
  private[graft] val PackLadder = Seq(16, 32, 64, 128, 256, 512, 1024, 2048)
  private[graft] val PackShards = 32

  /** DETERMINISTIC bucketed packing — the oracle-able discipline next
    * to [[packDocuments]]'s per-partition greedy first-fit (which is
    * partition-order-dependent BY DESIGN — it is the streaming
    * operator; its q_pack_stats stays a rows-only gate for exactly
    * that reason, adjudicated in SURVEY §8.4). Here packing is
    * length-bucketed next-fit-decreasing over a fixed capacity
    * ladder: each document lands in the smallest ladder bucket
    * holding it, documents in a bucket sort (n_tokens DESC, doc_id)
    * and fill packs of ⌊budget / cap⌋ documents each — every
    * non-overflow pack is guaranteed > 50% full (bucket members
    * exceed cap/2), and the whole assignment is a pure function of
    * (doc_id, n_tokens), so the DuckDB oracle replays it exactly.
    * The fill DISTORTION vs true greedy is the price of determinism:
    * packs hold one size class only, so the tail pack of every
    * (bucket, shard) runs partially full and mixed-size
    * complementarity is forfeited — mean_fill here lower-bounds what
    * [[packStats]]'s greedy achieves. Both metrics together are the
    * packing dashboard.
    *
    * Scale shape: one narrow token-count projection; the rank windows
    * partition by (bucket, shard = doc_id mod [[PackShards]]) — the
    * deterministic salt that keeps a mega-bucket from serializing on
    * one task (the cost: ≤ ladder × shards partially-filled tail
    * packs, constant at any corpus size); one bucket-keyed aggregate.
    */
  def packBucketedStats(spark: SparkSession, d: String): DataFrame =
    packBucketedStatsDf(Tables.fanOut(Tables.documents(spark, d)))

  /** DataFrame form (docs must have doc_id + text). The pack budget IS
    * the ladder top ([[PackLadder]].last) by construction — a separate
    * budget knob would either contradict the ladder or be rejected, so
    * there isn't one; retune the ladder constant to retune the packer.
    */
  def packBucketedStatsDf(docs: DataFrame): DataFrame = {
    val budget = PackLadder.last
    import org.apache.spark.sql.expressions.Window
    val n = coalesce(size(graft.ext.TextAnalysis.tokens(col("text"))), lit(0))
      .cast("long")
    // smallest ladder capacity holding the doc; > budget -> overflow (-1)
    val capCase = PackLadder.init.foldRight(lit(PackLadder.last.toLong): Column) {
      (c, acc) => when(col("n_tokens") <= c, lit(c.toLong)).otherwise(acc)
    }
    val base = docs
      .select(col("doc_id"), n.as("n_tokens"))
      .withColumn("bucket_cap",
        when(col("n_tokens") > budget, lit(-1L)).otherwise(capCase))
      .withColumn("shard", pmod(col("doc_id"), lit(PackShards.toLong)))
    val w = Window.partitionBy(col("bucket_cap"), col("shard"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    val packed = base
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("cap_docs",
        when(col("bucket_cap") === -1L, lit(1L))
          .otherwise(floor(lit(budget.toLong) / col("bucket_cap")).cast("long")))
      .withColumn("pack_key", floor((col("idx") - 1) / col("cap_docs")).cast("long"))
    packed.groupBy(col("bucket_cap"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("shard"), col("pack_key")).as("n_packs"),
        max(col("cap_docs")).as("pack_capacity_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .withColumn("mean_fill",
        floor(col("total_tokens").cast("double") /
          (col("n_packs") * budget) * lit(1e6) + lit(0.5)) / lit(1e6))
      .orderBy(col("bucket_cap"))
  }

  /** Pack-level audit: fill factor per pack (the packing-efficiency
    * metric a training pipeline tracks) — non-overflow packs must not
    * exceed the budget; high mean fill means little padding waste.
    */
  def packStats(spark: SparkSession, d: String, budget: Int = 2048): DataFrame =
    packDocuments(spark, d, budget)
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        max(col("overflow").cast("int")).as("has_overflow"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("n_docs")).as("docs_packed"),
        round(avg(col("pack_tokens")) / budget, 4).as("mean_fill"),
        sum(col("has_overflow")).as("overflow_packs"))

  /** Length-bucketed batching plan — the PADDING alternative to
    * sequence packing ([[packStats]] models the packed form; a
    * pipeline chooses between them with exactly this accounting).
    * Every document lands in the smallest capacity bucket from the
    * ladder (16/32/48/64/96 fixture-scaled tokens) that holds it;
    * documents beyond the top capacity truncate into the top bucket.
    * Per bucket: document and token totals, the tokens actually kept,
    * padding waste (capacity × docs − kept), truncation loss, and the
    * fill efficiency a batch at that fixed sequence length achieves.
    *
    * Scale shape: one narrow projection (token count is a codegen'd
    * split + size), one 5-group aggregate with map-side partials —
    * a single tiny exchange at any corpus size. All-integer bucket
    * boundaries, so the oracle comparison is exact.
    */
  /** Per-domain document cap: keep the `cap` highest-quality documents
    * of each domain (quality tie → smaller doc_id) — RefinedWeb-style
    * domain rate-limiting, which stops template-heavy mega-domains
    * from dominating the training mixture no matter how many pages
    * they contribute. Quality is the shared
    * [[TextAnalysis.qualityScoreCol]] heuristic (6 dp-snapped, so the
    * ranking key is engine-portable).
    *
    * Scale shape: scoring is a narrow map over the scan; the election
    * is the bounded [[graft.functions.TopKSample.topKByScore]]
    * aggregator keyed on source — every map partition reduces to
    * ≤ cap rows per domain BEFORE the exchange, so a hot domain (the
    * exact case the cap exists for) never concentrates its full page
    * set on one task the way a rank window would.
    */
  def domainCap(spark: SparkSession, d: String, cap: Int = 10): DataFrame =
    domainCapDf(Tables.fanOut(Tables.documents(spark, d)), cap)

  /** DataFrame form (docs: doc_id + source + text). */
  def domainCapDf(docs: DataFrame, cap: Int): DataFrame =
    docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("source"),
        TextAnalysis.qualityScoreCol.as("quality_score"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKSample.topKByScore(
        col("quality_score"), col("doc_id"), cap).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("col._2").as("doc_id"), col("col._1").as("quality_score"))
      .orderBy(col("source"), col("rk"))

  def lengthBuckets(spark: SparkSession, d: String): DataFrame =
    lengthBucketsDf(Tables.fanOut(Tables.documents(spark, d)))

  /** DataFrame form (docs must have text). Capacities fixture-scaled:
    * real pipelines use {512,1024,2048,4096} — same integer math.
    */
  def lengthBucketsDf(docs: DataFrame): DataFrame = {
    val n = size(TextAnalysis.tokens(col("text")))
    val cap = when(n <= 16, 16).when(n <= 32, 32).when(n <= 48, 48)
      .when(n <= 64, 64).otherwise(96)
    val kept = least(n, lit(96))
    docs.filter(col("text").isNotNull)
      .select(cap.as("bucket_capacity"), n.as("n"), kept.as("kept"))
      .groupBy(col("bucket_capacity"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(col("kept")).as("kept_tokens"),
        (max(col("bucket_capacity")) * count(lit(1)) - sum(col("kept")))
          .cast("long").as("pad_waste"),
        sum(col("n") - col("kept")).as("trunc_loss"))
      .withColumn("efficiency",
        round(col("kept_tokens").cast("double") /
          (col("bucket_capacity") * col("n_docs")), 6))
      .orderBy(col("bucket_capacity"))
  }

  /** The packing's PARTITION-INDEPENDENT invariants, computed FROM the
    * packed output so any packing defect breaks an oracle row: every
    * document lands in exactly one pack (docs_packed = distinct_docs =
    * corpus count), tokens are conserved (total_tokens = corpus token
    * sum), overflow packs are exactly the over-budget single documents
    * (the greedy flush can overflow only on a lone oversized doc), and
    * no non-overflow pack exceeds the budget (budget_violations = 0).
    * The DuckDB oracle derives every column from the raw documents
    * table — pack ids and the fill-factor distribution stay partition-
    * dependent by design ([[packStats]] remains the rows-only audit
    * for those).
    */
  def packInvariants(spark: SparkSession, d: String, budget: Int = 2048): DataFrame = {
    // ONE pass over the packing lineage: every doc-level statistic
    // rolls up per pack first (each doc lives in exactly one pack, so
    // doc counts/token sums/overflow-doc counts are additive over
    // packs), then one global fold over the pack table — no second
    // evaluation of the mapPartitions walk, no persist, no eager
    // collect. `distinct_docs` becomes the SUM of within-pack distinct
    // counts: equal to the global distinct on correct packing, and a
    // cross-pack double-emission defect still cannot hide — the
    // engine-side sum would overcount versus the DuckDB oracle's
    // global COUNT(DISTINCT) over the raw documents table, failing the
    // hash compare (the oracle, not the internal equality, is this
    // audit's backstop — it derives every column independently).
    packDocuments(spark, d, budget)
      .groupBy(col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct"),
        sum(col("n_tokens")).as("pack_tokens"),
        sum((col("n_tokens") > budget).cast("long")).as("n_overflow_docs"),
        max(col("overflow").cast("int")).as("has_overflow"))
      .agg(
        sum(col("n_docs")).as("docs_packed"),
        sum(col("n_distinct")).as("distinct_docs"),
        sum(col("pack_tokens")).as("total_tokens"),
        sum(col("n_overflow_docs")).as("overflow_docs"),
        sum(col("has_overflow")).cast("long").as("overflow_packs"),
        sum((col("pack_tokens") > budget && col("has_overflow") === 0).cast("long"))
          .as("budget_violations"))
  }

  /** Context-window TRUNCATION-loss audit (the question a pipeline
    * answers before choosing truncate-vs-pack for a model's context
    * length L): per source, how many documents exceed L whitespace
    * tokens and what fraction of the corpus's tokens a hard cap at L
    * would discard — `loss_frac` is the direct cost of the simple
    * loader, read against [[packStats]]'s fill rate for the packing
    * alternative. Long-tail-heavy sources (high `over_frac`, high
    * `loss_frac`) are the ones where truncation silently deletes the
    * document endings a model would otherwise train on.
    *
    * Scale shape: one corpus-sized map (token count per doc) into a
    * map-side-combined source groupBy — the [[mixturePlan]] shape,
    * nothing else touches corpus bytes. All stats are exact integer
    * aggregates; the fractions are exact-integer-input IEEE divisions
    * rounded via floor(x·1e6 + 0.5)/1e6 on both engines.
    */
  def truncationLoss(spark: SparkSession, d: String,
                     contextLen: Int = 512): DataFrame = {
    val perDoc = Tables.documents(spark, d)
      .select(col("source"),
        coalesce(size(graft.ext.TextAnalysis.tokens(col("text"))), lit(0))
          .cast("long").as("n_toks"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_toks") > contextLen).cast("long")).as("n_over"),
        sum(col("n_toks")).as("n_tokens"),
        sum(least(col("n_toks"), lit(contextLen.toLong))).as("kept_tokens"))
      .select(col("source"), col("n_docs"), col("n_over"),
        (floor(col("n_over").cast("double") / col("n_docs").cast("double")
          * 1e6 + 0.5) / 1e6).as("over_frac"),
        col("n_tokens"), col("kept_tokens"),
        when(col("n_tokens") > 0,
          floor((lit(1.0) - col("kept_tokens").cast("double") /
            col("n_tokens").cast("double")) * 1e6 + 0.5) / 1e6)
          .otherwise(lit(0.0)).as("loss_frac"))
      .orderBy(col("source"))
  }

  /** Deterministic domain-weighted RESAMPLING (the data-mixing step a
    * training pipeline runs to rebalance sources): each source gets a
    * sampling weight in {0.25, 0.5, 0.75, 1.0} derived from its numeric
    * suffix (stand-in for a caller-supplied mixture table), and a doc
    * survives iff its md5 CONTENT-hash bucket clears the weight's hex
    * threshold — the same engine-portable, re-crawl-stable
    * hash-as-uniform trick as [[splitAssignments]] (first two md5 hex
    * chars = 256 uniform buckets compared lexicographically: weight
    * 0.25 keeps buckets < '40', 0.5 < '80', 0.75 < 'c0', 1.0 all).
    * Content-keyed so duplicate texts sample identically; no RNG, so
    * every re-run and every engine agrees. A narrow map + one
    * source-sized aggregation — no corpus shuffle at any scale.
    */
  /** The derived per-source mixture weight INDEX (1..4; weight = idx/4)
    * shared by [[domainResample]] and [[mixturePlan]] — a stand-in for a
    * caller-supplied mixture table, keyed on the source's numeric suffix.
    */
  private def sourceWeightIdx: Column =
    pmod(regexp_extract(col("source"), "(\\d+)$", 1).cast("int"), lit(4)) + 1

  def domainResample(spark: SparkSession, d: String): DataFrame = {
    val w = sourceWeightIdx
    val bucket = substring(md5(col("text").cast("binary")), 1, 2)
    val threshold = element_at(array(lit("40"), lit("80"), lit("c0"), lit("zz")), w)
    Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        (w.cast("double") / 4).as("weight"),
        (col("text").isNotNull && bucket < threshold).as("kept"))
      .groupBy(col("source"), col("weight"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept").cast("long")).as("n_kept"))
      .select(col("source"), col("weight"), col("n_docs"), col("n_kept"))
      .orderBy(col("source"))
  }

  /** Mixture PLANNING (the step before [[domainResample]]'s execution):
    * given per-source mixture weights (the same derived weight table as
    * [[domainResample]] — a stand-in for a caller-supplied mixture
    * config) and a global token budget, compute each source's token
    * allocation and the document sampling rate that hits it. This is
    * the arithmetic a training pipeline runs to turn "mix sources
    * 1:2:3:4" plus "train on N tokens" into concrete per-source rates.
    *
    * Scale shape: one corpus-sized aggregation keyed by source (narrow
    * token-count map feeding a map-side-combined groupBy), then the
    * weight normalization runs over the few SOURCE-level rows (an empty-
    * frame window over source counts, not documents). No corpus-sized
    * second pass at any scale.
    */
  def mixturePlan(spark: SparkSession, d: String,
                  budgetTokens: Long = 500000L): DataFrame =
    mixturePlanDf(Tables.documents(spark, d), budgetTokens)

  /** DataFrame form (docs must have source + text). */
  def mixturePlanDf(docs: DataFrame,
                    budgetTokens: Long = 500000L): DataFrame = {
    val w = sourceWeightIdx.cast("double") / 4
    val perSource = docs
      .select(col("source"), w.as("weight"),
        coalesce(size(graft.ext.TextAnalysis.tokens(col("text"))), lit(0))
          .cast("long").as("n_toks"))
      .groupBy(col("source"), col("weight"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val totalWeight =
      sum(col("weight")).over(org.apache.spark.sql.expressions.Window
        .partitionBy())
    // floor(x + 0.5) / floor(x*1e6 + 0.5) instead of round()/round(_, 6):
    // integer-ratio inputs CAN land on exact decimal ties, where Spark
    // rounds HALF_UP and DuckDB half-even — the recorded cume_dist trap;
    // floor+0.5 is identical in both engines
    perSource
      .withColumn("target_tokens",
        floor(lit(budgetTokens.toDouble) * col("weight") / totalWeight + 0.5)
          .cast("long"))
      // n_tokens = 0 (a source whose docs are all empty/null) would make
      // target/n_tokens NaN or Infinity; least(1.0, NaN) happens to
      // resolve to 1.0 under both engines' NaN total order, but a
      // token-less source has nothing to sample — rate is 0 by intent,
      // not by NaN-ordering parity
      .withColumn("sample_rate",
        when(col("n_tokens") > 0,
          floor(least(lit(1.0),
            col("target_tokens").cast("double") / col("n_tokens").cast("double"))
            * 1e6 + 0.5) / 1e6)
          .otherwise(lit(0.0)))
      .select(col("source"), col("weight"), col("n_docs"), col("n_tokens"),
        col("target_tokens"), col("sample_rate"))
      .orderBy(col("source"))
  }

  /** TEMPERATURE-scaled mixture planning (the multilingual sampling rule
    * of Conneau & Lample 2019 / mT5): source weights derive from token
    * SHARES raised to `tau` and renormalized — tau = 1 reproduces the
    * natural distribution, tau → 0 approaches uniform, the standard
    * knob for keeping low-resource sources visible without letting the
    * biggest source drown the mixture. Same budget→targets→rates
    * arithmetic as [[mixturePlan]], with the weight table COMPUTED from
    * the corpus instead of supplied.
    *
    * Scale shape: identical to [[mixturePlan]] — one corpus-sized
    * token-count aggregation keyed by source, then all weight math runs
    * over source-level rows (empty-frame windows over |sources| rows).
    *
    * FP parity: pow(share, tau) snaps to integer nano-units BEFORE the
    * normalizing sum, so the weight normalization is exact integer
    * arithmetic (the [[graft.ext.TextAnalysis.unigramLogProb]] design;
    * a cross-libm 1-ulp difference in pow itself collapses under the
    * 1e-9 snap except exactly at a tie boundary).
    */
  def mixturePlanTemperature(spark: SparkSession, d: String,
                             budgetTokens: Long = 500000L,
                             tau: Double = 0.5): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau in (0, 1], got $tau")
    val win = org.apache.spark.sql.expressions.Window.partitionBy()
    val perSource = Tables.documents(spark, d)
      .select(col("source"),
        coalesce(size(graft.ext.TextAnalysis.tokens(col("text"))), lit(0))
          .cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    // the division is guarded INSIDE the when (ANSI mode: a 0 divisor
    // throws, it does not return NULL) — an all-zero-token corpus gets
    // share 0, hence npw 0, hence the all-zero plan below
    val share = when(sum(col("n_tokens")).over(win) > 0,
      col("n_tokens").cast("double") /
        sum(col("n_tokens")).over(win).cast("double"))
      .otherwise(lit(0.0))
    val nanoPw = floor(pow(share, lit(tau)) * 1e9 + 0.5).cast("long")
    perSource
      .withColumn("share", round(share, 6))
      .withColumn("npw", nanoPw)
      // degenerate-corpus guard: when EVERY source has zero tokens the
      // normalizing sum is 0/NULL and the divisions would yield
      // NULL/NaN — such a corpus gets an all-zero plan instead
      .withColumn("weight",
        when(sum(col("npw")).over(win) > 0,
          round(col("npw").cast("double") / sum(col("npw")).over(win).cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("target_tokens",
        when(sum(col("npw")).over(win) > 0,
          floor(lit(budgetTokens.toDouble) * col("npw").cast("double") /
            sum(col("npw")).over(win).cast("double") + 0.5).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("sample_rate",
        when(col("n_tokens") > 0,
          floor(least(lit(1.0),
            col("target_tokens").cast("double") / col("n_tokens").cast("double"))
            * 1e6 + 0.5) / 1e6)
          .otherwise(lit(0.0)))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("share"),
        col("weight"), col("target_tokens"), col("sample_rate"))
      .orderBy(col("source"))
  }

  /** Data-constrained REPEAT schedule (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): under a budget of `budgetEpochs`
    * × the corpus's total tokens split by the [[mixturePlan]] weights,
    * compute each source's epoch count and its EFFECTIVE tokens under
    * the paper's diminishing-returns law D′ = U + U·R*·(1 − e^(−R/R*))
    * — U unique tokens, R = epochs − 1 excess repeats, R* = 15 the
    * fitted repeat half-life. `value_frac` (effective / nominal target)
    * is the audit number: a small high-weight source repeating many
    * epochs contributes far fewer effective tokens than its budget
    * share, which is exactly when a pipeline should re-weight or
    * backfill the mixture.
    *
    * Scale shape: identical to [[mixturePlan]] — one corpus-sized
    * map-side-combined token count keyed by source; every epoch/decay
    * term runs over the |sources| rows (empty-frame windows over the
    * source table). FP parity: exp(−R/R*) snaps to integer nano-units
    * before entering the effective-token sum (the
    * [[mixturePlanTemperature]] pow design); every other term is an
    * exact-integer-input IEEE expression written term-for-term in the
    * oracle. The repeat branch only evaluates where target > n_tokens
    * (CaseWhen laziness), so its divisions never see a 0 divisor.
    */
  def repeatSchedule(spark: SparkSession, d: String,
                     budgetEpochs: Int = 2, rStar: Double = 15.0): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window.partitionBy()
    val w = sourceWeightIdx.cast("double") / 4
    val perSource = Tables.documents(spark, d)
      .select(col("source"), w.as("weight"),
        coalesce(size(graft.ext.TextAnalysis.tokens(col("text"))), lit(0))
          .cast("long").as("n_toks"))
      .groupBy(col("source"), col("weight"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val budget =
      sum(col("n_tokens")).over(win).cast("double") * budgetEpochs
    val tw = sum(col("weight")).over(win)
    val ratio =
      col("target_tokens").cast("double") / col("n_tokens").cast("double")
    val nanoDecay =
      floor(exp(-(ratio - 1.0) / rStar) * 1e9 + 0.5).cast("long")
    perSource
      .withColumn("target_tokens",
        floor(budget * col("weight") / tw + 0.5).cast("long"))
      .withColumn("epochs",
        when(col("n_tokens") > 0, floor(ratio * 1e6 + 0.5) / 1e6)
          .otherwise(lit(0.0)))
      .withColumn("eff_tokens",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(when(col("target_tokens") <= col("n_tokens"),
            col("target_tokens"))
            .otherwise(floor(col("n_tokens").cast("double") +
              col("n_tokens").cast("double") * rStar *
                (lit(1e9) - nanoDecay.cast("double")) / 1e9 + 0.5)
              .cast("long"))))
      .withColumn("value_frac",
        when(col("target_tokens") > 0,
          floor(col("eff_tokens").cast("double") /
            col("target_tokens").cast("double") * 1e6 + 0.5) / 1e6)
          .otherwise(lit(0.0)))
      .select(col("source"), col("weight"), col("n_docs"), col("n_tokens"),
        col("target_tokens"), col("epochs"), col("eff_tokens"),
        col("value_frac"))
      .orderBy(col("source"))
  }

  /** The deterministic keep predicate [[mixtureExecute]] audits and the
    * streaming filter applies — requires `text` and `sample_rate`
    * columns in scope: first 6 md5 hex chars of the content compared
    * lexicographically against the rate's hex threshold, rate ≥ 1.0
    * short-circuiting to keep-all (see [[mixtureExecute]] for why the
    * comparison lives in hex-string space).
    */
  private def mixtureKeep: Column = {
    val thr = lpad(lower(hex(floor(col("sample_rate") * lit(16777216.0)).cast("long"))),
      6, "0")
    col("text").isNotNull &&
      (col("sample_rate") >= 1.0 ||
        substring(md5(col("text").cast("binary")), 1, 6) < thr)
  }

  /** Batch form of the streaming mixture filter: the docs a plan KEEPS
    * (doc_id, source, n_toks), content-deterministically — the actual
    * selection step, where [[mixtureExecute]] is its audit. Shared by
    * [[mixtureFilterSink]] so streaming and batch cannot drift.
    */
  def mixtureFilterAgainst(docs: DataFrame, plan: DataFrame): DataFrame =
    docs
      .join(broadcast(plan.select(col("source"), col("sample_rate"))), Seq("source"))
      .filter(mixtureKeep)
      .select(col("doc_id"), col("source"),
        coalesce(size(TextAnalysis.tokens(col("text"))), lit(0))
          .cast("long").as("n_toks"))
      .orderBy(col("doc_id"))

  /** Streaming mixture EXECUTION (foreachBatch stage): freeze the
    * mixture plan computed on the base corpus ONCE (a |sources|-row
    * table — the [[Freeze]] contract; a lazy plan would re-run the
    * base token count every trigger), then pass each arriving
    * micro-batch through the content-hash Bernoulli filter and append
    * the KEPT docs. Because the keep decision is a pure function of
    * (content, plan), per-batch outputs union to the batch result on
    * the same documents, re-runs keep the same docs, and a re-crawled
    * duplicate keeps or drops identically (asserted in StreamingSpec).
    * Release the pinned plan after the stream stops with
    * `Freeze.release(checkpoint)`.
    */
  def mixtureFilterSink(docStream: DataFrame, baseDocs: DataFrame,
                        outPath: String, checkpoint: String,
                        budgetTokens: Long = 500000L, triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozenPlan = Freeze.scoped(checkpoint,
      mixturePlanDf(baseDocs, budgetTokens)
        .select(col("source"), col("sample_rate")))
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      mixtureFilterAgainst(batch, frozenPlan)
    }
  }

  /** Deterministic STRATIFIED sampling: the k documents per source with
    * the smallest content hash — a fixed-size uniform sample per stratum
    * (md5 is uniform over content, engine-portable, re-crawl-stable:
    * the same trick as [[splitAssignments]], here used for ORDER instead
    * of bucketing). The "give me K representative docs per source" step
    * of corpus QA / eval-set construction.
    *
    * Scale shape: computed with [[graft.functions.TopKByKey]], a bounded
    * O(k)-state aggregator — map-side partials reduce every input
    * partition to ≤k rows per source BEFORE the exchange, so the shuffle
    * carries O(k × sources × partitions) regardless of corpus size. The
    * window form (`ROW_NUMBER() OVER (PARTITION BY source ORDER BY
    * hash)`) computes the same answer but must shuffle AND sort every
    * row of the corpus; the oracle holds this plan to that form's
    * semantics (and TopKSampleSpec asserts equality against it).
    */
  def stratifiedSample(spark: SparkSession, d: String, k: Int = 20): DataFrame =
    Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select(col("source"), md5(col("text").cast("binary")).as("h"),
        col("doc_id"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKSample.firstKByKey(col("h"), col("doc_id"), k)
        .as("ids"))
      .select(col("source"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rk"),
        col("doc_id"))
      .orderBy(col("source"), col("rk"))

  /** Corpus SNAPSHOT DIFF: the data-versioning audit between two crawls
    * of the same corpus — per source, how many documents were added,
    * removed, changed (same doc_id, different content hash), or
    * unchanged. A pipeline runs this before re-processing a refreshed
    * crawl: "changed + added" is the increment that needs re-cleaning /
    * re-dedup, "removed" feeds tombstones, and a source whose change
    * rate spikes is the drift alarm.
    *
    * Scale shape: one full-outer join co-partitioned on doc_id (both
    * sides shuffle once on the same key), comparing 16-byte md5 content
    * hashes computed below the join — document text never crosses the
    * exchange; the per-(source, status) rollup is map-side-combined.
    */
  def corpusDiffDf(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    // presence is tracked separately from the content hash: md5(NULL
    // text) is NULL, and classifying on hash nullness would misreport a
    // doc present in both snapshots with NULL text on one side as
    // added/removed. Hash comparison is null-SAFE (<=>), so NULL-text →
    // NULL-text counts as unchanged and NULL-text → text as changed.
    def keyed(df: DataFrame, side: String) =
      df.select(col("doc_id"),
        col("source").as(s"src_$side"),
        md5(col("text").cast("binary")).as(s"h_$side"),
        lit(true).as(s"in_$side"))
    keyed(oldDocs, "old").join(keyed(newDocs, "new"), Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_new"), col("src_old")).as("source"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(col("h_old") <=> col("h_new"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("status"))
  }

  /** Fixture form: synthesizes two deterministic snapshots from the one
    * documents table via content-hash buckets (the [[splitAssignments]]
    * trick) — the OLD snapshot drops docs in buckets >= 'f0' (~6%
    * "added" later), the NEW snapshot drops buckets < '10' (~6%
    * "removed") and rewrites the text of buckets ['10','20') (~6%
    * "changed"). Engine-portable, so the diff is fully oracle-checked.
    */
  def corpusDiff(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d).filter(col("text").isNotNull)
    val bucket = substring(md5(col("text").cast("binary")), 1, 2)
    val oldSnap = docs.filter(bucket < "f0")
    val newSnap = docs.filter(bucket >= "10")
      .withColumn("text",
        when(bucket < "20", concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    corpusDiffDf(oldSnap, newSnap)
  }

  /** Benchmark decontamination: which training documents share exact
    * token n-grams with a held-out evaluation set (the overlap check a
    * training pipeline runs so eval scores aren't inflated by leaked
    * test data — the counterpart of [[splitAssignments]]'s
    * can't-straddle-splits guarantee for data that arrives already
    * split). The fixture has no separate benchmark table, so the eval
    * set is the deterministic doc_id % `evalMod` == `evalRes` slice.
    *
    * Scale shape: the probe set is the eval side's distinct shingles
    * hashed to 8-byte xxhash64 longs — ~10× smaller than the string
    * shingles and O(1)-comparable — and it BROADCASTS only when the
    * eval side is verifiably bounded: one cheap doc_id-column count
    * guards the hint, and an oversized eval set falls back to a
    * shuffled hash join keyed on the hash (documented, still never an
    * n-gram self-join of the corpus against itself). The only shuffle
    * keyed on a training-corpus-sized input is the per-doc hit
    * aggregation, which carries ONLY matched (doc, hash) pairs.
    *
    * Hashing caveat: a train shingle is counted as contaminated iff its
    * 64-bit hash is in the eval hash set, so a hash collision could
    * overcount by one. At 2^64 hash space that needs ~10^9 distinct
    * shingles per side for a ~3% chance of ONE extra count anywhere —
    * acceptable for a stats query (run a string-equality confirm pass
    * over the flagged docs if exactness ever matters).
    *
    * Output: one row per contaminated training doc — its distinct
    * shingle count, how many shingles are shared with the eval set,
    * and the contamination ratio.
    */
  def decontaminationStats(spark: SparkSession, d: String, n: Int = 5,
                           evalMod: Int = 20, evalRes: Int = 7): DataFrame =
    decontaminationStatsDf(Tables.documents(spark, d), n, evalMod, evalRes)

  /** DataFrame form (docs must have doc_id + text).
    *
    * `maxBroadcastEvalBytes` bounds the broadcast decision LAZILY: the
    * eval slice's source size is estimated off the ANALYZED logical
    * plan (`stats.sizeInBytes / evalMod` — file size for a parquet
    * scan, same zero-job technique as [[graft.Tables.fanOut]]), so
    * BUILDING this DataFrame launches no Spark job. Unknown statistics
    * surface as `defaultSizeInBytes` (≈ Long.MaxValue), which fails
    * the guard and falls to the safe (shuffled) side. The probe set
    * is distinct 8-byte xxhash64 shingle hashes, ~1.3 hashes per 6
    * source bytes plus HashedRelation overhead, so the default 256 MiB
    * source-byte bound keeps the broadcast comfortably under 1 GiB.
    *
    * Why the broadcast path scans the documents source twice: the eval
    * and train branches shingle DISJOINT doc sets, so no shingling
    * compute is duplicated — only the pruned (doc_id, text) column
    * read. Fusing the branches into one scan would require either
    * caching the exploded shingle stream (memory/disk proportional to
    * the corpus — the exploded stream is ~10× the compressed text
    * column) or shuffling the full train shingle stream, which the
    * broadcast path otherwise avoids entirely (only MATCHED pairs
    * reach its aggregation shuffle). At sf0.1 the two paths measure
    * within noise of each other (1.25 vs 1.13 s — the data is too
    * small for shuffle volume to matter); the broadcast path wins on I/O
    * volume at scale: re-reading the compressed text column once
    * costs ~the text's parquet footprint, while shuffling the
    * exploded hash stream costs ~24 bytes × every shingle in the
    * corpus — several times the compressed text (see SURVEY §8).
    *
    * The OVERSIZED-eval fallback, which must shuffle the train stream
    * anyway, IS fused into a single pass: shingle all docs once with
    * an is_eval flag, one shuffle keyed on sh_hash with eval rows
    * sorted first within each hash group, then an O(1)-state
    * sort-based semi-join walk (a hash group's head row tells whether
    * the eval side holds that shingle). One scan, one corpus-sized
    * shuffle, no per-key buffering — strictly less I/O than a
    * shuffled hash join of two separately-scanned branches.
    *
    * When the eval set is oversized AND the corpus-sized shuffle is the
    * bottleneck (the usual case when contamination is sparse), prefer
    * [[decontaminationStatsBloom]]: identical results, fixed-size
    * sketch instead of a broadcast, and only sketch survivors reach an
    * exchange. This fallback remains the right shape when a large
    * fraction of train shingles would survive any prefilter (near-total
    * contamination) — then the shuffle is unavoidable and one fused
    * pass beats sketch-then-join.
    */
  def decontaminationStatsDf(docs: DataFrame, n: Int = 5,
                             evalMod: Int = 20, evalRes: Int = 7,
                             maxBroadcastEvalBytes: Long = 256L << 20): DataFrame = {
    val isEval = col("doc_id") % evalMod === evalRes
    val evalBytesEst = docs.queryExecution.analyzed.stats.sizeInBytes / evalMod
    decontaminationStatsFlagged(
      Tables.fanOut(docs).filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"), isEval.as("is_eval")),
      n, evalBytesEst, maxBroadcastEvalBytes)
  }

  /** Decontamination of an explicit training set against an explicit
    * eval/benchmark set (the production shape — benchmarks usually
    * arrive as their own table, not as an id-slice of the corpus).
    * Same guard, same two execution paths as [[decontaminationStatsDf]];
    * the eval size estimate is the eval side's own plan statistics.
    */
  def decontaminationStatsAgainst(train: DataFrame, evalDocs: DataFrame,
                                  n: Int = 5,
                                  maxBroadcastEvalBytes: Long = 256L << 20): DataFrame = {
    val evalBytesEst = evalDocs.queryExecution.analyzed.stats.sizeInBytes
    val flagged = Tables.fanOut(train).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), lit(false).as("is_eval"))
      .unionByName(evalDocs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"), lit(true).as("is_eval")))
    decontaminationStatsFlagged(flagged, n, evalBytesEst, maxBroadcastEvalBytes)
  }

  /** Streaming decontamination (foreachBatch stage): each micro-batch of
    * training documents is checked against the STATIC eval set and its
    * per-doc contamination rows append to `outPath` tagged with the
    * batch id. Per-doc results depend only on that doc and the eval
    * set, so the union of per-batch outputs equals the batch-mode
    * result on the same documents — the batch/streaming symmetry the
    * other corpus operators have (asserted in StreamingSpec).
    */
  def decontaminationSink(trainStream: DataFrame, evalDocs: DataFrame,
                          outPath: String, checkpoint: String, n: Int = 5,
                          maxBroadcastEvalBytes: Long = 256L << 20,
                          triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // freeze the eval docs NOW so every trigger checks the same static
    // eval set instead of re-reading its source (same contract as
    // Cleaning.spanDedupSink / TextAnalysis.backoffScoreSink)
    val frozen = Freeze.scoped(checkpoint, evalDocs)
    Freeze.sink(trainStream, outPath, checkpoint, triggerMs) { batch =>
      decontaminationStatsAgainst(batch, frozen, n, maxBroadcastEvalBytes)
    }
  }

  /** Distinct shingle HASHES per doc in one kernel pass — shingle
    * strings are never materialized as columns (they'd only be hashed
    * and discarded); see Dedup.shingleHashesUdf for the value chain.
    */
  private def shingleHashCol(c: Column, n: Int): Column =
    Dedup.shingleHashes(split(trim(c), "\\s+"), n)

  /** Shared tail: contaminated (doc_id, n_shingles) hit pairs → the
    * per-doc contamination report all three execution paths emit.
    */
  private def contaminationRollup(hits: DataFrame): DataFrame =
    hits
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6)
          .as("contamination"))
      .orderBy(col("doc_id"))

  /** Shared core over a (doc_id, text, is_eval) frame. Broadcast path
    * when the eval estimate fits the bound, one-pass fused path
    * otherwise (see [[decontaminationStatsDf]]'s scaladoc for the
    * two-scan-vs-one-shuffle trade). For the mod-slice form the
    * is_eval filter folds back into the scan; for the union form it
    * prunes the contradicting union branch — either way each branch of
    * the broadcast path shingles only its own side.
    */
  private def decontaminationStatsFlagged(flagged: DataFrame, n: Int,
                                          evalBytesEst: BigInt,
                                          maxBroadcastEvalBytes: Long): DataFrame = {
    def shingles(c: Column): Column = shingleHashCol(c, n)
    // branch filters sit BELOW the kernel projection (each side shingles
    // only its own slice): the kernel UDF is nondeterministic-marked, so
    // a filter above it would NOT push down and the eval branch would
    // shingle the whole corpus
    val hits =
      if (evalBytesEst <= BigInt(maxBroadcastEvalBytes)) {
        val evalHashes = flagged.filter(col("is_eval"))
          .select(shingles(col("text")).as("shh"))
          .select(explode(col("shh")).as("sh_hash")).distinct()
        val trainHashes = flagged.filter(!col("is_eval"))
          .select(col("doc_id"), shingles(col("text")).as("shh"))
          .select(col("doc_id"), size(col("shh")).cast("long").as("n_shingles"),
            explode(col("shh")).as("sh_hash"))
        trainHashes.join(broadcast(evalHashes), "sh_hash")
          .select(col("doc_id"), col("n_shingles"))
      } else decontaminationHitsOnePass(flagged, shingles)
    contaminationRollup(hits)
  }

  /** Bloom-prefiltered decontamination — the THIRD execution shape,
    * for the regime where BOTH existing paths hurt: the eval set is too
    * large to broadcast (so the guarded broadcast path is off the
    * table) and the training corpus is so large that the one-pass
    * fallback's corpus-sized shingle shuffle (~24 bytes × every shingle
    * in 100 TB of text) dominates the job.
    *
    * Shape: a Bloom filter over the eval side's shingle hashes is built
    * DISTRIBUTED in a scalar subquery (fixed `numBits` payload — 1 MiB
    * at the default, Spark's own runtime-filter sizing; size `numBits`
    * up with the eval shingle count, ~8+ bits per distinct shingle);
    * the training shingle stream is filtered by `might_contain` inside
    * whole-stage codegen BEFORE any exchange, and only survivors (true
    * hits + the sketch's false positives, ~2 % at 8 bits/item) reach
    * the exact hash join that kills the false positives. The exact
    * join's exchange therefore
    * carries survivors + the eval hash set instead of the whole corpus.
    * No false negatives exist, so the result is IDENTICAL to the other
    * two paths (asserted in CorpusSpec, including under a deliberately
    * undersized sketch where most probes are false positives).
    *
    * Building this DataFrame launches zero Spark jobs (the sketch lives
    * in the plan as a subquery, not a pre-collected literal).
    */
  def decontaminationStatsBloom(spark: SparkSession, d: String, n: Int = 5,
                                evalMod: Int = 20, evalRes: Int = 7,
                                expectedShingles: Long = 1L << 20,
                                numBits: Long = 1L << 23): DataFrame =
    decontaminationStatsBloomDf(Tables.documents(spark, d), n, evalMod, evalRes,
      expectedShingles, numBits)

  /** DataFrame form (docs must have doc_id + text) — same builder-
    * laziness contract as [[decontaminationStatsDf]].
    */
  def decontaminationStatsBloomDf(docs: DataFrame, n: Int = 5,
                                  evalMod: Int = 20, evalRes: Int = 7,
                                  expectedShingles: Long = 1L << 20,
                                  numBits: Long = 1L << 23): DataFrame = {
    val isEval = col("doc_id") % evalMod === evalRes
    val flagged = Tables.fanOut(docs)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), isEval.as("is_eval"))
    // eval shingle hashes, once for the sketch and once (distinct) for
    // the exact recheck — two scans of the SMALL side, mirroring the
    // broadcast path's documented two-scan trade
    def evalHashes = flagged.filter(col("is_eval"))
      .select(shingleHashCol(col("text"), n).as("shh"))
      .select(explode(col("shh")).as("sh_hash"))
    val bloom = graft.functions.BloomPrefilter.bloomOf(
      evalHashes, col("sh_hash"), expectedShingles, numBits)
    val trainHashes = flagged.filter(!col("is_eval"))
      .select(col("doc_id"), shingleHashCol(col("text"), n).as("shh"))
      .select(col("doc_id"), size(col("shh")).cast("long").as("n_shingles"),
        explode(col("shh")).as("sh_hash"))
    // raw mightContain (no NULL-coalesce, unlike bloomAntiJoin): an
    // EMPTY eval slice makes the sketch NULL and the filter drop every
    // train row — which IS the exact answer (no eval, no contamination)
    val survivors = trainHashes.filter(
      graft.functions.BloomPrefilter.mightContain(bloom, col("sh_hash")))
    contaminationRollup(
      survivors.join(evalHashes.distinct(), "sh_hash")
        .select(col("doc_id"), col("n_shingles")))
  }

  /** Single-pass contaminated (doc_id, n_shingles) pairs for the
    * oversized-eval path: every (doc, shingle-hash, is_eval) row goes
    * through ONE shuffle partitioned on the hash and sorted so eval
    * rows lead their hash group; a mapPartitions walk then emits a
    * train row iff its group's head row was eval. Per-task state is
    * one (hash, flag) pair — no hash table, no frame buffering, no
    * skew sensitivity (a hot shingle streams through in sorted order).
    */
  private def decontaminationHitsOnePass(flagged: DataFrame,
                                         shingles: Column => Column): DataFrame = {
    val spark = flagged.sparkSession
    import spark.implicits._
    flagged
      .select(col("doc_id"), col("is_eval"), shingles(col("text")).as("shh"))
      .select(col("doc_id"), col("is_eval"),
        size(col("shh")).cast("long").as("n_shingles"),
        explode(col("shh")).as("sh_hash"))
      .repartition(col("sh_hash"))
      .sortWithinPartitions(col("sh_hash"), col("is_eval").desc)
      .as[(Long, Boolean, Long, Long)]
      .mapPartitions { it =>
        var curHash = 0L
        var curEval = false
        var first = true
        it.flatMap { case (docId, isEv, nSh, h) =>
          if (first || h != curHash) { curHash = h; curEval = isEv; first = false }
          if (!isEv && curEval) Iterator.single((docId, nSh)) else Iterator.empty
        }
      }
      .toDF("doc_id", "n_shingles")
  }

  // ------------------------------------------------------------------ DSIR

  /** Number of hashed-n-gram feature buckets for [[dsirWeights]]: the
    * first 3 hex chars of md5(bigram) give 4096 uniform buckets. md5
    * (not xxhash64) because the bucket id must be computable by the
    * DuckDB oracle from the same strings — any uniform hash works for
    * the method itself (Xie et al. 2023 use a 10k-bucket hash; the
    * bucket count only sets the feature resolution, and a production
    * caller would widen to 4 hex chars / 65536 buckets the same way).
    */
  private val DsirBuckets = 4096

  /** Hashed-bigram bucket ids of a token array (one per bigram
    * OCCURRENCE — DSIR features are bag-of-n-gram counts, not sets).
    * sequence(1, 0) would generate a DESCENDING [1, 0] — one-token docs
    * are guarded to an explicit empty array.
    */
  private def bigramBuckets(t: Column): Column =
    when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => substring(md5(concat(element_at(t, i), lit(" "), element_at(t, i + 1))), 1, 3)))
      .otherwise(array().cast("array<string>"))

  /** The DSIR target slice: the `doc_id % 20 = 7` eval-slice
    * convention of [[decontaminationStats]] (a stand-in for a
    * caller-supplied target corpus) — the oracle's predicate.
    */
  private[graft] val DsirTarget: Column = col("doc_id") % 20 === 7

  /** Per-bucket (bkt, ct, cr) occurrence counts of a corpus: one corpus
    * pass counts each bucket's occurrences on the [[DsirTarget]] slice
    * and the raw slice simultaneously (conditional sums under one
    * groupBy — two separate passes would scan the corpus twice for the
    * same ≤[[DsirBuckets]]-row result).
    *
    * Scale shape: the gram stream aggregates by bucket id with map-side
    * combine — at most [[DsirBuckets]] rows reach the exchange per
    * partition.
    */
  private[graft] def dsirBucketCounts(docs: DataFrame): DataFrame =
    Tables.fanOut(docs).filter(col("text").isNotNull)
      .select(DsirTarget.as("is_target"),
        explode(bigramBuckets(TextAnalysis.tokens(col("text")))).as("bkt"))
      .groupBy(col("bkt"))
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("is_target"), 0L).otherwise(1L)).as("cr"))

  /** Per-bucket importance table for DSIR over MATERIALIZED
    * [[dsirBucketCounts]] (checkpointed or frozen by the caller — they
    * are read twice): the add-1-smoothed log-likelihood ratio
    * ln θ_target(b) − ln θ_raw(b) snaps each term to integer micro-nats
    * (the [[graft.ext.TextAnalysis.unigramLogProb]] FP discipline) so
    * downstream per-doc sums are exact BIGINT math. The totals ride a
    * broadcast 1-row aggregate over the ≤ DsirBuckets-row counts
    * instead of an unpartitioned full-frame window — same values (an
    * ORDER-free sum over every row), no "No Partition Defined"
    * single-partition WindowExec, and the materialized counts make the
    * single evaluation of the corpus-sized count aggregate structural.
    */
  def dsirDeltaTable(cts: DataFrame): DataFrame = {
    val tot = cts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    cts.crossJoin(broadcast(tot))
      .select(col("bkt"),
        (floor(log((col("ct") + 1).cast("double") / (col("tt") + lit(DsirBuckets))) * 1e6 + 0.5)
          .cast("long") -
          floor(log((col("cr") + 1).cast("double") / (col("tr") + lit(DsirBuckets))) * 1e6 + 0.5)
            .cast("long")).as("dm"))
  }

  /** The session CDC chunk-keeper set of the %4 base slice —
    * parameter-free given (session, dir), rebuilt per run by
    * q_cdc_incremental AND q_ingest_gate before r20 (the
    * [[Dedup.sessionBaseBandIndex]] family). Keyed on chunk_md5, the
    * containment probe's join key; ArtifactStore-backed, sidecar-
    * billed, cold-cleared.
    */
  private[ext] val sessionBaseChunkKeepers =
    SessionArtifact.frame("base_chunk_keepers", Pin.KeyedBy("chunk_md5")) {
      (spark, d) => keeperChunkFingerprints(Dedup.baseSlice(spark, d))
    }

  /** The session DSIR weight table (unordered) — parameter-free given
    * the corpus (the fixed [[DsirTarget]] slice), and consumed whole by
    * TWO registered queries: q_dsir_weights reads it sorted,
    * q_dsir_select re-ran the entire two-pass build (delta table +
    * scoring explode) per run just to keep its top-k. One build per
    * session, billed to the `artifact_builds` sidecar;
    * ArtifactStore-backed; ~|pool| rows × 4 BIGINT columns pinned per
    * (session, dir). The build's bucket-count checkpoint is released
    * once the pinned copy materializes.
    */
  private[ext] val sessionDsirWeights =
    SessionArtifact.frameWithScratch("dsir_weights", Pin.Checkpoint) { (spark, d) =>
      val (weights, cts) = dsirWeightsOf(Tables.documents(spark, d))
      (weights, Seq(cts))
    }

  /** DSIR importance weights (Data Selection via Importance Resampling,
    * Xie et al. 2023): score every RAW document by how much more likely
    * its hashed-bigram features are under the TARGET slice's bucket
    * unigram model than under the raw corpus's — the standard
    * cheap-feature proxy for "select raw data that looks like the
    * high-quality target". The target slice here is the same
    * `doc_id % 20 = 7` convention as [[decontaminationStats]]'s eval
    * slice ([[DsirTarget]], a stand-in for a caller-supplied target
    * corpus).
    *
    * Output per raw doc: gram count, the exact micro-nat LLR sum, and a
    * length-normalized per-gram average in nano-nats (raw sums reward
    * length; selection ranks on the average). The average divides two
    * exact integers in IEEE double (correctly rounded, so engine-exact)
    * and floor(x·1000 + 0.5)-snaps — `round()` would hit the
    * HALF_UP/half-even divergence on exact ties.
    *
    * Scale shape: one corpus pass builds the ≤[[DsirBuckets]]-row delta
    * table ([[dsirDeltaTable]]), a second pass scores — explode bigram
    * buckets, broadcast-join the bucket table, aggregate by doc_id with
    * map-side combine. Every scored gram's bucket exists in the table
    * (raw grams counted there by construction), so the join is inner
    * with no OOV branch; the streaming form [[dsirScoreAgainst]] adds
    * the OOV constant for unseen-bucket arrivals.
    */
  def dsirWeights(spark: SparkSession, d: String): DataFrame =
    sessionDsirWeights(spark, d).orderBy(col("doc_id"))

  /** The (unordered) DSIR weight table of a corpus frame, with the
    * lazily checkpointed [[dsirBucketCounts]] it reads — the build of
    * [[sessionDsirWeights]]. The caller releases the checkpoint once
    * the weights are materialized.
    */
  private[graft] def dsirWeightsOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val cts = dsirBucketCounts(docs).localCheckpoint(false)
    (org.apache.spark.sql.GraftSql.unordered(scoreBuckets(
      Tables.fanOut(docs).filter(col("text").isNotNull).filter(!DsirTarget),
      broadcast(dsirDeltaTable(cts)), oovDm = None)), cts)
  }

  /** Shared scoring tail: explode bigram buckets, join the delta table,
    * aggregate exact integer sums per doc. `oovDm` (streaming only)
    * scores buckets absent from the table via a left join + coalesce.
    */
  private def scoreBuckets(docs: DataFrame, delta: DataFrame,
                           oovDm: Option[Long]): DataFrame = {
    val grams = docs
      .select(col("doc_id"), explode(bigramBuckets(TextAnalysis.tokens(col("text")))).as("bkt"))
    val joined = oovDm match {
      case None => grams.join(delta, Seq("bkt"))
      case Some(c) => grams.join(delta, Seq("bkt"), "left")
        .withColumn("dm", coalesce(col("dm"), lit(c)))
    }
    joined
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("dm")).as("llr_micro"))
      .withColumn("avg_llr_nano",
        floor(col("llr_micro").cast("double") * 1000.0 / col("n_grams") + 0.5).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** DSIR selection: the top-k raw documents by length-normalized
    * importance weight (ties broken by doc_id, so the selection is
    * engine-exact given [[dsirWeights]]'s integer snap). The paper's
    * Gumbel-top-k resampling adds sampling noise for diversity; the
    * deterministic top-k is the reproducible variant (and the noisy one
    * is a seeded-hash perturbation away from this plan).
    *
    * Scale shape: global top-k over the weight table —
    * TakeOrderedAndProject (per-partition heaps merged on the driver,
    * k·partitions rows of driver traffic), never a full sort; the rank
    * window then runs over k rows.
    */
  def dsirSelect(spark: SparkSession, d: String, k: Int = 100): DataFrame = {
    // top-k over the session weight table (the presentation sort of
    // dsirWeights is irrelevant under limit's own ordering)
    val top = sessionDsirWeights(spark, d)
      .orderBy(col("avg_llr_nano").desc, col("doc_id"))
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_llr_nano").desc, col("doc_id"))
    top.withColumn("rk", row_number().over(w).cast("int"))
      .select(col("rk"), col("doc_id"), col("n_grams"), col("llr_micro"), col("avg_llr_nano"))
      .orderBy(col("rk"))
  }

  /** DSIR scoring against a PRE-BUILT delta table (the streaming stage):
    * arrivals may contain buckets the base corpus never saw — those
    * score the OOV constant ln(1/(T_t+B)) − ln(1/(T_r+B)) the caller
    * derives from the base totals. Per-doc results depend only on the
    * doc and the frozen table, so per-batch outputs union to the batch
    * result on the same documents (asserted in StreamingSpec).
    */
  def dsirScoreAgainst(docs: DataFrame, delta: DataFrame, oovDm: Long): DataFrame =
    scoreBuckets(docs.filter(col("text").isNotNull), delta, Some(oovDm))

  /** Streaming DSIR scoring (foreachBatch stage): freeze the base
    * corpus's delta table and OOV constant once, then score each
    * micro-batch against them ([[Freeze]] contract — a lazy table would
    * re-run the whole base pipeline every trigger).
    */
  def dsirScoreSink(docStream: DataFrame, baseDocs: DataFrame,
                    outPath: String, checkpoint: String,
                    triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // the bucket counts are frozen in the sink's scope beside the delta
    // table, so Freeze.release(checkpoint) drops both
    val counts = Freeze.scoped(checkpoint, dsirBucketCounts(baseDocs))
    val frozen = Freeze.scoped(checkpoint, dsirDeltaTable(counts))
    // OOV constant from the base totals: ct = cr = 0 in the delta
    // formula. One bounded collect (2 scalars) at sink-construction time.
    val tot = counts.agg(sum(col("ct")), sum(col("cr"))).collect()(0)
    // an empty base corpus makes both SUMs null — fail with the
    // backoffScoreAgainst discipline instead of an opaque NPE below
    require(!tot.isNullAt(0) && !tot.isNullAt(1),
      "dsirScoreSink: empty base corpus — the DSIR delta table and OOV " +
        "constant need at least one non-null-text base document")
    def snapLn(total: Long): Long =
      math.floor(math.log(1.0 / (total + DsirBuckets)) * 1e6 + 0.5).toLong
    val oov = snapLn(tot.getLong(0)) - snapLn(tot.getLong(1))
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      dsirScoreAgainst(batch, frozen, oov)
    }
  }

  // ------------------------------------------------- mixture EXECUTION

  /** EXECUTE a [[mixturePlan]]: apply each source's computed sample_rate
    * as a deterministic content-hash Bernoulli filter (first 6 hex
    * chars of md5(text) compared against the rate's hex threshold —
    * [[domainResample]]'s mechanism generalized from fixed thresholds
    * to arbitrary rates at 1/16⁶ granularity) and report the achieved
    * tokens against the plan's targets. This is the step a pipeline
    * runs after planning: the plan says "sample source X at rate r",
    * the execution does it RNG-free (same doc kept across re-runs and
    * re-partitions) and audits how close the realized token count
    * landed.
    *
    * The threshold is built in hex-string space (lpad(hex(floor(r·16⁶))))
    * so the comparison is lexicographic on lowercase hex in both
    * engines — no hex→int conversion, which DuckDB and Spark spell
    * differently. rate ≥ 1.0 short-circuits to keep-all (its 7-char hex
    * threshold would otherwise be TRUNCATED by lpad to "100000" and
    * drop ~94% of the source).
    *
    * Scale shape: the plan is a |sources|-row table — broadcast onto
    * the corpus scan; keep/count is a narrow map feeding one map-side-
    * combined aggregation keyed by source. One corpus pass beyond the
    * plan's own token count.
    */
  def mixtureExecute(spark: SparkSession, d: String,
                     budgetTokens: Long = 500000L): DataFrame = {
    val plan = mixturePlan(spark, d, budgetTokens)
      .select(col("source"), col("target_tokens"), col("sample_rate"))
    Tables.documents(spark, d)
      .join(broadcast(plan), Seq("source"))
      .select(col("source"), col("target_tokens"),
        mixtureKeep.as("kept"),
        coalesce(size(TextAnalysis.tokens(col("text"))), lit(0))
          .cast("long").as("n_toks"))
      .groupBy(col("source"), col("target_tokens"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept").cast("long")).as("n_kept"),
        sum(when(col("kept"), col("n_toks")).otherwise(0L)).as("achieved_tokens"))
      .withColumn("achieved_ratio",
        when(col("target_tokens") > 0,
          floor(col("achieved_tokens").cast("double") /
            col("target_tokens").cast("double") * 1e6 + 0.5) / 1e6)
          .otherwise(lit(0.0)))
      .select(col("source"), col("target_tokens"), col("n_docs"), col("n_kept"),
        col("achieved_tokens"), col("achieved_ratio"))
      .orderBy(col("source"))
  }

  /** TOKEN-BUDGET-constrained selection: keep the highest-quality
    * documents whose cumulative token count fits a global budget — the
    * "best data under a compute budget" election every budgeted
    * pretraining run makes (data-constrained scaling, Muennighoff et
    * al. 2023; FineWeb keeps top quality classes until the target
    * token count). Budget here = half the corpus's tokens; the knob is
    * the operator, not the constant.
    *
    * Selection is by QUALITY CLASS, not by per-doc rank: documents
    * group by their 6-dp [[TextAnalysis.qualityScoreCol]]; classes are
    * taken best-first while the cumulative token count of STRICTLY
    * better classes stays under budget, so the boundary class is
    * included whole (overshoot bounded by one class). That rule is
    * what makes the election scale-sane — a per-doc greedy cumsum
    * would need a corpus-sized single-partition running total, while
    * the class rule needs only a cumsum over the ≤1e6-row score
    * HISTOGRAM (the [[TextAnalysis.qualityAuc]] discipline) reduced to
    * ONE scalar threshold, and it is tie-stable by construction (equal
    * scores share a fate; no doc_id tiebreak can reorder a re-crawl).
    *
    * Scale shape: two corpus passes (histogram build + verdict
    * projection — recomputing the narrow kernel beats caching a 100 TB
    * projection), a single-partition window over the histogram ONLY,
    * and a 1-row broadcast threshold onto the second pass. The kept
    * test is pure BIGINT (2·cum < total), so no FP boundary exists for
    * the oracle to disagree on.
    */
  def tokenBudgetSelect(spark: SparkSession, d: String): DataFrame =
    tokenBudgetSelectDf(Tables.fanOut(Tables.documents(spark, d)))

  /** DataFrame form (docs must have doc_id + text); see
    * [[tokenBudgetSelect]].
    */
  def tokenBudgetSelectDf(docs: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
    val scored = docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        TextAnalysis.qualityScoreCol.as("quality"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val hist = scored.groupBy(col("quality"))
      .agg(sum(col("n_tokens")).as("ct"))
    val prevBetter = win.orderBy(col("quality").desc)
      .rowsBetween(Long.MinValue, -1)
    val thr = hist
      .withColumn("cb", coalesce(sum(col("ct")).over(prevBetter), lit(0L)))
      .withColumn("total", sum(col("ct")).over(win.partitionBy()))
      .filter(col("cb") * 2 < col("total"))
      .agg(min(col("quality")).as("qthr"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        (col("quality") >= col("qthr")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** UNIMAX language sampling (Chung et al., ICLR 2023): allocate a
    * total token budget across languages as UNIFORMLY as possible,
    * subject to a per-language epoch cap C — the fairer alternative to
    * temperature scaling ([[mixturePlanTemperature]]) that never
    * repeats a low-resource language beyond C epochs. The paper's
    * algorithm walks languages by ascending token count, granting each
    * min(C·n_l, remaining/langs_remaining); this implementation uses
    * the CLOSED FORM that walk induces: once a language's cap exceeds
    * its uniform share, so does every larger language's (the uniform
    * share is invariant across uncapped grants), so the capped set is
    * a PREFIX of the ascending order, and the crossover test
    * t_l = C·n_l·(L−l+1) + C·Σ_{j<l} n_j < B is monotone in l — both
    * facts proved by the algebra in UniMaxSpec's brute-force parity
    * test. Everything becomes window sums over the per-language
    * aggregate; no driver-side loop, no recursion.
    *
    * Budget = floor(7/4 of the corpus's tokens) with C = 2: sized so
    * real corpora exercise BOTH regimes (small languages capped at 2
    * epochs, the head language absorbing the remainder). The capped
    * test and allocations are exact BIGINT; only the uniform share and
    * the epochs ratio touch doubles, both micro-snapped (7·total stays
    * under 2^53 — the [[repeatSchedule]] exactness note).
    *
    * Scale shape: one corpus-sized map-side-combined aggregation keyed
    * by lang; every window after that runs over the |languages|-row
    * table (the [[mixturePlanDf]] precedent).
    */
  def unimaxMixture(spark: SparkSession, d: String, epochCap: Int = 2): DataFrame =
    // no fanOut: one regex split per doc is too light to pay a text
    // round-robin for (measured 0.33 → 0.49 s with it)
    unimaxMixtureDf(Tables.documents(spark, d), epochCap)

  /** DataFrame form (docs must have lang + text); see [[unimaxMixture]]. */
  def unimaxMixtureDf(docs: DataFrame, epochCap: Int): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
    val all = win.partitionBy()
    val asc = win.orderBy(col("n_tokens"), col("lang"))
    val c = lit(epochCap.toLong)
    val perLang = docs
      .select(col("lang"),
        coalesce(size(TextAnalysis.tokens(col("text"))), lit(0))
          .cast("long").as("n_toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val staged = perLang
      .withColumn("total", sum(col("n_tokens")).over(all))
      .withColumn("n_langs", count(lit(1)).over(all))
      .withColumn("i", row_number().over(asc).cast("long"))
      .withColumn("s_prev",
        coalesce(sum(col("n_tokens")).over(asc.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("budget", floor(lit(7.0) * col("total") / 4).cast("long"))
      .withColumn("capped",
        c * col("n_tokens") * (col("n_langs") - col("i") + 1) + c * col("s_prev")
          < col("budget"))
    staged
      .withColumn("s_capped",
        sum(when(col("capped"), col("n_tokens")).otherwise(0L)).over(all))
      .withColumn("k_capped",
        sum(when(col("capped"), 1L).otherwise(0L)).over(all))
      // the uncapped branch's divisor n_langs − k_capped is ≥ 1 exactly
      // because an uncapped row exists (CASE evaluates lazily per row in
      // both engines, so the all-capped corpus never divides)
      .withColumn("target_tokens",
        when(col("capped"), c * col("n_tokens"))
          .otherwise(floor((col("budget") - c * col("s_capped")).cast("double")
            / (col("n_langs") - col("k_capped")).cast("double") + 0.5).cast("long")))
      .withColumn("epochs",
        when(col("n_tokens") > 0,
          floor(col("target_tokens").cast("double") / col("n_tokens").cast("double")
            * 1e6 + 0.5) / 1e6)
          .otherwise(lit(0.0)))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("capped"),
        col("target_tokens"), col("epochs"))
      .orderBy(col("lang"))
  }

  /** UNIMAX execution audit: the repeat-aware realization of
    * [[unimaxMixture]] — a language allocated e epochs contributes each
    * document floor(e) whole copies plus one more with content-hash
    * probability frac(e) (the [[mixtureKeep]] hex discipline applied to
    * the fractional epoch; null-text documents contribute nothing).
    * The audit reports how close the realized token count lands to
    * target_tokens — exact for the whole-copy part, Bernoulli for the
    * fraction. Copy counts are content-deterministic, so re-runs,
    * retries and re-crawled duplicates repeat identically.
    *
    * Scale shape: the |languages|-row plan broadcasts onto one corpus
    * pass; copies are per-doc arithmetic feeding one map-side-combined
    * aggregation keyed by lang (the [[mixtureExecute]] shape plus a
    * multiply).
    */
  def unimaxExecute(spark: SparkSession, d: String, epochCap: Int = 2): DataFrame = {
    val docs = Tables.documents(spark, d)
    val plan = unimaxMixtureDf(docs, epochCap)
      .select(col("lang"), col("target_tokens"), col("epochs"))
    val fullCopies = floor(col("epochs")).cast("long")
    val frac = col("epochs") - floor(col("epochs"))
    val thr = lpad(lower(hex(floor(frac * lit(16777216.0)).cast("long"))), 6, "0")
    val copies = when(col("text").isNull, 0L)
      .otherwise(fullCopies + when(
        substring(md5(col("text").cast("binary")), 1, 6) < thr, 1L).otherwise(0L))
    Tables.fanOut(docs).join(broadcast(plan), Seq("lang"))
      .select(col("lang"), col("target_tokens"), copies.as("copies"),
        coalesce(size(TextAnalysis.tokens(col("text"))), lit(0))
          .cast("long").as("n_toks"))
      .groupBy(col("lang"), col("target_tokens"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("copies")).as("n_copies"),
        sum(col("copies") * col("n_toks")).as("achieved_tokens"))
      .withColumn("achieved_ratio",
        when(col("target_tokens") > 0,
          floor(col("achieved_tokens").cast("double") /
            col("target_tokens").cast("double") * 1e6 + 0.5) / 1e6)
          .otherwise(lit(0.0)))
      .select(col("lang"), col("target_tokens"), col("n_docs"), col("n_copies"),
        col("achieved_tokens"), col("achieved_ratio"))
      .orderBy(col("lang"))
  }

  /** Sliding-window document CHUNKING: split every document into
    * fixed-size token windows with overlap — the retrieval/embedding
    * prep step (a context-bounded encoder reads chunks, and overlap
    * keeps boundary sentences visible to at least one chunk). Chunk
    * size 64 tokens, stride 48 (16-token overlap); a document of n
    * tokens yields 1 + ceil((n − 64)/48) chunks, the last one short,
    * every token covered by construction. Each chunk is emitted as its
    * position plus an md5 fingerprint of the space-joined token slice
    * — the identity a chunk-level dedup or index joins on — rather
    * than the chunk text itself (corpus-sized output stays narrow).
    *
    * Scale shape: a pure narrow generate — tokenize, one explode over
    * the per-doc chunk count, slice + hash per chunk; no shuffle
    * anywhere but the presentation sort (plan-pinned). The chunk count
    * arithmetic is exact integer math on both engines.
    */
  def docChunks(spark: SparkSession, d: String,
                chunk: Int = 64, stride: Int = 48): DataFrame =
    docChunksDf(Tables.fanOut(Tables.documents(spark, d)), chunk, stride)

  /** DataFrame form (docs must have doc_id + text); see [[docChunks]]. */
  def docChunksDf(docs: DataFrame, chunk: Int, stride: Int): DataFrame = {
    require(chunk > 0 && stride > 0 && stride <= chunk,
      s"need 0 < stride <= chunk, got chunk=$chunk stride=$stride")
    val t = TextAnalysis.tokens(col("text"))
    val nChunks = when(col("n") <= chunk, lit(1L))
      .otherwise(floor((col("n") - chunk + (stride - 1)).cast("double") / stride)
        .cast("long") + 1)
    // fingerprint inside the array domain, explode finished structs —
    // the cdcChunksDf spill-cliff lesson (BASELINE r19): the earlier
    // explode(sequence)-then-project form carried the full token array
    // on every chunk row
    val chunksArr = transform(sequence(lit(0L), nChunks - 1), cid => {
      val start = cid * stride + 1
      val nTok = least(lit(chunk.toLong), col("n") - cid * stride)
      struct(cid.as("chunk_id"), start.as("start_tok"),
        nTok.as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("t"), start.cast("int"), nTok.cast("int"))).cast("binary"))
          .as("chunk_md5"))
    })
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), t.as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .select(col("doc_id"), explode(chunksArr).as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.start_tok"),
        col("c.n_tokens"), col("c.chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** CONTENT-DEFINED chunking (CDC): chunk boundaries fall where a
    * rolling fingerprint of the LAST 3 TOKENS lands in a 1/8 slice of
    * hash space (the LBFS cut rule, Muthitacharoen et al. SOSP 2001 —
    * gear/Rabin CDC reduced to token granularity), instead of at fixed
    * offsets. What that buys over [[docChunks]]: boundaries are a
    * function of LOCAL CONTENT, so inserting a sentence at the head of
    * a re-crawled page shifts every fixed-window fingerprint but leaves
    * every CDC chunk after the next boundary byte-identical — chunk-
    * level dedup between crawl snapshots keeps matching. The
    * shift-resistance is asserted as a property in CorpusSpec (same
    * doc, prepended insertion: CDC fingerprints mostly survive, fixed
    * ones mostly don't). Expected chunk length is 8 tokens (boundary
    * probability 2/16 per position).
    *
    * Scale shape: pure narrow higher-order-function chain — boundary
    * positions, chunk spans and fingerprints all compute inside ONE
    * projection per document (no explode-then-window, no shuffle but
    * the presentation sort). The token array is bound ONCE before the
    * lambdas ([[Dedup.shinglesOfTokens]]'s interpreted-eval lesson).
    * Cost note: the cut rule is one md5 per token position — the
    * oracle-portable spelling (DuckDB has no xxhash64). A production
    * 100 TB kernel swaps the cut AND the fingerprint to xxhash64 with
    * the identical plan shape — the same md5-for-oracle /
    * xxhash-for-scale split every hash-keyed operator here uses
    * (gramHash, spanHashesOf); the directed 10× probe (2.2×,
    * compute-bound) prices the md5 spelling, an upper bound on the
    * xxhash one.
    */
  def cdcChunks(spark: SparkSession, d: String): DataFrame =
    cdcChunksDf(Tables.fanOut(Tables.documents(spark, d)))

  /** DataFrame form (docs must have doc_id + text); see [[cdcChunks]]. */
  def cdcChunksDf(docs: DataFrame): DataFrame = {
    val t = col("t")
    val n = col("n")
    // boundary AFTER position i iff md5 of the 3-token window ending at
    // i starts below '2' (lowercase-hex compare, engine-portable)
    val cut = (i: Column) =>
      substring(md5(concat_ws(" ", slice(t, i - 2, lit(3))).cast("binary")), 1, 1) < "2"
    val bounds = when(n >= 3, filter(sequence(lit(3), n), cut))
      .otherwise(array().cast("array<int>"))
    val starts = concat(array(lit(1)), transform(col("b"), b => b + 1))
    val ends = concat(col("b"), array(n))
    val spans = filter(
      zip_with(starts, ends, (s, e) => struct(s.as("s"), e.as("e"))),
      p => p("s") <= p("e"))
    // fingerprint INSIDE the array domain, then explode only the
    // finished 4-field structs: the earlier posexplode-then-project
    // form carried the doc's FULL token array on every generated chunk
    // row (the md5 projection read `t` after the generate), so the
    // explode intermediate was token-array × n_chunks — measured as a
    // 58× wall cliff at 100× replicas (spill) where the output mass
    // was linear; this form re-probed at-most-linear (BASELINE r19)
    val chunks = transform(spans, (p, i) => struct(
      i.cast("long").as("chunk_id"),
      p("s").cast("long").as("start_tok"),
      (p("e") - p("s") + 1).cast("long").as("n_tokens"),
      md5(concat_ws(" ", slice(t, p("s"), p("e") - p("s") + 1)).cast("binary"))
        .as("chunk_md5")))
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .withColumn("n", size(t))
      .withColumn("b", bounds)
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.start_tok"),
        col("c.n_tokens"), col("c.chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Cross-document CDC chunk dedup: the audit [[cdcChunks]] exists to
    * feed — chunks whose fingerprint recurs in MORE THAN ONE document
    * (a shared template block, a quoted passage, the unchanged tail of
    * a re-crawl), with the first owner elected keeper (min (doc_id,
    * chunk_id), deterministic). Because boundaries are content-defined,
    * the same passage embedded at DIFFERENT offsets in different
    * documents still yields identical fingerprints — the match a
    * fixed-window chunker structurally misses (CorpusSpec's
    * shift-resistance fixture).
    *
    * Scale shape: the narrow CDC kernel feeding ONE md5-keyed
    * map-side-combined aggregation; nothing else moves. The keeper
    * election is a min-struct inside the same aggregate — no rank
    * window, no join-back.
    */
  def cdcChunkDedup(spark: SparkSession, d: String): DataFrame =
    cdcChunkDedupDf(Tables.fanOut(Tables.documents(spark, d)))

  /** DataFrame form (docs must have doc_id + text); see
    * [[cdcChunkDedup]].
    */
  def cdcChunkDedupDf(docs: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSql.unordered(cdcChunksDf(docs))
      .groupBy(col("chunk_md5"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(struct(col("doc_id"), col("chunk_id"))).as("k"),
        min(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") > 1)
      .select(col("chunk_md5"), col("n_docs"), col("n_occurrences"),
        col("k.doc_id").as("keeper_doc_id"),
        col("k.chunk_id").as("keeper_chunk_id"), col("n_tokens"))
      .orderBy(col("chunk_md5"))

  /** Frozen CDC chunk-fingerprint keeper set of a static base corpus —
    * the chunk-granularity member of the incremental-dedup artifact
    * family ([[Dedup.keeperContentHashes]], [[Dedup.minhashBandIndex]],
    * [[Cleaning.keeperSpanHashes]]): one (chunk_md5, keeper_id) row per
    * distinct chunk content. Because boundaries are content-defined,
    * the index keeps matching a passage even when a re-crawl shifts its
    * offset ([[cdcChunkDedup]]'s property).
    */
  def keeperChunkFingerprints(docs: DataFrame): DataFrame =
    // no fanOut here by MEASUREMENT: round-robining the base's full
    // text costs more than the single-split CDC kernel saves at this
    // kernel size (Probe mins 1.35 → 1.54 s on q_cdc_incremental,
    // 1.61 → 2.13 on q_ingest_gate with it) — unlike the heavier
    // minhash signature kernel, where fanOut is the recorded win; at
    // cluster scale multi-split scans make the question moot
    org.apache.spark.sql.GraftSql.unordered(cdcChunksDf(docs))
      .groupBy(col("chunk_md5"))
      .agg(min(col("doc_id")).as("keeper_id"))

  /** Chunk-level containment of ARRIVALS in a frozen base: per arriving
    * document, how many of its CDC chunks — and what fraction of its
    * tokens — the base corpus already owns. The novelty signal a
    * crawl-ingest gate reads: owned_frac ≈ 1 is a recrawl/mirror (drop
    * or re-own), a middling fraction is a quoted/templated page (span
    * dedup territory), ≈ 0 is genuinely new content.
    *
    * Scale shape: the narrow CDC kernel over the batch, one
    * fingerprint-keyed left join against the frozen index, one
    * doc-keyed aggregate — probe work proportional to the batch.
    */
  def cdcContainmentAgainst(docs: DataFrame, keepers: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSql.unordered(cdcChunksDf(docs))
      .join(keepers, Seq("chunk_md5"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keeper_id").isNotNull, 1L).otherwise(0L)).as("n_owned"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("keeper_id").isNotNull, col("n_tokens")).otherwise(0L))
          .as("owned_tokens"))
      // every doc has >= 1 chunk of >= 1 token, so the ratio is total
      .withColumn("owned_frac", ownedFrac(col("owned_tokens"), col("n_tokens")))
      .orderBy(col("doc_id"))

  /** The owned-token fraction, rounded to 6 dp — shared with
    * [[Ingest.gateProbe]]'s `cdc_owned_frac`.
    */
  private[ext] def ownedFrac(ownedTokens: Column, nTokens: Column): Column =
    floor(ownedTokens.cast("double") / nTokens.cast("double") * 1e6 + 0.5) / 1e6

  /** Registered composition: the snapshot/delta split at CDC-chunk
    * granularity (doc_id % 4 == 0 arrives, the rest is indexed).
    */
  def cdcIncremental(spark: SparkSession, d: String): DataFrame =
    cdcContainmentAgainst(
      Tables.fanOut(
        Tables.documents(spark, d).filter(col("doc_id") % 4 === 0)),
      sessionBaseChunkKeepers(spark, d))

  /** Streaming CDC containment (foreachBatch stage): the base corpus's
    * chunk-fingerprint index is FROZEN once; each micro-batch of
    * arrivals reports its containment verdicts tagged with the batch
    * id — the offset-robust stage of the streaming ingest dedup
    * cascade (URL → exact → minhash → span → chunk).
    */
  def cdcDedupSink(docStream: DataFrame, baseDocs: DataFrame,
                   outPath: String, checkpoint: String,
                   triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozen = Freeze.scoped(checkpoint, keeperChunkFingerprints(baseDocs))
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      cdcContainmentAgainst(batch, frozen)
    }
  }

  /** CURRICULUM training order: stage the corpus easy→hard by quality
    * TERCILE, then give each stage the [[epochShuffleShards]]
    * deterministic shuffle — the curriculum-learning schedule (Bengio
    * et al. 2009; data-side curricula order pretraining batches by a
    * difficulty proxy) expressed as the training-order artifact a
    * loader consumes: (stage, shard, pos) is a pure function of
    * content, so the schedule survives retries, re-partitions and
    * re-crawls. Terciles are by DOC COUNT over the 6-dp quality-class
    * histogram with whole-class assignment (the [[tokenBudgetSelect]]
    * discipline: a class never straddles stages, so equal-quality docs
    * share a stage at any scale).
    *
    * Scale shape: one histogram pass reduced to a 2-row broadcast
    * threshold table, one verdict pass, and the per-(stage, shard)
    * rank window — 3×16 partitions of corpus/48 rows each, the
    * [[epochShuffleShards]] exchange shape (never a per-stage global
    * sort).
    */
  def curriculumOrder(spark: SparkSession, d: String): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
    val scored = Tables.fanOut(Tables.documents(spark, d))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        TextAnalysis.qualityScoreCol.as("quality"))
    val hist = scored.groupBy(col("quality")).agg(count(lit(1)).as("cnt"))
    val prevBetter = win.orderBy(col("quality").desc)
      .rowsBetween(Long.MinValue, -1)
    // per-class doc count strictly above → stage; reduce to the two
    // tercile boundary qualities (min quality of stages 1 and 2)
    val thr = hist
      .withColumn("cb", coalesce(sum(col("cnt")).over(prevBetter), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(win.partitionBy()))
      .select(
        min(when(col("cb") * 3 < col("n"), col("quality"))).as("q1"),
        min(when(col("cb") * 3 < col("n") * 2, col("quality"))).as("q2"))
    val staged = scored.crossJoin(broadcast(thr))
      .withColumn("stage",
        when(col("quality") >= col("q1"), 1)
          .when(col("quality") >= col("q2"), 2)
          .otherwise(3))
      .withColumn("h", md5(concat(col("stage").cast("string"), lit(":"), col("text"))))
    staged
      .withColumn("shard", substring(col("h"), 1, 1))
      .withColumn("pos", row_number().over(
        win.partitionBy(col("stage"), col("shard"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("quality"), col("stage"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  /** LEAKAGE-SAFE train/val/test splitting: assignment by NEAR-DUP
    * CLUSTER, not by document. [[splitAssignments]]'s content hash
    * already co-assigns exact duplicates, but near-duplicates (a
    * re-crawl with a changed footer, a quoted copy) hash differently
    * and can straddle train/test — the contamination Lee et al. 2022
    * measure: eval loss on test members of a straddling cluster is
    * memorization, not generalization. Here every document inherits
    * the split of its cluster's CANONICAL member (the min-id label of
    * [[Dedup.dedupClusters]]), computed from the canonical's
    * content hash with the exact [[splitAssignments]] thresholds — so
    * a cluster can never straddle (one canonical, one hash, one
    * split), and unclustered documents keep their plain content-hash
    * assignment bit-for-bit (canonical = self).
    *
    * Scale shape: LSH candidates → min-label clusters
    * ([[Dedup.dedupClusters]], one [[graft.Fixpoint]] round each),
    * then one left join docs→labels on doc_id and one keyed join
    * labels→canonical hash on canonical_id. The canonical side of that
    * join is the skew point — a viral page's cluster joins its hash
    * once per member — which is exactly the AQE skew-join shape
    * (bounded further by LSH clusters being shallow). No union-find
    * leaves the executors; the label table arrives materialized (the
    * `neardup_clusters` session pin).
    */
  def leakageSafeSplits(spark: SparkSession, d: String): DataFrame =
    // the cluster table rides the session pin shared with the
    // q_neardup_* family
    leakageSafeSplitsFromClusters(Tables.documents(spark, d),
      Dedup.sessionNearDupClusters(spark, d))

  /** The [[leakageSafeSplits]] election over candidate pairs
    * (id_a, id_b, est_jaccard) of `docs` (doc_id + text), clustered at
    * `threshold` — for callers that derive pairs from a band index they
    * hold ([[sessionBaseSplits]] / [[splitAssignSink]]). Returns the
    * splits and the cluster loop's final round, which the lazy splits
    * read (a caller that materializes them releases it).
    */
  private[graft] def leakageSafeSplitsFromPairs(docs: DataFrame, pairs: DataFrame,
                                                threshold: Double)
      : (DataFrame, Seq[DataFrame]) = {
    val (clusters, scratch) =
      Dedup.dedupClusters(pairs.filter(col("est_jaccard") >= threshold))
    (leakageSafeSplitsFromClusters(docs, clusters), scratch)
  }

  /** The split election over an already-built cluster table — the seam
    * the session cluster pin enters through (one definition of the
    * canon/bucket logic, no drift).
    */
  private[ext] def leakageSafeSplitsFromClusters(docs: DataFrame,
                                                 clusters: DataFrame): DataFrame = {
    val canon = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
    val canonBucket = docs.select(col("doc_id").as("canonical_id"),
      substring(md5(col("text").cast("binary")), 1, 2).as("bucket"))
    canon.join(canonBucket, Seq("canonical_id"))
      .withColumn("split",
        when(col("bucket") < "e6", "train")
          .when(col("bucket") < "f3", "val")
          .otherwise("test"))
      .select(col("doc_id"), col("canonical_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Split assignment AGAINST a frozen base — the incremental form of
    * [[leakageSafeSplits]], closing the recrawl loophole: a batch
    * election is leakage-safe only until the next crawl delivers a
    * dressed-up copy of a training page that hashes into test. Each
    * arrival probes the base's MinHash band index; one that near-
    * duplicates a base document INHERITS that document's split (best
    * anchor = strongest estimate, smallest base id on ties —
    * deterministic across partitionings), fresh content falls back to
    * the plain [[splitAssignments]] content-hash rule.
    *
    * Scale shape: one (band, band_hash)-keyed probe join (the
    * [[Dedup.minhashNearDupsAgainst]] contract), one arrival-keyed
    * max-struct election, one anchor-keyed join to the split table,
    * one left join back onto the batch — every join keyed, probe work
    * proportional to the batch, never |batch| × |base|.
    */
  def splitAssignAgainst(docs: DataFrame, index: DataFrame,
                         baseSplits: DataFrame,
                         threshold: Double = Dedup.NearDupThreshold): DataFrame = {
    val best = Dedup.minhashNearDupsAgainst(docs, index)
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("id_new"))
      .agg(max(struct(col("est_jaccard"), (-col("id_base")).as("neg_id"))).as("m"))
      .select(col("id_new").as("doc_id"), (-col("m.neg_id")).as("anchor_id"))
    val anchored = best.join(
      baseSplits.select(col("doc_id").as("anchor_id"),
        col("split").as("anchor_split")),
      Seq("anchor_id"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        substring(md5(col("text").cast("binary")), 1, 2).as("bucket"))
      .join(anchored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("anchor_id").isNotNull.as("inherited"),
        coalesce(col("anchor_id"), col("doc_id")).as("anchor_id"),
        coalesce(col("anchor_split"),
          when(col("bucket") < "e6", "train")
            .when(col("bucket") < "f3", "val")
            .otherwise("test")).as("split"))
      .orderBy(col("doc_id"))
  }

  /** Registered composition: the [[Dedup.minhashIncremental]]
    * snapshot/delta split at split-assignment granularity — today's
    * arrivals (doc_id % 4 == 0) inherit splits from the leakage-safe
    * election over the indexed base.
    */
  def splitInheritance(spark: SparkSession, d: String): DataFrame = {
    val arrivals = Tables.documents(spark, d)
      .filter(col("doc_id") % 4 === 0)
    // both base-side artifacts ride session pins — the banded index
    // ([[Dedup.sessionBaseBandIndex]]; the r19 adjudication measured a
    // PER-RUN localCheckpoint as a loss, build+read in the same run,
    // but the session pin bills the build once and amortizes it across
    // the index's four registered consumers) and the leakage-safe
    // split election ([[sessionBaseSplits]], the clustering rounds).
    // Per-run cost is the arrival probe only. Both pins READ-ONLY here.
    splitAssignAgainst(arrivals, Dedup.sessionBaseBandIndex(spark, d),
      sessionBaseSplits(spark, d), Dedup.NearDupThreshold)
  }

  /** The session leakage-safe split table of the %4 base slice — the
    * clustering rounds ([[Dedup.dedupClusters]] over the pinned band
    * index's candidate pairs) plus the bucket election, parameter-free
    * given (session, dir) at the registered threshold. Keyed on
    * doc_id, the anchor join key; ArtifactStore-backed, sidecar-
    * billed, cold-cleared. |base| rows pinned per (session, dir); the
    * cluster loop's final round is released once the pin materializes.
    */
  private[ext] val sessionBaseSplits =
    SessionArtifact.frameWithScratch("base_splits", Pin.KeyedBy("doc_id")) { (spark, d) =>
      val (splits, scratch) = leakageSafeSplitsFromPairs(Dedup.baseSlice(spark, d),
        Dedup.minhashCandidatePairsOfIndex(Dedup.sessionBaseBandIndex(spark, d)),
        Dedup.NearDupThreshold)
      (org.apache.spark.sql.GraftSql.unordered(splits).select(col("doc_id"), col("split")),
        scratch)
    }

  /** Streaming split assignment (foreachBatch stage): the base's band
    * index and its leakage-safe split table are FROZEN once; each
    * micro-batch of arrivals reports (inherited, anchor, split)
    * verdicts tagged with the batch id — the admission stamp a
    * streaming ingest writes before a recrawl can contaminate eval.
    */
  def splitAssignSink(docStream: DataFrame, baseDocs: DataFrame,
                      outPath: String, checkpoint: String,
                      threshold: Double = Dedup.NearDupThreshold, triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // the index freezes FIRST and the split table derives its candidate
    // pairs from the frozen (cached) table — the base signature kernel
    // runs once for both artifacts
    val frozenIndex = Freeze.scoped(checkpoint, Dedup.minhashBandIndex(baseDocs))
    val (splits, scratch) = leakageSafeSplitsFromPairs(baseDocs,
      Dedup.minhashCandidatePairsOfIndex(frozenIndex), threshold)
    val frozenSplits = Freeze.scoped(checkpoint,
      org.apache.spark.sql.GraftSql.unordered(splits).select(col("doc_id"), col("split")))
    scratch.foreach(org.apache.spark.sql.GraftSql.releaseCheckpoint)
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      splitAssignAgainst(batch, frozenIndex, frozenSplits, threshold)
    }
  }

  /** The corpus card: the one-pass per-source summary a data consumer
    * reads before anything else (the "datasheet" row — docs, tokens,
    * content diversity, language spread, rule-quality keep rate,
    * average length). Composes the established kernels — token count,
    * NFC content hash, the quality sigmoid — into a single groupBy, so
    * at 100 TB the whole card is ONE corpus scan + one source-keyed
    * aggregate. Rates snap at 6 dp via the exact-integer-ratio pattern
    * (layout_compare precedent).
    */
  def corpusCard(spark: SparkSession, d: String): DataFrame =
    corpusCardDf(Tables.fanOut(Tables.documents(spark, d)))

  def corpusCardDf(docs: DataFrame): DataFrame = {
    import graft.ext.{Dedup, TextAnalysis}
    val nTok = coalesce(size(TextAnalysis.tokens(col("text"))).cast("long"), lit(0L))
    // empty/null texts cannot be "kept": the length guard also kills the
    // NaN-total-order divergence (Spark NaN>=x false, DuckDB true)
    val kept = when(length(col("text")) > 0 &&
      TextAnalysis.qualityScoreCol >= lit(0.5), 1L).otherwise(0L)
    def snap6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTok).as("n_tokens"),
        countDistinct(Dedup.contentHash(col("text"))).as("n_distinct_texts"),
        countDistinct(col("lang")).as("n_langs"),
        sum(kept).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_distinct_texts"), col("n_langs"),
        snap6(col("n_kept").cast("double") / col("n_docs")).as("kept_rate"),
        snap6(col("n_tokens").cast("double") / col("n_docs")).as("avg_tokens"))
      .orderBy(col("source"))
  }

  /** Sample size of [[weightedSample]] — shared with the oracle. */
  private[graft] val WeightedSampleK = 25

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis & Spirakis
    * 2006, the A-ES one-pass scheme) made RNG-FREE: each document's
    * uniform comes from its content hash (the split/keep discipline —
    * retry-stable, engine-portable), its weight is its size, and the
    * sample is the k smallest keys −ln(u)/w. This is how a
    * size-proportional training subsample is drawn at 100 TB: one
    * narrow key computation, one bounded top-k — no RNG state, no
    * coordination, rerunnable to the same sample on any cluster.
    *
    * Exactness: u = first 13 md5 hex digits / 2^52 (both engines
    * compute the identical double), one ln, one divide, micro-nano
    * snap (1e12 — keys are ~1e-5-scale) before the bounded top-k;
    * ties break on doc_id.
    */
  def weightedSample(spark: SparkSession, d: String,
                     k: Int = WeightedSampleK): DataFrame =
    weightedSampleDf(Tables.fanOut(Tables.documents(spark, d)), k)

  def weightedSampleDf(docs: DataFrame, k: Int = WeightedSampleK): DataFrame = {
    // u floored at 1e-18 so the (probability 2^-52) all-zero hash
    // prefix cannot drive ln to -inf — mirrored in the oracle
    val u = greatest(
      conv(substring(md5(col("text")), 1, 13), 16, 10)
        .cast("long").cast("double") / lit(4503599627370496.0), // 2^52
      lit(1e-18))
    val w = greatest(coalesce(col("n_chars"), lit(1L)), lit(1L)).cast("double")
    val key = -log(u) / w
    // ACCEPTED libm exposure (the mixturePlanTemperature pow
    // precedent): both engines evaluate ln over the IDENTICAL double
    // u, so the only divergence channel is a cross-libm last-ulp
    // difference in ln itself, which collapses under the 1e12 snap
    // except exactly at a pico-boundary tie (~1e-3 pico of margin for
    // the smallest weights). No integer-exact form of the exponential
    // key exists — ordering by any libm-free surrogate (e.g. raw
    // hash/weight) is NOT the Efraimidis–Spirakis distribution — so
    // the snap + doc_id tiebreak is the documented trade, matching
    // the NdcgDiscounts adjudication of the same exposure class.
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        greatest(coalesce(col("n_chars"), lit(1L)), lit(1L)).as("weight"),
        floor(key * lit(1e12) + lit(0.5)).cast("long").as("key_pico"))
      .orderBy(col("key_pico"), col("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("key_pico"), col("doc_id"))).cast("long"))
  }
}
