package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB corpus):
  *  - Exact dedup: hash-groupBy on md5(text) — one shuffle keyed by digest,
  *    uniform key distribution (no skew by construction).
  *  - MinHash+LSH: per-doc signature is a narrow map (no shuffle); banding
  *    explodes to (band, band-hash) keys and self-joins within buckets, so
  *    comparison cost is ~|candidate pairs|, never O(n²).
  *  - SimHash: 60-bit signature per doc; near-dup = small Hamming distance;
  *    bucket by 15-bit chunks (pigeonhole: dist ≤ 3 ⇒ some chunk equal).
  *  - n-gram Jaccard: exact verification on candidate pairs only.
  */
object Dedup {

  /** The canonical content hash: md5 over NFC-NORMALIZED text. Crawled
    * Vietnamese arrives in mixed composed/decomposed Unicode forms; raw
    * md5 treats them as distinct and dedup silently misses those pairs
    * (graft.extract.TextExtract.nfcNormalize documents the mechanics).
    * DuckDB mirror: `md5(nfc_normalize(text))`.
    */
  def contentHash(c: Column): Column =
    md5(graft.extract.TextExtract.nfcNormalize(c))

  /** Exact-duplicate summary: corpus size vs distinct-content size. */
  def exactDedupStats(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(contentHash(col("text"))).as("n_distinct_texts")
      )

  /** Exact dedup keep-list: canonical (min doc_id) per content hash.
    * This is the shape you'd anti-join back against the corpus at scale.
    */
  def exactDedupKeepList(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy(contentHash(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  private val baseBandCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()
  private val baseHashCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()
  private val baseUrlCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** Cold-bench hook ([[graft.SessionCaches]]): drop this session's
    * frozen-base dedup artifacts, releasing their checkpoint RDDs.
    */
  private[graft] def clearSessionCaches(spark: SparkSession): Unit = {
    import graft.SessionCaches.{dropSession, releaseFrame}
    dropSession(baseBandCache, spark)(releaseFrame)
    dropSession(baseHashCache, spark)(releaseFrame)
    dropSession(baseUrlCache, spark)(releaseFrame)
    dropSession(clustersCache, spark)(releaseFrame)
  }

  /** The %4 snapshot/delta split's BASE slice — the corpus every
    * incremental/gate/split-inheritance query indexes against.
    */
  private[ext] def baseSlice(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d).filter(col("doc_id") % 4 =!= 0)

  /** The session MinHash band index of the base slice — parameter-free
    * given (session, dir) and rebuilt per run by FOUR registered
    * queries before r20 (q_dedup_cascade, q_minhash_incremental,
    * q_split_inheritance, q_ingest_gate): one signature+banding kernel
    * run is billed to the `artifact_builds` sidecar, every consumer
    * probes the pinned table. Keyed-checkpointed on (band, band_hash)
    * — the bucket-join key of every probe AND of the candidate-pair
    * self-join, so neither side of the self-join ever exchanges.
    * ArtifactStore-backed so warm sessions load and the cold ledger
    * prices the true rebuild. 8 rows per base doc pinned per
    * (session, dir).
    */
  private[ext] def sessionBaseBandIndex(spark: SparkSession, d: String): DataFrame =
    baseBandCache.computeIfAbsent((spark, d), _ =>
      graft.ArtifactLedger.timed("base_band_index")(
        org.apache.spark.sql.GraftSql.localCheckpointKeyedBy(
          graft.storage.ArtifactStore.cachedFrame(spark, "base_band_index", d)(
            minhashBandIndex(baseSlice(spark, d))),
          Seq("band", "band_hash"))))

  /** The session content-hash keeper set of the base slice (same
    * amortization: q_exact_dedup_incremental, q_dedup_cascade,
    * q_ingest_gate). Keyed on content_hash, the probe join key.
    */
  private[ext] def sessionBaseContentKeepers(spark: SparkSession, d: String): DataFrame =
    baseHashCache.computeIfAbsent((spark, d), _ =>
      graft.ArtifactLedger.timed("base_content_keepers")(
        org.apache.spark.sql.GraftSql.localCheckpointKeyedBy(
          graft.storage.ArtifactStore.cachedFrame(
            spark, "base_content_keepers", d)(
            keeperContentHashes(baseSlice(spark, d))),
          Seq("content_hash"))))

  /** The session canonical-URL keeper set of the base slice's cascade
    * URL view (q_dedup_cascade, q_ingest_gate). Keyed on canon_url.
    */
  private[ext] def sessionBaseUrlKeepers(spark: SparkSession, d: String): DataFrame =
    baseUrlCache.computeIfAbsent((spark, d), _ =>
      graft.ArtifactLedger.timed("base_url_keepers")(
        org.apache.spark.sql.GraftSql.localCheckpointKeyedBy(
          graft.storage.ArtifactStore.cachedFrame(
            spark, "base_url_keepers", d)(
            Cleaning.keeperCanonUrls(cascadeUrls(baseSlice(spark, d)))),
          Seq("canon_url"))))

  /** Content-hash keeper set of a static base corpus — the frozen side
    * of [[exactDedupSink]]: one (content_hash, keeper_id) row per
    * distinct text. 16 bytes + 8 per distinct content at any corpus
    * size; the cheapest dedup artifact a pipeline persists.
    */
  def keeperContentHashes(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .groupBy(contentHash(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"))

  /** Exact dedup AGAINST a static keeper set: an arriving document is
    * an exact duplicate iff the base corpus already owns its content
    * hash (first-writer-wins across time; no within-batch election —
    * the [[Cleaning.spanDedupStatsAgainst]] contract at whole-document
    * granularity). keeper_id names the base owner for duplicates and
    * the arrival itself otherwise.
    */
  def exactDedupAgainst(docs: DataFrame, keepers: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .join(keepers.withColumnRenamed("keeper_id", "base_keeper"),
        Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"),
        coalesce(col("base_keeper"), col("doc_id")).as("keeper_id"),
        col("base_keeper").isNotNull.as("dup"))
      .orderBy(col("doc_id"))

  /** Registered composition: the [[minhashIncremental]] snapshot/delta
    * split at exact-content granularity — fully oracle-checkable
    * (md5(nfc_normalize(text)) mirrors in DuckDB).
    */
  def exactDedupIncremental(spark: SparkSession, d: String): DataFrame =
    exactDedupAgainst(
      Tables.documents(spark, d).filter(col("doc_id") % 4 === 0),
      sessionBaseContentKeepers(spark, d))

  /** The full incremental dedup CASCADE as one audit: every arriving
    * document's verdict matrix across the three granularities a
    * streaming ingest checks — canonical URL, exact content hash,
    * MinHash near-dup — plus the first (cheapest) stage that flags it.
    * A production pipeline gates stage N+1 on stage N's survivors to
    * save compute; the audit form computes all three verdicts so the
    * overlap between stages is measurable (how much the expensive
    * stage catches that the cheap ones missed is exactly the number
    * that justifies its cost).
    *
    * Scale shape: the three stage verdicts are the three Against
    * operators unchanged (one keyed join each against a frozen-base
    * artifact); the matrix assembles through doc_id-keyed left joins
    * on the delta only. Nothing here adds a corpus-sized exchange
    * beyond what the component stages already pay.
    */
  /** The cascade/gate URL synthesis: [[Cleaning.urlDocs]] plus a solo
    * URL for every 48th doc (always on the delta side of the %4
    * split), so fresh-URL arrivals exist at fixture scale — shared by
    * [[dedupCascade]] and [[Ingest.ingestGate]] so their url_dup
    * columns are definitionally identical.
    */
  private[ext] def cascadeUrls(df: DataFrame): DataFrame =
    Cleaning.urlDocs(df).withColumn("url",
      when(col("doc_id") % 48 === 0,
        concat(lit("https://news.example.com/articles/solo-"),
          col("doc_id").cast("string"))).otherwise(col("url")))

  def dedupCascade(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val arrivals = docs.filter(col("doc_id") % 4 === 0)
    // the urlDocs grouping (3 consecutive ids share an article) makes
    // EVERY delta member a recrawl of a base-owned article — realistic
    // deltas carry fresh URLs too, so every 48th doc (always on the
    // delta side: 48 ≡ 0 mod 4) gets a solo article, letting the
    // later cascade stages and the clean verdict surface at fixture sf.
    // All three frozen-base artifacts ride the session pins (r20).
    val urlV = Cleaning.urlDedupAgainst(
        cascadeUrls(arrivals), sessionBaseUrlKeepers(spark, d))
      .select(col("doc_id"), col("dup").as("url_dup"))
    val exactV = exactDedupAgainst(arrivals, sessionBaseContentKeepers(spark, d))
      .select(col("doc_id"), col("dup").as("exact_dup"))
    val nearV = minhashNearDupsAgainst(arrivals, sessionBaseBandIndex(spark, d))
      .select(col("id_new").as("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    arrivals.filter(col("text").isNotNull).select(col("doc_id"))
      .join(urlV, Seq("doc_id"), "left")
      .join(exactV, Seq("doc_id"), "left")
      .join(nearV, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("url_dup"), lit(false)).as("url_dup"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"))
      .withColumn("verdict",
        when(col("url_dup"), lit("url_dup"))
          .when(col("exact_dup"), lit("exact_dup"))
          .when(col("near_dup"), lit("near_dup"))
          .otherwise(lit("clean")))
      .orderBy(col("doc_id"))
  }

  /** Streaming exact dedup (foreachBatch stage): the base corpus's
    * content-hash keeper set is FROZEN once; each micro-batch reports
    * its exact-duplicate verdicts tagged with the batch id. The first
    * stage of a streaming ingest dedup cascade (URL → exact → minhash
    * → span), each granularity catching what the cheaper one missed.
    */
  def exactDedupSink(docStream: DataFrame, baseDocs: DataFrame,
                     outPath: String, checkpoint: String,
                     triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozen = Freeze.scoped(checkpoint, keeperContentHashes(baseDocs))
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      exactDedupAgainst(batch, frozen)
    }
  }

  // ------------------------------------------------------- MinHash + LSH

  /** Word n-shingles over an ALREADY-MATERIALIZED token-array column.
    *
    * The token column must be a bound attribute, not the `split(...)`
    * expression itself: interpreted higher-order-function eval re-evaluates
    * every expression inside the lambda per element, so an inlined split
    * would re-run the regex tokenizer O(tokens) times per doc (measured
    * 3–8× slowdown at sf0.1). Callers do
    * `.select(..., tokens(text).as("toks"))` first.
    */
  def shinglesOfTokens(toks: Column, n: Int = 3): Column = {
    val idxs = sequence(lit(1), greatest(size(toks) - (n - 1), lit(1)))
    transform(idxs, i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  /** MinHash signatures for the whole corpus: one row per doc with a
    * `numHashes`-element array `sig` where sig[s] = min over shingles
    * of the universal hash (a_s·h + b_s) mod P of the 28-bit
    * md5-prefix shingle hash h (see [[minhashSigUdf]] — md5, not
    * xxhash64, is what makes the family DuckDB-oracle-checkable).
    *
    * Shape matters at scale: shingles are materialized ONCE (explode), and
    * all `numHashes` min-hashes are computed in a single hash aggregate
    * with map-side partial combine — so the shuffle carries one
    * `numHashes × 8B` partial state per doc per mapper, never the shingle
    * text. (The previous form inlined the shingle pipeline 32× into one
    * projection; the resulting expression tree blew up optimizer/codegen
    * time ~100×.)
    */
  def minhashSignatures(spark: SparkSession, d: String,
                        numHashes: Int = 32): DataFrame =
    minhashSignaturesDf(Tables.documents(spark, d), numHashes)

  /** Prime modulus of the minhash permutation family — largest prime
    * below 2^29, so `a·h + b` with a,b < P and the 28-bit shingle hash
    * h stays under 2^58: plain BIGINT arithmetic, overflow-free and
    * bit-identical in every engine. `private[graft]` because the
    * DuckDB oracle builders in [[graft.SparkEntry]] interpolate the
    * SAME constants — operator and oracle share one definition.
    */
  private[graft] val MinhashPrime = 536870909L

  /** Per-plane universal-hash coefficients, a_s ∈ [1, P), b_s ∈ [0, P),
    * derived from md5 of a fixed tag so they are reproducible anywhere
    * (including inside the oracle SQL, where they appear as literals).
    */
  private[graft] val MinhashA: IndexedSeq[Long] =
    (0 until 64).map(s => md5Tag56(s"graft-minhash-a-$s") % (MinhashPrime - 1) + 1)
  private[graft] val MinhashB: IndexedSeq[Long] =
    (0 until 64).map(s => md5Tag56(s"graft-minhash-b-$s") % MinhashPrime)

  /** First 56 bits of md5(tag) as a non-negative long. */
  private def md5Tag56(tag: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    BigInt(1, d.take(7)).toLong
  }

  /** Estimated-Jaccard threshold the near-dup cluster/keeper/split
    * family prunes candidate pairs at, and the propagation-round cap of
    * [[dedupClusters]] — shared with the oracle builders.
    */
  private[graft] val NearDupThreshold = 0.7
  private[graft] val ClusterMaxIter = 10

  /** One-pass signature kernel: per doc, build each 3-shingle once,
    * take the 28-bit md5 prefix as the shingle hash h, then derive the
    * `numHashes` planes as universal hashes `(a_s·h + b_s) mod P` —
    * the exact value chain of the SQL expression
    * `conv(substring(md5(sh), 1, 7), 16, 10)` followed by the
    * multiply-add-mod, so the DuckDB oracle replays the whole
    * signature bit-for-bit (md5 instead of xxhash64 is what makes the
    * downstream pair/cluster/keeper/split family FULLY oracle-checkable
    * — xxhash64 exists only in Spark). 28-bit shingle hashes collide at
    * ~|shingles|²/2^29 per doc (≪ 1 at ~50 shingles/doc), folding two
    * shingles into one — harmless to a min-based estimate.
    *
    * Scale shape: the signature stage is a NARROW MAP over the scan —
    * no explode, no shuffle; the only shuffle left in the dedup pipeline
    * is the band-bucket self-join. (The previous explode+groupBy form
    * shuffled one row per shingle and burned ~9 s of codegen JIT on a
    * 32-aggregate hash-agg plan.)
    */
  private def minhashSigUdf(numHashes: Int) = {
    require(numHashes <= MinhashA.length,
      s"minhash supports up to ${MinhashA.length} planes, got $numHashes")
    val as = MinhashA.take(numHashes).toArray
    val bs = MinhashB.take(numHashes).toArray
    val p = MinhashPrime
    udf { toks: scala.collection.Seq[String] =>
      // thread-local digest: getInstance per row costs a provider
      // lookup + allocation; MessageDigest is not thread-safe, so one
      // per local[] thread, reset implicitly by digest()
      val md = Dedup.localMd5.get()
      val sigs = Array.fill(numHashes)(Long.MaxValue)
      val n = toks.length
      val m = math.max(n - 2, 1)
      // each token is UTF-8-encoded ONCE (it appears in up to 3
      // shingles); the shingle digest streams token bytes + the space
      // separator straight into the digest — no StringBuilder, no
      // per-shingle string/byte[] allocation. digest(update stream)
      // equals digest(concatenated bytes), so the value chain is still
      // exactly md5 of the space-joined shingle string.
      val enc = new Array[Array[Byte]](n)
      var t = 0
      while (t < n) {
        enc(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        t += 1
      }
      var i = 0
      while (i < m) {
        val end = math.min(i + 3, n)
        var j = i
        while (j < end) {
          if (j > i) md.update(' '.toByte)
          md.update(enc(j))
          j += 1
        }
        val dg = md.digest()
        // first 7 hex chars of the digest = top 28 bits
        val h = ((dg(0) & 0xffL) << 20) | ((dg(1) & 0xffL) << 12) |
          ((dg(2) & 0xffL) << 4) | ((dg(3) & 0xffL) >>> 4)
        var s = 0
        while (s < numHashes) {
          val v = (as(s) * h + bs(s)) % p
          if (v < sigs(s)) sigs(s) = v
          s += 1
        }
        i += 1
      }
      sigs
    }
  }

  /** One MD5 digest per executor thread (see [[minhashSigUdf]];
    * `private[ext]` so [[TextAnalysis]]'s fingerprint kernel shares it).
    */
  private[ext] val localMd5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** DISTINCT xxhash64 values of a doc's word n-shingles, computed in
    * one kernel pass — for consumers that only ever compare shingle
    * HASHES (decontamination), so the shingle strings are never
    * materialized as columns. Value chain is exactly
    * `xxhash64(concat_ws(" ", slice(toks, i, n)))` (seed 42, the SQL
    * expression default): same StringBuilder + XxHash64Function walk as
    * [[minhashSigUdf]], so kernel and expression forms agree
    * bit-for-bit. Distinctness via a primitive-keyed HashSet; count of
    * distinct hashes equals count of distinct shingle strings modulo
    * 64-bit collisions (the bound documented at
    * [[graft.ext.Corpus.decontaminationStatsDf]]).
    */
  private[ext] def shingleHashesUdf(n: Int) =
    udf { toks: scala.collection.Seq[String] =>
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.StringType
      import org.apache.spark.unsafe.types.UTF8String
      val len = toks.length
      val m = math.max(len - (n - 1), 1)
      val seen = new java.util.LinkedHashSet[java.lang.Long](m * 2)
      var i = 0
      while (i < m) {
        val end = math.min(i + n, len)
        val sb = new java.lang.StringBuilder
        var j = i
        while (j < end) { if (j > i) sb.append(' '); sb.append(toks(j)); j += 1 }
        seen.add(XxHash64Function.hash(
          UTF8String.fromString(sb.toString), StringType, 42L))
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      out
    }.asNondeterministic()
  // ^ the function IS pure — the marker exists because consumers explode
  // this array, and InferFiltersFromGenerate + filter pushdown would
  // otherwise INLINE the kernel into the scan-stage Filter (observed:
  // size(UDF(...)) > 0 AND isnotnull(UDF(...)) at the FileScan), making
  // the most expensive expression in the query run 2-3x per row. Marking
  // it nondeterministic pins the kernel to its own projection, evaluated
  // exactly once; callers must therefore apply their row FILTERS BELOW
  // the kernel projection themselves (pushdown through a
  // nondeterministic projection is blocked by design).

  /** Column form of [[shingleHashesUdf]] over a bound token-array column. */
  def shingleHashes(toks: Column, n: Int): Column = shingleHashesUdf(n)(toks)

  /** DataFrame form (docs must have doc_id + text). Null texts are
    * dropped — the same visible behavior as the previous explode form
    * (explode of a null array emits nothing), and the kernel UDF is not
    * null-tolerant.
    */
  def minhashSignaturesDf(docs: DataFrame, numHashes: Int = 32): DataFrame =
    // signature kernel is CPU-bound; single-split scans would serialize it
    signaturesOf(Tables.fanOut(docs), numHashes)

  /** The signature kernel over `docs` as partitioned. */
  private def signaturesOf(docs: DataFrame, numHashes: Int): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), minhashSigUdf(numHashes)(col("toks")).as("sig"))

  /** LSH candidate pairs: band the signature (bands × rows = numHashes),
    * hash each band, bucket-join docs sharing any band hash. Self-join is
    * keyed on (band_idx, band_hash) — the only extra shuffle, and its
    * fan-out is the number of true near-duplicate candidates, never O(n²).
    */
  def minhashCandidatePairs(
      spark: SparkSession, d: String,
      numHashes: Int = 32, bands: Int = 8): DataFrame =
    minhashCandidatePairsDf(Tables.documents(spark, d), numHashes, bands)

  /** DataFrame form of the LSH candidate-pair pipeline (deterministic
    * presentation order for the oracle/driver check).
    */
  def minhashCandidatePairsDf(
      docsIn: DataFrame,
      numHashes: Int = 32, bands: Int = 8): DataFrame =
    minhashCandidatePairsUnordered(docsIn, numHashes, bands)
      .orderBy(col("id_a"), col("id_b"))

  /** Candidate pairs WITHOUT the presentation sort — the form internal
    * consumers (cluster resolution) build on: a global orderBy costs a
    * range-partitioning sample job + full sort that a downstream
    * groupBy/join immediately destroys anyway.
    */
  def minhashCandidatePairsUnordered(
      docsIn: DataFrame,
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    val docs = minhashSignaturesDf(docsIn, numHashes)
    // Self-join sides and the signature kernel: at fixture scale the
    // planner broadcasts one side, so the kernel runs once per side
    // over small data (cheaper than any shuffle). At 100-TB scale the
    // join becomes sort-merge and BOTH sides need canonically identical
    // hash exchanges on (band, band_hash) — AQE's stage cache then
    // materializes the scan + kernel + banding ONCE and the second side
    // reads the same shuffle (ReusedExchange; asserted in the
    // broadcast-disabled at-scale plan test). Forcing a repartition
    // here to get reuse locally was measured STRICTLY worse (0.76 →
    // 1.32 s at sf0.1): it pays an 8-rows-per-doc signature shuffle
    // where broadcast pays none, and buys nothing at scale that AQE
    // doesn't already provide.
    minhashCandidatePairsOfIndex(bandHashes(docs, bands, rows), numHashes)
  }

  /** The pair self-join stage over an ALREADY-BUILT band table (the
    * [[minhashBandIndex]] shape) — for callers that hold the index
    * anyway ([[graft.ext.Corpus.splitInheritance]] materializes ONE
    * index and reads it for both the cluster rounds and the arrival
    * probe, instead of re-running the signature kernel per branch).
    * est_jaccard is a pure function of the pair, so it computes inside
    * the bucket join and the dedup runs on narrow (id_a, id_b, est)
    * rows — the signature arrays never enter the distinct's shuffle.
    */
  def minhashCandidatePairsOfIndex(banded: DataFrame,
                                   numHashes: Int = 32): DataFrame = {
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), b => b))
          .cast("double") / numHashes).as("est_jaccard"))
      .distinct()
  }

  /** The shared banding stage: each signature explodes into `bands`
    * (band, band_hash) rows, hash = xxhash64 over the band's signature
    * slice seeded by the band index. Both the all-pairs self-join and
    * the incremental against-index form band with THIS expression, so
    * an arrival's buckets are bit-identical to the buckets a base
    * snapshot was indexed under.
    */
  private def bandHashes(docs: DataFrame, bands: Int, rows: Int): DataFrame =
    docs.select(
      col("doc_id"), col("sig"),
      explode(sequence(lit(0), lit(bands - 1))).as("band")
    ).select(
      col("doc_id"), col("sig"), col("band"),
      xxhash64(concat_ws(",", slice(col("sig"), col("band") * rows + 1, lit(rows))), col("band")).as("band_hash"))

  // --------------------------------------------- incremental near-dup

  /** Frozen MinHash band index of a static base corpus — the table
    * [[minhashDedupSink]] freezes and [[minhashNearDupsAgainst]]
    * probes: one (band, band_hash, doc_id, sig) row per band per doc
    * (signature arrays ride along for the estimate; 8 × ~300 B/doc at
    * the default 32 hashes). At 100 TB this is the artifact a daily
    * dedup job PERSISTS between snapshots instead of re-running the
    * all-pairs self-join over history + delta.
    */
  def minhashBandIndex(docs: DataFrame, numHashes: Int = 32,
                       bands: Int = 8): DataFrame =
    minhashBandsOf(Tables.fanOut(docs), numHashes, bands)

  /** [[minhashBandIndex]]'s rows without its [[Tables.fanOut]]: the
    * banding of `docs` as partitioned, for an input that is already
    * split the way the caller wants — a persisted micro-batch, where a
    * round-robin repartition would cost a shuffle job per trigger to
    * parallelize a kernel over a handful of documents.
    */
  private[ext] def minhashBandsOf(docs: DataFrame, numHashes: Int = 32,
                                  bands: Int = 8): DataFrame =
    bandHashes(signaturesOf(docs, numHashes), bands, numHashes / bands)

  /** Near-dup candidates of ARRIVING documents against a frozen base
    * index — the incremental form of [[minhashCandidatePairsUnordered]]:
    * arrivals band with the identical expression chain and bucket-join
    * the index on (band, band_hash); est_jaccard is the usual
    * signature-agreement fraction. No arrival-vs-arrival comparison
    * (first-writer-wins across time: within-batch dups resolve when
    * the batch is folded into the next index build).
    *
    * Scale shape: ONE keyed join per micro-batch — probe side is the
    * batch (tiny), build side is index buckets the batch actually
    * touches; fan-out is the number of true near-dup candidates, never
    * |batch| × |base|.
    */
  def minhashNearDupsAgainst(docs: DataFrame, index: DataFrame,
                             numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val a = bandHashes(minhashSignaturesDf(docs, numHashes),
      bands, numHashes / bands).as("a")
    val b = index.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_base"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), v => v))
          .cast("double") / numHashes).as("est_jaccard"))
      .distinct()
  }

  /** Registered composition: a deterministic snapshot/delta split of
    * the corpus (doc_id % 4 == 0 arrives "today", the rest is the
    * indexed base) — the shape a recurring crawl dedup runs every day.
    */
  def minhashIncremental(spark: SparkSession, d: String): DataFrame =
    minhashNearDupsAgainst(
      Tables.documents(spark, d).filter(col("doc_id") % 4 === 0),
      sessionBaseBandIndex(spark, d))
      .orderBy(col("id_new"), col("id_base"))

  /** Streaming incremental near-dup (foreachBatch stage): the base
    * corpus's band index is FROZEN once; each micro-batch of arriving
    * documents reports its near-dup candidates against the snapshot,
    * tagged with the batch id.
    */
  def minhashDedupSink(docStream: DataFrame, baseDocs: DataFrame,
                       outPath: String, checkpoint: String,
                       numHashes: Int = 32, bands: Int = 8,
                       triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozen = Freeze.scoped(checkpoint, minhashBandIndex(baseDocs, numHashes, bands))
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      minhashNearDupsAgainst(batch, frozen, numHashes, bands)
    }
  }

  /** The end-to-end clean-corpus materialization: exact dedup keep-list
    * anti-joined back against the corpus — every document whose content
    * hash has a smaller-id copy is dropped; survivors keep their full
    * row. This is the composition a real pipeline runs after candidate
    * generation: one hash-groupBy shuffle + one semi-join on doc_id.
    */
  def dedupedCorpus(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val keep = docs
      .groupBy(contentHash(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
      .select(col("keep_id"))
    docs.join(keep, docs("doc_id") === keep("keep_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------- near-dup cluster resolution

  /** Connected components over candidate pairs (id_a, id_b) by iterative
    * min-label propagation: every node repeatedly adopts the smallest
    * doc_id reachable through its edges; after convergence each near-dup
    * cluster is labeled by its minimum member, which becomes the
    * canonical document to keep.
    *
    * Scale shape: one shuffle per propagation round, converging in
    * O(cluster diameter) rounds — near-dup clusters are shallow (pairs
    * come from LSH bands), so a handful of rounds suffices. Rounds run
    * in PAIRS between driver syncs: two propagation steps chain lazily
    * into one job, so the loop pays half the blocking actions (each
    * driver round-trip is a stall-exposure point — GC, async broadcast
    * cleanup, or co-tenant load between jobs bills straight to the
    * query). The span result is persisted and the previous span
    * unpersisted, keeping lineage flat (at very large scale, swap
    * persist for periodic checkpoints).
    */
  def dedupClusters(pairs: DataFrame, maxIter: Int = ClusterMaxIter): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // persist the edge list: every propagation round joins against it,
    // and without the persist each round would re-run the whole upstream
    // candidate-generation pipeline. Both directions come from ONE
    // explode pass — a union of two selects would reference (and
    // recompute) the candidate-generation subtree twice in the first
    // materialization.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    var labels: DataFrame = null // null until round 1 materializes below
    val labelType = pairs.schema("id_a").dataType
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val span = math.min(2, maxIter - it)
      // each node proposes its label to neighbors; adopt the minimum.
      // In the span's LAST round the node's own row carries its
      // pre-round label through the aggregation (`old` — exactly one
      // non-null per id, preserved by max() since proposals carry
      // null), so `changed` counts labels moved by the FINAL round:
      // zero means the propagation hit its fixpoint inside this span
      // and no verification span is needed — on shallow LSH clusters
      // the whole resolution is ONE action. Intermediate rounds are
      // persisted (the round plan references its input twice — own
      // rows + proposals — and an unpersisted intermediate would be
      // recomputed per reference) but NOT acted on: the span's single
      // count() job materializes the whole chain.
      var cur = labels
      val intermediates = scala.collection.mutable.Buffer.empty[DataFrame]
      for (r <- 1 to span) {
        val last = r == span
        // round 1 needs no join: with initial label(x) = x, propagation
        // degenerates to min(id, min of neighbor ids) — one groupBy over
        // the (symmetric) edge list, which also enumerates every node.
        val (own, proposals) =
          if (cur == null)
            (edges.select(col("dst").as("id"), col("dst").as("label")),
             edges.select(col("dst").as("id"), least(col("src"), col("dst")).as("label")))
          else
            (cur,
             edges.join(cur.select(col("id").as("pid"), col("label")),
                 edges("src") === col("pid"))
               .select(col("dst").as("id"), col("label")))
        cur =
          if (last)
            own.select(col("id"), col("label"), col("label").as("old"))
              .union(proposals.select(col("id"), col("label"),
                lit(null).cast(labelType).as("old")))
              .groupBy(col("id"))
              .agg(min(col("label")).as("label"), max(col("old")).as("old"))
          else {
            val stepped =
              (if (cur == null) proposals // round 1: `own` ⊆ proposals by construction
               else own.union(proposals))
                .groupBy(col("id"))
                .agg(min(col("label")).as("label"))
                .persist()
            intermediates += stepped
            stepped
          }
      }
      // LAZY local checkpoint, materialized by the count below: the next
      // span starts from a flat LogicalRDD leaf instead of the full
      // propagation lineage. Each round references its input TWICE (own
      // rows + proposals), so an uncut logical plan doubles per round and
      // analysis cost grows 2^rounds — fine for shallow LSH clusters,
      // pathological for long chains, and the classic failure mode of
      // every iterative Spark algorithm at scale. Checkpoint blocks are
      // label-table sized and freed by the ContextCleaner when the
      // previous span's handle goes out of scope.
      val next = cur.localCheckpoint(false)
      changed = next.filter(col("label") =!= col("old")).count()
      intermediates.foreach(_.unpersist())
      labels = next.select(col("id"), col("label"))
      it += span
    }
    edges.unpersist() // labels is materialized; edges would otherwise stay pinned
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupClusters did not converge in $maxIter iterations " +
          s"($changed labels still changing) — clusters with diameter > $maxIter " +
          "are split across multiple canonical ids; raise maxIter")
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** The full near-dup keep-list: LSH candidates above an estimated-
    * Jaccard threshold → clusters → (doc_id, canonical_id) where
    * doc_id != canonical_id marks a document to drop.
    */
  def nearDupKeepList(spark: SparkSession, d: String,
                      threshold: Double = NearDupThreshold): DataFrame =
    if (threshold == NearDupThreshold)
      sessionNearDupClusters(spark, d).orderBy(col("doc_id"))
    else
      dedupClusters(
        minhashCandidatePairsUnordered(Tables.documents(spark, d))
          .filter(col("est_jaccard") >= threshold))
        .orderBy(col("doc_id"))

  private val clustersCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** The session full-corpus near-dup cluster table at the registered
    * threshold — the LSH candidate pairs + label-propagation election,
    * parameter-free given (session, dir) and rebuilt per run by FOUR
    * registered queries before r20 (q_neardup_clusters,
    * q_cluster_sizes, q_neardup_keepers, q_leakage_safe_splits).
    * ArtifactStore-backed, sidecar-billed, cold-cleared; implicated
    * rows only (≤ |corpus|) pinned per (session, dir).
    */
  private[ext] def sessionNearDupClusters(spark: SparkSession, d: String): DataFrame =
    clustersCache.computeIfAbsent((spark, d), _ =>
      graft.ArtifactLedger.timed("neardup_clusters")(
        graft.storage.ArtifactStore.cachedFrame(spark, "neardup_clusters", d)(
          dedupClusters(
            minhashCandidatePairsUnordered(Tables.documents(spark, d))
              .filter(col("est_jaccard") >= NearDupThreshold)))
          .localCheckpoint()))

  /** Near-dup cluster SIZE DISTRIBUTION: how duplication mass is
    * shaped — many pairs, or a few template storms? (cluster_size,
    * n_clusters, n_docs) per size, descending. The audit a pipeline
    * reads before choosing dedup strategy: a heavy tail of giant
    * clusters means a boilerplate/template problem upstream of
    * document-level dedup (fix the extractor or add
    * [[graft.ext.Cleaning.boilerplateClean]]), while mass in 2–3-sized
    * clusters is ordinary recrawl duplication the keep-list handles.
    * Unclustered documents are absent by construction
    * ([[dedupClusters]] emits only implicated nodes); size ≥ 2 always.
    *
    * Scale shape: the materialized label table → one canonical-keyed
    * count → one size-keyed count — both aggregations are
    * cluster-table-sized, nothing corpus-sized beyond candidate
    * generation itself.
    */
  def clusterSizes(spark: SparkSession, d: String,
                   threshold: Double = NearDupThreshold): DataFrame =
    if (threshold == NearDupThreshold)
      clusterSizesDf(sessionNearDupClusters(spark, d))
    else
      clusterSizesDf(dedupClusters(
        minhashCandidatePairsUnordered(Tables.documents(spark, d))
          .filter(col("est_jaccard") >= threshold)))

  /** DataFrame form: `clusters` must carry (doc_id, canonical_id). */
  def clusterSizesDf(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
      .orderBy(col("cluster_size").desc)

  /** QUALITY-CANONICAL keeper election per near-dup cluster: the
    * production refinement of [[nearDupKeepList]]'s min-id rule — when
    * a cluster of near-duplicates collapses to one survivor, a real
    * pipeline keeps its BEST member (the cleanest crawl of a page, the
    * least-truncated copy), not the one with the smallest id. Keeper =
    * the member maximizing (quality score, then smallest doc_id on
    * ties — deterministic); every clustered document reports its
    * cluster, its own quality, the elected keeper, and a keep verdict.
    * Documents in no cluster are absent by construction (they keep
    * themselves trivially; this is the drop/keep signal for docs
    * actually implicated in duplication).
    *
    * Scale shape: the cluster table arrives MATERIALIZED (a
    * localCheckpoint leaf out of [[dedupClusters]]), joins the per-doc
    * quality projection once on doc_id, and the election is ONE
    * cluster-keyed window max over a (quality, −doc_id) struct —
    * cluster partitions are LSH-candidate components, inherently
    * small, and no join-back re-references the membership (the
    * paragraph-dedup diamond lesson).
    */
  def nearDupQualityKeepers(spark: SparkSession, d: String,
                            threshold: Double = NearDupThreshold): DataFrame = {
    val docs = Tables.documents(spark, d)
    if (threshold == NearDupThreshold)
      nearDupQualityKeepersDf(sessionNearDupClusters(spark, d), docs)
    else
      nearDupQualityKeepersDf(
        dedupClusters(minhashCandidatePairsUnordered(docs)
          .filter(col("est_jaccard") >= threshold)),
        docs)
  }

  /** DataFrame form: `clusters` must carry (doc_id, canonical_id) —
    * [[dedupClusters]] output — and `docs` (doc_id, text) for quality.
    */
  def nearDupQualityKeepersDf(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val q = Tables.fanOut(docs).filter(length(col("text")) > 0)
      .select(col("doc_id"), TextAnalysis.qualityScoreCol.as("quality"))
    val membered = clusters
      .select(col("doc_id"), col("canonical_id").as("cluster"))
      .join(q, Seq("doc_id"), "left")
      .select(col("cluster"), col("doc_id"),
        coalesce(col("quality"), lit(0.0)).as("quality"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    membered
      .withColumn("kq",
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).over(w))
      .select(col("cluster"), col("doc_id"), col("quality"),
        (-col("kq.nid")).as("keeper_id"),
        col("kq.quality").as("keeper_quality"),
        (col("doc_id") === -col("kq.nid")).as("keep"))
      .orderBy(col("cluster"), col("doc_id"))
  }

  // ------------------------------------------------------------ SimHash

  /** 60-bit SimHash over whitespace tokens: per bit, sum ±1 weighted by
    * token-hash bit; sign → bit. The token hash is the 60-bit md5
    * prefix (the [[graft.ext.Graph.md5Bucket60]] value chain), so the
    * signature — and through it the whole near-dup query — replays
    * exactly in DuckDB: 60 bits instead of 64 keeps every value
    * strictly positive, sidestepping cross-engine arithmetic-shift /
    * bit_count-on-negative semantics entirely, at no detection cost (a
    * fingerprint loses nothing meaningful going 64 → 60 bits).
    *
    * One narrow-map kernel per document — the signature is a pure
    * function of the doc's own tokens, so the previous explode +
    * 64-sum-column groupBy (512 B of agg state and a shuffle keyed by
    * doc_id) was paying for a distribution the problem doesn't have.
    * Values are bit-identical to the aggregate/SQL expression form:
    * same tokenizer, same md5 prefix per token, same sign rule; docs
    * with null text are dropped exactly as explode dropped them.
    */
  private[graft] val SimhashBits = 60

  private val simhashUdf = udf { toks: scala.collection.Seq[String] =>
    val md = Dedup.localMd5.get()
    val counts = new Array[Int](60)
    toks.foreach { t =>
      val dg = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = top 60 bits of the digest
      val h = ((dg(0) & 0xffL) << 52) | ((dg(1) & 0xffL) << 44) |
        ((dg(2) & 0xffL) << 36) | ((dg(3) & 0xffL) << 28) |
        ((dg(4) & 0xffL) << 20) | ((dg(5) & 0xffL) << 12) |
        ((dg(6) & 0xffL) << 4) | ((dg(7) & 0xffL) >>> 4)
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  def simhashSignatures(spark: SparkSession, d: String): DataFrame =
    simhashSignaturesDf(Tables.documents(spark, d))

  /** DataFrame form (docs must have doc_id + text). */
  def simhashSignaturesDf(docs: DataFrame): DataFrame =
    Tables.fanOut(docs)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), simhashUdf(TextAnalysis.tokens(col("text"))).as("simhash"))

  /** SimHash near-dup pairs: bucket by each of four 16-bit chunks
    * (pigeonhole guarantee for Hamming distance ≤ 3), verify exactly.
    */
  def simhashNearDups(spark: SparkSession, d: String, maxDist: Int = 3): DataFrame =
    simhashNearDupsOn(simhashSignatures(spark, d), maxDist)

  /** DataFrame form (docs must have doc_id + text) — the probe/fixture
    * entry point, same chunk-keyed kernel.
    */
  def simhashNearDupsDf(docs: DataFrame, maxDist: Int = 3): DataFrame =
    simhashNearDupsOn(simhashSignaturesDf(docs), maxDist)

  private def simhashNearDupsOn(sigs: DataFrame, maxDist: Int): DataFrame = {
    // 4 pigeonhole chunks of 15 bits each (60-bit signature): hamming
    // <= 3 implies at least one chunk is untouched, so the chunk-keyed
    // bucket join is an EXACT candidate generator for maxDist <= 3
    val chunked = sigs.select(
      col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("chunk")
    ).withColumn("chunk_val",
      expr("simhash >> (chunk * 15)").bitwiseAND(0x7FFF))
    val a = chunked.as("a")
    val b = chunked.as("b")
    val hamming = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    a.join(b,
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------- n-gram Jaccard (exact)

  /** Exact token-3-gram Jaccard similarity for a bounded candidate set
    * (doc_id < limit) — the verification kernel that LSH candidates feed at
    * scale; bounded here so the all-pairs form is oracle-checkable.
    */
  def ngramJaccardPairs(spark: SparkSession, d: String, idLimit: Int = 200): DataFrame = {
    // shingle sets are sorted+distinct ONCE per doc below the join, so the
    // per-pair cost is a single allocation-free codegen'd merge walk
    // (graft.functions.JaccardSortedArrays) instead of two hash sets and
    // two materialized arrays per pair.
    val docs = Tables.fanOut(Tables.documents(spark, d))
      .filter(col("doc_id") < idLimit)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), array_sort(array_distinct(shinglesOfTokens(col("toks")))).as("sh"))
    val a = docs.as("a")
    val b = docs.as("b")
    a.join(broadcast(b), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        graft.functions.JaccardExpression.jaccardSorted(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") > 0.1)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact token-3-gram CONTAINMENT for a bounded candidate set: both
    * directions of |A∩B| / |side| per pair — the ASYMMETRIC near-dup
    * measure (Broder 1997's "containment", the MinHash paper's second
    * resemblance) that catches a short document quoted wholesale inside
    * a long one: Jaccard dilutes by the union (a tweet inside a news
    * roundup scores ≈ 0), while containment of the short side scores
    * ≈ 1. A pair reports when EITHER direction clears the threshold;
    * Jaccard rides along for contrast, computed from the same counts.
    *
    * Scale shape mirrors [[ngramJaccardPairs]]: the bounded id range is
    * the oracle-checkable verification kernel; at corpus scale LSH
    * candidates feed the same per-pair kernel — a single codegen'd
    * merge walk emitting (n_inter, n_a, n_b) once per pair
    * ([[graft.functions.OverlapCountsSortedArrays]]), every ratio
    * derived arithmetic.
    */
  def ngramContainmentPairs(spark: SparkSession, d: String, idLimit: Int = 200,
                            minContain: Double = 0.5): DataFrame =
    ngramContainmentPairsDf(Tables.documents(spark, d), idLimit, minContain)

  /** DataFrame form (docs must have doc_id + text). */
  def ngramContainmentPairsDf(rawDocs: DataFrame, idLimit: Int = 200,
                              minContain: Double = 0.5): DataFrame = {
    val docs = Tables.fanOut(rawDocs)
      .filter(col("doc_id") < idLimit)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), array_sort(array_distinct(shinglesOfTokens(col("toks")))).as("sh"))
    val a = docs.as("a")
    val b = docs.as("b")
    a.join(broadcast(b), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        graft.functions.JaccardExpression.overlapCounts(col("a.sh"), col("b.sh")).as("oc"))
      .select(col("id_a"), col("id_b"),
        round(col("oc.n_inter").cast("double") / col("oc.n_a"), 6).as("contain_a"),
        round(col("oc.n_inter").cast("double") / col("oc.n_b"), 6).as("contain_b"),
        round(col("oc.n_inter").cast("double") /
          (col("oc.n_a") + col("oc.n_b") - col("oc.n_inter")), 6).as("jaccard"))
      .filter(col("contain_a") > minContain || col("contain_b") > minContain)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** CORPUS-WIDE asymmetric containment: the [[ngramContainmentPairsDf]]
    * kernel fed by the MinHash band buckets instead of a bounded-id
    * broadcast all-pairs — the same composition [[minhashCandidatePairs]]
    * runs, so candidate generation never goes O(n²): the only exchanges
    * are the (band, band_hash) self-join and two doc-keyed joins that
    * attach each candidate's sorted shingle array to the pair before
    * the codegen'd merge walk scores it exactly.
    *
    * The HONEST recall boundary, stated not hidden: banding collides on
    * JACCARD resemblance (P ≈ 1 − (1 − j^rows)^bands), so a pair whose
    * containment is high but whose Jaccard is diluted far below the
    * band threshold — a tweet inside a year of news roundups — may
    * never share a bucket at the dedup-tuned default (8 bands × 4
    * rows: j = 0.1 collides with P ≈ 0.0008). The TUNABLE remedy is
    * already in the banding parameters: containment-focused runs
    * raise `bands` toward `numHashes` (rows → 1, P = 1 − (1 − j)^b —
    * j = 0.1 at b = 32 collides with P ≈ 0.97), trading candidate
    * volume (≈ b·j per random pair) for one-sided recall; every
    * candidate is still EXACTLY verified by the kernel, so the trade
    * is cost, never correctness (asserted in DedupSimilaritySpec: a
    * planted quote-in-filler pair invisible at 8×4 is found at 32×1).
    * The full scale remedy is size-stratified banding (LSH Ensemble,
    * Zhu et al., VLDB 2016: partition by set size, tune bands per
    * stratum), which composes with this exact scoring tail unchanged.
    * Within a band-surfaced candidate set the scores are EXACT —
    * DedupSimilaritySpec asserts value equality against the capped
    * auditor on its slice, and that every surfaced pair is a subset
    * of the exact all-pairs result.
    */
  def ngramContainmentCorpus(spark: SparkSession, d: String,
                             minContain: Double = 0.5,
                             numHashes: Int = 32, bands: Int = 8): DataFrame =
    ngramContainmentCorpusDf(Tables.documents(spark, d), minContain, numHashes, bands)

  /** DataFrame form (docs must have doc_id + text). */
  def ngramContainmentCorpusDf(docsIn: DataFrame, minContain: Double = 0.5,
                               numHashes: Int = 32, bands: Int = 8): DataFrame =
    containmentScoreTail(
      minhashCandidatePairsUnordered(docsIn, numHashes, bands)
        .select(col("id_a"), col("id_b")),
      docsIn, minContain)

  /** The exact containment-scoring tail shared by every candidate
    * generator: ONE evaluation of the shingle kernel — each pair
    * unpivots to two (id_a, id_b, doc_id) membership rows, the
    * member's sorted array attaches via a single doc-keyed join, and a
    * 2-row groupBy folds the pair back. Two separate id_a-/id_b-keyed
    * joins of the same projection would evaluate the whole
    * tokenize+shingle+sort lineage TWICE (different join keys — the
    * exchanges don't canonicalize, so nothing is reused); this shape
    * consumes the kernel in exactly one join and the pair-fold
    * exchange carries only CANDIDATE docs' arrays, not the corpus.
    */
  private def containmentScoreTail(cands: DataFrame, docsIn: DataFrame,
                                   minContain: Double): DataFrame = {
    val sh = Tables.fanOut(docsIn)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"),
        array_sort(array_distinct(shinglesOfTokens(col("toks")))).as("sh"))
    val membership = cands.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("doc_id"))
    membership.join(sh, Seq("doc_id"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        max(when(col("doc_id") === col("id_a"), col("sh"))).as("sh_a"),
        max(when(col("doc_id") === col("id_b"), col("sh"))).as("sh_b"))
      // a pair whose member lost its text to the null filter keeps only
      // one side; the two-join form dropped such pairs — preserve that
      .filter(col("sh_a").isNotNull && col("sh_b").isNotNull)
      .select(col("id_a"), col("id_b"),
        graft.functions.JaccardExpression.overlapCounts(
          col("sh_a"), col("sh_b")).as("oc"))
      .select(col("id_a"), col("id_b"),
        round(col("oc.n_inter").cast("double") / col("oc.n_a"), 6).as("contain_a"),
        round(col("oc.n_inter").cast("double") / col("oc.n_b"), 6).as("contain_b"),
        round(col("oc.n_inter").cast("double") /
          (col("oc.n_a") + col("oc.n_b") - col("oc.n_inter")), 6).as("jaccard"))
      .filter(col("contain_a") > minContain || col("contain_b") > minContain)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SIZE-STRATIFIED containment banding — the LSH Ensemble remedy
    * (Zhu et al., VLDB 2016) for the jaccard-collision recall boundary
    * [[ngramContainmentCorpusDf]] documents: containment-high pairs
    * have jaccard diluted by at most their SIZE RATIO (j ≥ c·|A|/|B|),
    * so banding aggressiveness should follow the size gap, not apply
    * globally. Docs land in geometric token-count strata (growth
    * `strataGrowth`); a candidate layout exists per stratum-DISTANCE
    * class, halving rows per class down to 1:
    *
    *   Δ = 0 (sizes within ~g²):  baseBands × r   (the dedup tuning)
    *   Δ = 1:                     2·baseBands × r/2
    *   Δ ≥ 2 (ratio ≥ g):        numHashes × 1   (P = 1 − (1−j)^n)
    *
    * A pair at distance Δ ≥ 2 has j ≤ |A|/|B| ≤ 1/g by size alone, and
    * rows = 1 collides on j = 1/4 with P ≈ 1 − 0.75^32 ≈ 0.9999 — the
    * recall that global dedup-tuned banding provably lacks there. The
    * cost discipline is the ensemble's point: the rows = 1 layer emits
    * ONLY cross-strata pairs, so the same-size bulk of the corpus
    * (where random collisions concentrate) never rides the
    * high-collision layout; same-size pairs pay exactly the dedup
    * tuning. Recall strictly dominates the uniform banding: band
    * boundaries align (a matching r-row band implies both r/2-row
    * halves match), so every pair the uniform layout surfaces in a
    * class also surfaces here, plus the size-gapped pairs it missed
    * (both directions asserted in DedupSimilaritySpec, including the
    * planted quote-in-filler pair that the pinned boundary example
    * shows invisible at uniform 8×4).
    *
    * Scale shape: one banded key stream (Σ bands per doc — 56 keys at
    * the defaults vs 32 for uniform rows = 1), ONE self-join keyed on
    * (layout, band, band_hash) with the stratum-distance predicate
    * applied inside the bucket, then the shared exact
    * [[containmentScoreTail]] — candidates are verified, never
    * trusted. All layouts ride one signature evaluation (single
    * lineage, no per-layout re-derivation — the smoothedStatTable
    * discipline).
    */
  def ngramContainmentStratified(spark: SparkSession, d: String,
                                 minContain: Double = 0.5,
                                 numHashes: Int = 32, baseBands: Int = 8,
                                 strataGrowth: Double = 4.0): DataFrame =
    ngramContainmentStratifiedDf(Tables.documents(spark, d), minContain,
      numHashes, baseBands, strataGrowth)

  /** DataFrame form (docs must have doc_id + text). */
  def ngramContainmentStratifiedDf(docsIn: DataFrame,
                                   minContain: Double = 0.5,
                                   numHashes: Int = 32, baseBands: Int = 8,
                                   strataGrowth: Double = 4.0): DataFrame = {
    val baseRows = numHashes / baseBands
    require(baseRows > 0 && (baseRows & (baseRows - 1)) == 0,
      s"numHashes/baseBands must be a positive power of two, got $baseRows")
    // growth must be a power of two: the stratum is then EXACT integer
    // arithmetic — floor(log_growth(len)) = floor(log2(len)) div g via
    // the binary bit length, identical in every engine (an FP
    // ln(x)/ln(growth) risks a ±1-ulp floor flip at stratum boundaries
    // len = growth^k, which would silently shift candidate classes
    // between engines/platforms — and mathematically
    // floor(log2(x)/g) == floor(floor(log2(x))/g), so nothing changes)
    val g = java.lang.Long.numberOfTrailingZeros(strataGrowth.toLong)
    require(strataGrowth > 1.0 && strataGrowth == (1L << g).toDouble,
      s"strataGrowth must be a power of two > 1, got $strataGrowth")
    // layouts: rows halve per stratum-distance class down to 1
    val nLayouts = java.lang.Integer.numberOfTrailingZeros(baseRows) + 1
    val sigs = Tables.fanOut(docsIn)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), minhashSigUdf(numHashes)(col("toks")).as("sig"),
        floor((length(bin(greatest(size(col("toks")), lit(1)).cast("long")))
          - lit(1)).cast("double") / lit(g)).cast("int")
          .as("stratum"))
    // every layout's band keys in ONE generator over one signature pass
    val layouts = (0 until nLayouts).map { dclass =>
      val rows = math.max(baseRows >> dclass, 1)
      val bands = numHashes / rows
      (lit(dclass), sequence(lit(0), lit(bands - 1)), lit(rows))
    }
    val banded = sigs.select(col("doc_id"), col("stratum"), col("sig"),
      explode(array(layouts.map { case (l, bandSeq, rows) =>
        struct(l.as("layout"), rows.as("rows"), bandSeq.as("bs"))
      }: _*)).as("ly"))
      .select(col("doc_id"), col("stratum"), col("sig"),
        col("ly.layout").as("layout"), col("ly.rows").as("rows"),
        explode(col("ly.bs")).as("band"))
      .select(col("doc_id"), col("stratum"), col("layout"), col("band"),
        xxhash64(concat_ws(",",
          slice(col("sig"), col("band") * col("rows") + 1, col("rows"))),
          col("band")).as("band_hash"))
    val dist = abs(col("a.stratum") - col("b.stratum"))
    val classPred = when(col("a.layout") === lit(nLayouts - 1),
      dist >= lit(nLayouts - 1)).otherwise(dist === col("a.layout"))
    val a = banded.as("a")
    val b = banded.as("b")
    val cands = a.join(b,
        col("a.layout") === col("b.layout") &&
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id") && classPred)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    containmentScoreTail(cands, docsIn, minContain)
  }

  /** Ingest-order slice count of [[dedupCurve]] — shared with the
    * oracle.
    */
  private[graft] val CurveBuckets = 10

  /** NOVELTY-DECAY CURVE — "how fast does new data stop being new":
    * slice the corpus into [[CurveBuckets]] ingest-order slices
    * (doc_id is ingest order; the slice assignment is the z-order
    * extent-scaling pattern, a broadcast 2-scalar aggregate), credit
    * each distinct content hash to the slice of its FIRST occurrence,
    * and report per slice the new-content count, the within-slice
    * novelty rate and the cumulative unique fraction. This is the
    * curve a data-acquisition plan reads before paying for the next
    * crawl tranche: a flattening cum_unique_frac says the source is
    * exhausted (the scaling-law data-curation view of dedup, e.g.
    * Lee et al. 2022).
    *
    * Scale shape: ONE keyed exchange on the 16-byte content hash
    * (keeper = MIN doc_id — the exact-dedup discipline), one slice
    * aggregate each side, cumulative windows over ≤ buckets rows.
    */
  def dedupCurve(spark: SparkSession, d: String): DataFrame =
    dedupCurveDf(Tables.fanOut(Tables.documents(spark, d)))

  def dedupCurveDf(docs: DataFrame): DataFrame = {
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), contentHash(col("text")).as("ch"))
    val m = base.agg(min(col("doc_id")).as("mi"), max(col("doc_id")).as("ma"))
    def sliceOf(id: Column): Column =
      floor((id - col("mi")).cast("double") * CurveBuckets /
        (col("ma") - col("mi") + 1).cast("double")).cast("long")
    val withSlice = base.crossJoin(broadcast(m))
      .select(col("doc_id"), col("ch"), sliceOf(col("doc_id")).as("slice"))
    val perSlice = withSlice.groupBy(col("slice"))
      .agg(count(lit(1)).as("n_docs"))
    val keepers = withSlice.groupBy(col("ch"))
      .agg(min(col("slice")).as("kslice"))
      .groupBy(col("kslice")).agg(count(lit(1)).as("n_new"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("slice"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perSlice.join(keepers, col("slice") === col("kslice"), "left")
      .select(col("slice"), col("n_docs"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_new", sum(col("n_new")).over(w))
      .select(col("slice"), col("n_docs"), col("n_new"),
        (floor(col("n_new").cast("double") / col("n_docs").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("novelty_r"),
        col("cum_docs"), col("cum_new"),
        (floor(col("cum_new").cast("double") / col("cum_docs").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("cum_unique_frac_r"))
      .orderBy(col("slice"))
  }
}
