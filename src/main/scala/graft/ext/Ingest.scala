package graft.ext

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionArtifact, Tables}
import graft.SessionArtifact.Pin

/** The STREAMING INGEST GATE: every frozen-base admission artifact this
  * library builds, composed into ONE verdict row per arriving document
  * — the single sink a recurring crawl actually runs in front of its
  * training corpus. Per arrival: the three dedup-cascade verdicts
  * (canonical URL, exact content hash, MinHash near-dup), the
  * offset-robust CDC owned-token fraction, the model quality gate, and
  * the final `admitted` bit (no dup fired, CDC ownership under 50 %,
  * quality passed).
  *
  * Why one gate instead of five sinks: the four base artifacts fold
  * into ONE presence index ([[gateIndex]]) frozen under one checkpoint
  * scope (a single [[Freeze]] lifecycle — the listener releases it
  * when the stream stops), and the verdict matrix is what the operator
  * actually wants — WHICH gate fired, not five disjoint outputs to
  * re-join downstream. The production sequencing optimization (gate
  * stage N+1 on stage N's survivors to save compute) is the
  * [[Dedup.dedupCascade]] scaladoc's trade; the audit form computes
  * all verdicts so the stage-overlap is measurable.
  *
  * Scale shape: one probe ([[gateProbe]]) — the arrivals' keys of
  * every kind in one union, each marked owned or not against the
  * base's (kind, key) set, then ONE doc_id-keyed aggregate. Probe work
  * is proportional to the batch, never |batch| × |base|, and a
  * micro-batch runs the same small number of jobs whatever the number
  * of verdicts. How a key is marked owned depends on the caller:
  *   - the batch forms ([[gateAgainst]], [[ingestGate]]) left-join the
  *     [[gateIndex]] frame — a keyed join that scales with the base;
  *   - the stream ([[gateSink]]) collects the index once at freeze time
  *     and broadcasts it under the sink's [[Freeze]] scope; each
  *     trigger looks its keys up in that broadcast set, so no trigger
  *     collects, hashes or broadcasts the base again. The base's key
  *     set (about 10 keys per base document) must fit in memory where
  *     it is collected and on every executor; a base too big for that
  *     belongs in the batch form.
  * The keys come from the Against operators' own expression builders
  * ([[Cleaning.canonicalUrl]], [[Dedup.contentHash]], the MinHash
  * banding, [[Corpus.cdcChunksDf]], [[TextAnalysis.qualityScoreCol]]),
  * so the verdicts cannot drift from theirs — IngestSpec asserts them
  * column-for-column against [[Dedup.dedupCascade]] and
  * [[Corpus.cdcIncremental]].
  */
object Ingest {

  /** The four frozen-base artifacts of a static base corpus, built
    * once: canonical-URL keepers, content-hash keepers, MinHash band
    * index, CDC chunk keepers. (The quality gate is stateless.)
    * [[gateIndex]] folds them into the one index the gate probes.
    */
  private[ext] def artifacts(base: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    (Cleaning.keeperCanonUrls(Dedup.cascadeUrls(base)),
      Dedup.keeperContentHashes(base),
      Dedup.minhashBandIndex(base),
      Corpus.keeperChunkFingerprints(base))

  /** A MinHash band as one string key. */
  private def bandKey(band: Column, bandHash: Column): Column =
    concat(band.cast("string"), lit(":"), bandHash.cast("string"))

  /** The gate's one presence index: a distinct (kind, key) row for
    * every canonical URL, content hash, band (band + band_hash) and CDC
    * chunk md5 the base owns. The one distinct is one keyed exchange:
    * the index comes out hash-partitioned on (kind, key), in the
    * session's shuffle-partition count, so a probe that cannot
    * broadcast it exchanges only the arrival side.
    */
  def gateIndex(urlKeepers: DataFrame, contentKeepers: DataFrame,
                bandIndex: DataFrame, chunkKeepers: DataFrame): DataFrame =
    urlKeepers.select(lit("url").as("kind"), col("canon_url").as("key"))
      .union(contentKeepers.select(lit("content"), col("content_hash")))
      .union(bandIndex.select(lit("band"), bandKey(col("band"), col("band_hash"))))
      .union(chunkKeepers.select(lit("chunk"), col("chunk_md5")))
      .distinct()

  /** The per-arrival verdict matrix, unordered; see the object
    * scaladoc. Every arrival with non-null text emits
    * (doc_id, kind, key, n_tokens) rows — its canonical URL, content
    * hash, 8 band keys, CDC chunks with their token weights, and a
    * `quality` row when its model score passes — and `markOwned` adds
    * the boolean `owned` column: true when the base owns (kind, key),
    * false or null otherwise (a null key is never owned). Columns:
    * doc_id, url_dup, exact_dup, near_dup, cdc_owned_frac,
    * quality_pass, admitted. The input is read as partitioned (no
    * fan-out): a batch caller that wants the kernels spread over more
    * cores fans out first.
    */
  def gateProbe(arrivals: DataFrame, markOwned: DataFrame => DataFrame): DataFrame = {
    def keys(kind: String, rows: DataFrame, key: Column,
             nTokens: Column = lit(0L)): DataFrame =
      rows.select(col("doc_id"), lit(kind).as("kind"), key.as("key"),
        nTokens.as("n_tokens"))
    val probe = Seq(
      keys("url", Dedup.cascadeUrls(arrivals), Cleaning.canonicalUrl(col("url"))),
      keys("content", arrivals.filter(col("text").isNotNull), Dedup.contentHash(col("text"))),
      keys("band", Dedup.minhashBandsOf(arrivals),
        bandKey(col("band"), col("band_hash"))),
      keys("chunk", org.apache.spark.sql.GraftSql.unordered(Corpus.cdcChunksDf(arrivals)),
        col("chunk_md5"), col("n_tokens")),
      // the key never matches: the row's presence is the verdict
      keys("quality", arrivals.filter(length(col("text")) > 0)
        .filter(TextAnalysis.qualityScoreCol >= 0.5), lit(null).cast("string"))
    ).reduce(_ union _)
    val owned = col("owned")
    def fired(kind: String): Column =
      coalesce(max(col("kind") === kind && owned), lit(false))
    val chunk = col("kind") === "chunk"
    markOwned(probe)
      .groupBy(col("doc_id"))
      .agg(
        fired("url").as("url_dup"),
        fired("content").as("exact_dup"),
        fired("band").as("near_dup"),
        // a doc without chunks (empty text) has a NULL token total
        coalesce(Corpus.ownedFrac(
          sum(when(chunk && owned, col("n_tokens")).otherwise(0L)),
          sum(when(chunk, col("n_tokens")))), lit(0.0)).as("cdc_owned_frac"),
        coalesce(max(col("kind") === "quality"), lit(false)).as("quality_pass"))
      .withColumn("admitted",
        !col("url_dup") && !col("exact_dup") && !col("near_dup") &&
          col("cdc_owned_frac") < 0.5 && col("quality_pass"))
  }

  /** [[gateProbe]]'s owned marking for a [[gateIndex]] frame: one left
    * join on (kind, key), `owned` null where the base lacks the key.
    */
  private def joinedTo(index: DataFrame)(probe: DataFrame): DataFrame =
    probe.join(index.withColumn("owned", lit(true)), Seq("kind", "key"), "left")

  /** The per-arrival verdict matrix against pre-built artifacts, in
    * doc_id order: [[gateProbe]] joined to their [[gateIndex]].
    */
  def gateAgainst(arrivals: DataFrame,
                  urlKeepers: DataFrame, contentKeepers: DataFrame,
                  bandIndex: DataFrame, chunkKeepers: DataFrame): DataFrame =
    gateProbe(arrivals,
      joinedTo(gateIndex(urlKeepers, contentKeepers, bandIndex, chunkKeepers)))
      .orderBy(col("doc_id"))

  /** Registered composition: the snapshot/delta split (doc_id % 4 == 0
    * arrives) through the full gate. The three dedup verdict columns
    * are definitionally identical to [[Dedup.dedupCascade]]'s and the
    * CDC fraction to [[Corpus.cdcIncremental]]'s — asserted
    * column-for-column in IngestSpec.
    */
  def ingestGate(spark: SparkSession, d: String): DataFrame = {
    // the arrivals fan out once, so every key kernel runs on all cores
    val arrivals = Tables.documents(spark, d).filter(col("doc_id") % 4 === 0)
    gateProbe(Tables.fanOut(arrivals), joinedTo(sessionGateIndex(spark, d)))
      .orderBy(col("doc_id"))
  }

  /** The session [[gateIndex]] of the %4 base slice, folded from the
    * four session-pinned base artifacts (the [[Dedup.sessionBaseBandIndex]]
    * family). Keyed-checkpointed on (kind, key), the probe's join key,
    * so q_ingest_gate exchanges only its arrival keys; ArtifactStore-
    * backed, sidecar-billed, cold-cleared. |distinct base keys| rows
    * (about 10 per base doc) pinned per (session, dir).
    */
  private val sessionGateIndex =
    SessionArtifact.frame("base_gate_index", Pin.KeyedBy("kind", "key")) { (spark, d) =>
      gateIndex(Dedup.sessionBaseUrlKeepers(spark, d),
        Dedup.sessionBaseContentKeepers(spark, d),
        Dedup.sessionBaseBandIndex(spark, d),
        Corpus.sessionBaseChunkKeepers(spark, d))
    }

  /** The base's [[gateIndex]] as a (kind → keys) map, collected once
    * and broadcast under `scope`, so [[Freeze.release]] destroys it
    * when the stream stops.
    */
  private[ext] def frozenGateKeys(scope: String, baseDocs: DataFrame)
      : Broadcast[Map[String, Set[String]]] = {
    val (u, c, b, k) = artifacts(baseDocs)
    val keys = gateIndex(u, c, b, k).collect()
      .groupMap(_.getString(0))(_.getString(1)).map { case (kind, ks) => kind -> ks.toSet }
    Freeze.scopedBroadcast(scope, baseDocs.sparkSession, keys)
  }

  /** The gate sink's per-batch function: [[gateProbe]] marking each
    * key owned by a lookup in the broadcast key set. The lookup is a
    * UDF over the `Broadcast` handle, so the set never enters the plan.
    */
  private[ext] def gateBatch(keys: Broadcast[Map[String, Set[String]]])
                            (arrivals: DataFrame): DataFrame = {
    val owned = udf((kind: String, key: String) =>
      key != null && keys.value.get(kind).exists(_.contains(key)))
    gateProbe(arrivals, _.withColumn("owned", owned(col("kind"), col("key"))))
  }

  /** Streaming form (foreachBatch stage, on [[Freeze.sink]]'s runner):
    * the base's [[gateIndex]] is collected and broadcast once under the
    * sink's checkpoint scope; each micro-batch of arrivals appends its
    * verdict matrix tagged with the batch id.
    */
  def gateSink(docStream: DataFrame, baseDocs: DataFrame,
               outPath: String, checkpoint: String,
               triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Freeze.sink(docStream, outPath, checkpoint, triggerMs)(
      gateBatch(frozenGateKeys(checkpoint, baseDocs)))
}
