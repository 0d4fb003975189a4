package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Entity resolution by approximate string join — the curation step
  * that reconciles noisy entity mentions (author names, source labels,
  * URL titles) against a canonical table without an all-pairs scan.
  *
  * The candidate generator is the FastSS k = 1 deletion neighborhood
  * (Bocek et al., 2007): a string's blocking keys are itself plus every
  * single-character deletion. Two strings within Levenshtein distance 1
  * ALWAYS share a key (substitution: delete the differing position from
  * both; insert/delete: the shorter string is a deletion of the longer;
  * equality: the string itself), so recall is exact by construction —
  * unlike soundex/prefix blocking. Sharing a key only bounds the
  * distance by 2, so candidates are verified with a real
  * `levenshtein(a, b) <= 1` before election.
  *
  * Scale shape: |s|+1 keys per row, hash-partitioned by key — the join
  * is a plain keyed shuffle, NEVER an all-pairs product; per-key bucket
  * size is data-bounded (names sharing a deletion), and verification is
  * a per-candidate scalar. For long strings (documents, addresses) the
  * same pipeline swaps the key generator for sorted q-gram prefixes;
  * the k = 1 neighborhood is the short-key regime (names, codes, ids).
  */
object EntityResolution {

  /** Blocking keys of `s`: the string itself plus every 1-char
    * deletion, deduplicated (deleting either of two equal adjacent
    * characters yields the same key; the duplicate would only fan the
    * join out for nothing).
    */
  private def deletionKeys(s: Column): Column =
    array_distinct(concat(
      array(s),
      transform(sequence(lit(1), length(s)), i =>
        concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))))

  /** The deterministic probe corruption: delete the character at
    * position `md5_60(name) mod len` (0-based) — the RNG-free stand-in
    * for an upstream system's typos, replayable in both engines.
    */
  private def corrupt(name: Column): Column = {
    val p = pmod(conv(substring(md5(name), 1, 15), 16, 10).cast("long"),
      length(name).cast("long")).cast("int")
    concat(name.substr(lit(1), p), name.substr(p + 2, length(name)))
  }

  /** Fuzzy-join a probe table (probe_id, probe_name) against a target
    * (key, name) at edit distance ≤ 1: FastSS candidate generation,
    * Levenshtein verification, deterministic best-match election
    * (smallest distance, then smallest key — `min(struct(...))`, the
    * house argmin). Returns one row per probe that matched:
    * (probe_id, probe_name, match_key, match_name, edit_dist,
    * n_matches).
    */
  def fuzzyJoinDf(probes: DataFrame, target: DataFrame): DataFrame =
    fuzzyJoinAgainstIndex(probes, targetIndexDf(target))

  /** The exploded deletion-key index of a (key, name) target table —
    * the frozen artifact the serving sink probes: (k, key, name). Size
    * = Σ (|name|+1) rows; at scale this is the thing you build once
    * and keep, not per batch.
    */
  def targetIndexDf(target: DataFrame): DataFrame =
    target.select(col("key"), col("name"),
      explode(deletionKeys(col("name"))).as("k"))

  /** The join core over a prebuilt (possibly frozen) index. */
  def fuzzyJoinAgainstIndex(probes: DataFrame, index: DataFrame): DataFrame = {
    val pk = probes.select(col("probe_id"), col("probe_name"),
      explode(deletionKeys(col("probe_name"))).as("k"))
    val cand = pk.join(index, Seq("k"))
      .select(col("probe_id"), col("probe_name"), col("key"), col("name"))
      .distinct()
    cand.filter(levenshtein(col("probe_name"), col("name")) <= 1)
      .select(col("probe_id"), col("probe_name"),
        struct(levenshtein(col("probe_name"), col("name")).cast("long").as("d"),
          col("key"), col("name")).as("m"))
      .groupBy(col("probe_id"), col("probe_name"))
      .agg(min(col("m")).as("best"), count(lit(1)).as("n_matches"))
      .select(col("probe_id"), col("probe_name"),
        col("best.key").as("match_key"), col("best.name").as("match_name"),
        col("best.d").as("edit_dist"), col("n_matches"))
      .orderBy(col("probe_id"))
  }

  /** The registered query: corrupt every customer name deterministically
    * and resolve the corrupted mentions back against the customer table.
    * Every probe is one deletion away from its origin, so the output
    * covers the full probe frontier; digit-run names make some probes
    * ambiguous (n_matches > 1), exercising the election.
    */
  def fuzzyCustomerMatch(spark: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(spark, d).select(
      col("c_custkey").as("key"), col("c_name").as("name"))
    val probes = cust.select(col("key").as("probe_id"),
      corrupt(col("name")).as("probe_name"))
    fuzzyJoinDf(probes, cust)
  }

  /** Streaming half of the family: resolve arriving mentions
    * (probe_id, probe_name) against the deletion-key index of a FROZEN
    * target table — the serve shape of every other family
    * (trustRankSink / qualityModelSink precedent). The index is built
    * once, pinned under the sink's checkpoint scope (release via
    * `Freeze.release(checkpoint)` after stop), and probed per
    * micro-batch with the exact batch join core, so batch and stream
    * verdicts cannot drift.
    */
  def fuzzyMatchSink(mentionStream: DataFrame, target: DataFrame,
                     outPath: String, checkpoint: String,
                     triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozen = Freeze.scoped(checkpoint, targetIndexDf(target))
    Freeze.sink(mentionStream, outPath, checkpoint, triggerMs) { batch =>
      fuzzyJoinAgainstIndex(batch, frozen)
    }
  }
}
