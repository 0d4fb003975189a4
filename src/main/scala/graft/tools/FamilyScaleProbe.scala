package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Directed 100× scaling probes for the round-17 operator families
  * (scale the INPUT STRUCTURE exactly, not a re-hashed replica corpus whose density confounds data growth
  * with plan growth), settling the exponent question the 10× probes
  * left open:
  *
  *  - substring dedup: R content-disjoint corpus copies — every token
  *    carries a per-replica suffix, so gram hashes scatter per replica
  *    and the cross-document island structure replicates EXACTLY R×
  *    (same spans, same boundaries, offset ids).
  *  - audio fingerprints: R content-disjoint copies via the SAME
  *    token tagging — byte content differs throughout the payload,
  *    so fingerprint keys scatter per replica and the planted
  *    one-hop-shifted pairs replicate ~R×. (A prepended-pad variant
  *    was tried first and REJECTED: byte shifts only have `hop`
  *    distinct alignment classes mod the frame hop, so replicas
  *    landing in the same class share every interior frame and
  *    cross-match — measured 751× pair mass at R=100.)
  *  - graph-ANN: R rotation-disjoint embedding copies — replica k
  *    cyclically rotates coordinates by 7k, preserving every
  *    within-replica cosine exactly; the fixed 8-query beam serves
  *    against an R×-corpus (the serving question: does per-query cost
  *    grow with corpus size?).
  *
  * Usage: runMain graft.tools.FamilyScaleProbe [srcDir] [replicas...]
  */
object FamilyScaleProbe {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val reps = { val r = args.drop(1).map(_.toInt); if (r.nonEmpty) r.toSeq else Seq(1, 3, 10, 30, 100) }
    val spark = graft.LocalSession.build()
    import spark.implicits._
    val docs = graft.Tables.fanOut(graft.Tables.documents(spark, src))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text")).localCheckpoint()
    val emb = graft.Tables.embeddings(spark, src)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val dOff = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val vOff = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)

    def docReplicas(r: Int): DataFrame =
      (0 until r).map { k =>
        val base = docs.select((col("doc_id") + k * dOff).as("doc_id"),
          col("source"), col("text"))
        if (k == 0) base
        else
          // per-token suffix: gram identities AND payload bytes
          // scatter per replica (content disjointness)
          base.withColumn("text", concat_ws(" ",
            transform(graft.ext.TextAnalysis.tokens(col("text")),
              x => concat(x, lit(s"_$k")))))
      }.reduce(_ unionAll _).localCheckpoint()

    // AUDIO replicas need LENGTH-PRESERVING byte disjointness: the
    // suffix-tagging docReplicas INSERTS ~2 bytes per token, so a
    // replica is the same byte stream at small cumulative offsets —
    // stretches where the insert total ≡ 0 (mod hop) frame-align with
    // the original and cross-match (the r18 prepended-pad lesson in
    // per-token form; measured 165× pair mass at R=10 before this
    // fix). A per-replica AFFINE SUBSTITUTION over printable ASCII
    // (multiplier coprime to the 94-char range) keeps every byte
    // position fixed while scrambling byte values non-uniformly, so
    // band-energy deltas decorrelate across replicas and the planted
    // shift structure replicates exactly R×.
    // ... with a PER-POSITION stride: only φ(94)=46 affine multipliers
    // exist, so beyond 46 replicas two replicas must share one — and
    // same-multiplier replicas differ by a uniform additive shift that
    // band-energy DELTAS are invariant to (measured as 1.34× pair
    // excess at R=100 before the stride). A replica-keyed stride per
    // character position makes the byte difference position-dependent,
    // which no delta cancellation survives.
    val audioScramble = udf { (s: String, k: Int) =>
      if (k == 0 || s == null) s
      else {
        val a0 = (2 * k + 1) % 94
        val a = if (a0 % 47 == 0) a0 + 2 else a0
        val stride = 1 + k % 89
        val out = new StringBuilder(s.length)
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          out += (if (c >= 0x21 && c <= 0x7e)
            (0x21 + ((c - 0x21) * a + k + i * stride) % 94).toChar
          else c)
          i += 1
        }
        out.toString
      }
    }
    def audioReplicas(r: Int): DataFrame =
      (0 until r).map { k =>
        docs.select((col("doc_id") + k * dOff).as("doc_id"), col("source"),
          audioScramble(col("text"), lit(k)).as("text"))
      }.reduce(_ unionAll _).localCheckpoint()

    def embReplicas(r: Int): DataFrame =
      (0 until r).map { k =>
        val rot = 7 * k % dim
        emb.select((col("vec_id") + k * vOff).as("vec_id"),
          (if (rot == 0) col("embedding")
           else concat(slice(col("embedding"), rot + 1, dim - rot),
             slice(col("embedding"), 1, rot))).as("embedding"))
      }.reduce(_ unionAll _).localCheckpoint()

    // prepare each replica input ONCE (checkpointed), time only the
    // operator chain over it (BenchKit.bestDf: a noop write of every
    // column, min-of-2; the row count runs untimed after), release
    // before the next R so
    // leaked blocks cannot skew the larger-R timings (ADVICE r17)
    // SPARK_GRAFT_PROBE_FAMILIES=substring,gann_bucket narrows a run
    // to the named families (re-probing one family need not pay all)
    val famFilter = sys.env.get("SPARK_GRAFT_PROBE_FAMILIES")
      .map(_.split(",").map(_.trim).toSet)
    def want(n: String): Boolean = famFilter.forall(_.contains(n))
    case class Family(name: String, prepare: Int => DataFrame,
                      op: DataFrame => DataFrame)
    // the token-consuming cores run over the replica's tokenized build
    def toks(in: DataFrame) = graft.ext.TextAnalysis.tokenized(graft.Tables.fanOut(in))
    val families = Seq(
      Family("substring", r => docReplicas(r),
        in => graft.ext.Cleaning.substringDedupOf(graft.ext.Cleaning.spansWithMd5(toks(in)))),
      // minhash: token-suffix replicas are exactly right here (shingle
      // identities scatter per replica — no byte-alignment concern,
      // shingles are token-level), so true near-dup mass replicates R×
      // and the banded self-join's wall should track it
      Family("minhash", r => docReplicas(r),
        in => graft.ext.Dedup.minhashCandidatePairsDf(in)),
      Family("simhash", r => docReplicas(r),
        in => graft.ext.Dedup.simhashNearDupsDf(in)),
      Family("cdc", r => docReplicas(r),
        in => graft.ext.Corpus.cdcChunkDedupDf(in)),
      Family("docchunks", r => docReplicas(r),
        in => graft.ext.Corpus.docChunksDf(in, 64, 48)),
      Family("spandedup", r => docReplicas(r),
        in => graft.ext.Cleaning.spanDedupCore(toks(in))),
      Family("paragraph", r => docReplicas(r),
        in => graft.ext.Cleaning.paragraphDedupStatsDf(in)),
      Family("winnow", r => docReplicas(r),
        in => graft.ext.Cleaning.winnowSpanDedupCore(toks(in))),
      Family("containment", r => docReplicas(r),
        in => graft.ext.Dedup.ngramContainmentCorpusDf(in)),
      Family("audio", r => audioReplicas(r),
        in => graft.ext.Multimodal.audioNearDupPairs(
          graft.ext.Multimodal.plantedShiftedAudio(in, offset = 100000000L))),
      Family("graph_ann", r => embReplicas(r),
        in => graft.ext.Similarity.graphAnnOn(in, graft.ext.Similarity.knnGraphDf(in))))
    println(f"${"family"}%-12s ${"R"}%4s ${"rows"}%10s ${"sec"}%8s ${"ratio"}%8s")
    families.filter(f => want(f.name)).foreach { fam =>
      var base = -1.0
      reps.foreach { r =>
        val in = fam.prepare(r)
        val sec = graft.BenchKit.bestDf(() => fam.op(in))
        val rows = fam.op(in).count()
        org.apache.spark.sql.GraftSql.releaseCheckpoint(in)
        if (base < 0) base = sec
        println(f"${fam.name}%-12s $r%4d $rows%10d $sec%8.2f ${sec / base}%8.2f")
      }
    }
    // graph-ANN BUCKETED SERVE (the r18 structure finding's fix): a
    // FIXED 8-query beam served against an R×-corpus id-bucketed
    // snapshot, buckets ∝ R so bucket SIZE stays constant (the 100 TB
    // sizing rule — at scale buckets are ~128 MB and bucket count
    // grows with data). Snapshot build (kNN graph + bucketed write) is
    // PREPARE cost; only the serve call is timed. Sublinear wall at
    // fixed query count = the gather reads bounded buckets, closing
    // the "gather scans the corpus frame" finding.
    if (want("gann_bucket")) {
      val entry0 = emb.agg(min(col("vec_id"))).head().getLong(0)
      val queries = emb.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"))
        .localCheckpoint()
      var base = -1.0
      reps.foreach { r =>
        val in = embReplicas(r)
        val prefix = s"probe_gann_r$r"
        val (embT, edgesT) =
          graft.ext.Similarity.bucketedAnnState(spark, in, prefix, buckets = 8 * r)
        def serve = graft.ext.Similarity.graphAnnServeOnceOn(
          queries, embT, edgesT, entry = Some(entry0))
        val sec = graft.BenchKit.bestDf(() => serve)
        val rows = serve.count()
        org.apache.spark.sql.GraftSql.releaseCheckpoint(in)
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_emb")
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_edges")
        if (base < 0) base = sec
        println(f"${"gann_bucket"}%-12s $r%4d $rows%10d $sec%8.2f ${sec / base}%8.2f")
      }
      org.apache.spark.sql.GraftSql.releaseCheckpoint(queries)
    }
    org.apache.spark.sql.GraftSql.releaseCheckpoint(docs)
    org.apache.spark.sql.GraftSql.releaseCheckpoint(emb)
    spark.stop()
  }
}
