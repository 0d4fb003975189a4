package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Corpus-prep operators: deterministic splitting and sequence packing. */
class CorpusSpec extends SparkTestBase {
  import spark.implicits._

  test("split assignment is deterministic, content-keyed, and ~90/5/5") {
    val a = Corpus.splitAssignments(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = Corpus.splitAssignments(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a == b, "re-evaluation must not move documents between splits")
    val n = a.size.toDouble
    val train = a.values.count(_ == "train") / n
    assert(train > 0.82 && train < 0.97, s"train fraction off: $train")
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    // identical text -> identical split (no train/test contamination):
    // check via the bucket function directly on a duplicated literal
    val dup = Seq(("x", "same text"), ("y", "same text")).toDF("id", "text")
      .select(substring(md5($"text".cast("binary")), 1, 2).as("b"))
      .collect().map(_.getString(0)).distinct
    assert(dup.length == 1)
  }

  test("packing: every doc exactly once; multi-doc packs within budget") {
    val budget = 2048
    val packs = Corpus.packDocuments(spark, sfDir, budget).collect()
    val docIds = packs.map(_.getLong(1))
    assert(docIds.length == docIds.distinct.length, "doc packed twice")
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(docIds.length.toLong == nDocs, "every doc must be packed")
    val byPack = packs.groupBy(_.getLong(0))
    byPack.foreach { case (pid, members) =>
      val total = members.map(_.getInt(2)).sum
      if (members.length > 1)
        assert(total <= budget, s"pack $pid over budget: $total")
      val overflow = members.exists(_.getBoolean(3))
      if (overflow)
        assert(members.length == 1 && total > budget,
          s"overflow pack $pid must be a single oversized doc")
    }
    // packing efficiency is the point: mean fill should not be degenerate
    val meanFill = byPack.values.map(_.map(_.getInt(2)).sum)
      .filter(_ <= budget).map(_.toDouble / budget)
    if (meanFill.nonEmpty)
      assert(meanFill.sum / meanFill.size > 0.5,
        "greedy packing should fill packs reasonably")
  }

  test("redactPii removes emails and phones, leaves surrounding text intact") {
    val out = Seq(
      "mail a.b+c@ex-1.org now",
      "call 012-555-9999 or 098 555 0000.",
      "no pii here").toDF("text")
      .select(TextAnalysis.redactPii($"text").as("clean"))
      .collect().map(_.getString(0))
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "call <PHONE> or <PHONE>.")
    assert(out(2) == "no pii here")
  }

  test("packStats aggregates are consistent with the pack list") {
    val stats = Corpus.packStats(spark, sfDir).collect().head
    val packs = Corpus.packDocuments(spark, sfDir)
    assert(stats.getAs[Long]("n_packs") ==
      packs.select("pack_id").distinct.count())
    assert(stats.getAs[Long]("docs_packed") == packs.count())
  }

  test("repetition stats: hand-computed fractions, degenerate docs, keep rule") {
    val docs = Seq(
      (1L, "a b a b a b"),            // bigrams: "a b"x3, "b a"x2 -> top 3/5, dup 5/5
      (2L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 9 distinct bigrams -> top 1/9, dup 0
      (3L, "solo"),                   // < 2 tokens -> zeros, keep
      (4L, ""),                       // empty -> zeros, keep
      (5L, null.asInstanceOf[String]) // null -> zeros, keep
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStatsDf(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((5L, 0.6, 1.0, false)))
    assert(out(2L) == ((9L, 0.111111, 0.0, true)))
    Seq(3L, 4L, 5L).foreach(id => assert(out(id) == ((0L, 0.0, 0.0, true))))
  }

  test("domain resampling: weight-1 sources keep all docs; bounds; determinism") {
    val out = Corpus.domainResample(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (src, w, n, kept) =
        (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))
      assert(Set(0.25, 0.5, 0.75, 1.0).contains(w), s"$src weight $w")
      assert(kept >= 0 && kept <= n, s"$src kept $kept of $n")
      // suffix % 4 == 3 -> weight 1.0 -> every doc survives
      val suffix = src.replaceAll("\\D", "").toInt
      assert(w == (suffix % 4 + 1) / 4.0, s"$src wrong weight $w")
      if (w == 1.0) assert(kept == n, s"weight-1.0 source $src dropped docs")
      if (w < 1.0) assert(kept < n, s"weight-$w source $src kept everything " +
        "(threshold not applied?)")
    }
    val again = Corpus.domainResample(spark, sfDir).collect()
    assert(out.toSeq == again.toSeq)
  }

  test("mixture plan: a token-less source gets sample_rate 0.0, not NaN-luck") {
    // a source whose docs are all empty/null text has n_tokens = 0;
    // target/n_tokens would be NaN/Infinity and least(1.0, NaN) happens
    // to resolve to 1.0 under NaN total order — the guard must report 0.0
    val dir = java.nio.file.Files.createTempDirectory("mixture_empty").toString
    // all-NULL texts: an empty STRING still splits to one empty token
    // (same in DuckDB — parity), so null text is the true 0-token case
    Seq(
      (1L, "alpha beta gamma delta", "en", "web1", 22L),
      (2L, null.asInstanceOf[String], "en", "empty2", 0L),
      (3L, null.asInstanceOf[String], "en", "empty2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val rows = Corpus.mixturePlan(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getDouble(5))).toMap
    val (emptyToks, emptyRate) = rows("empty2")
    assert(emptyToks == 0L)
    assert(emptyRate == 0.0, s"token-less source must have rate 0.0, got $emptyRate")
    val (webToks, webRate) = rows("web1")
    assert(webToks == 4L)
    assert(webRate > 0.0 && webRate <= 1.0 && !webRate.isNaN)
  }

  test("corpus diff: planted add/remove/change/unchanged all classified") {
    val old = Seq(
      (1L, "stable text", "s"), (2L, "will change", "s"), (3L, "will vanish", "s"))
      .toDF("doc_id", "text", "source")
    val neu = Seq(
      (1L, "stable text", "s"), (2L, "has changed", "s"), (4L, "brand new", "s"))
      .toDF("doc_id", "text", "source")
    val out = Corpus.corpusDiffDf(old, neu)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out == Map("unchanged" -> 1L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L), s"got $out")
    // presence, not hash nullness, drives the status: a doc in BOTH
    // snapshots with NULL text on one side is 'changed' (not
    // added/removed), and NULL -> NULL is 'unchanged'
    val o2 = Seq((1L, null.asInstanceOf[String], "s"),
      (2L, null.asInstanceOf[String], "s")).toDF("doc_id", "text", "source")
    val n2 = Seq((1L, "now has text", "s"),
      (2L, null.asInstanceOf[String], "s")).toDF("doc_id", "text", "source")
    val out2 = Corpus.corpusDiffDf(o2, n2)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out2 == Map("changed" -> 1L, "unchanged" -> 1L), s"got $out2")
  }

  test("corpus diff fixture: every status present, totals consistent") {
    val rows = Corpus.corpusDiff(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byStatus = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(Set("added", "removed", "changed", "unchanged").subsetOf(byStatus.keySet),
      s"missing statuses: $byStatus")
    // buckets: old = [00,f0), new = [10,ff]; overlap [10,f0) splits into
    // changed [10,20) and unchanged [20,f0) — so unchanged dominates
    assert(byStatus("unchanged") > byStatus("changed"))
    val nDocs = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull).count()
    assert(byStatus.values.sum == nDocs,
      "every doc appears exactly once across the union of statuses")
  }

  test("temperature mixture: tau=1 reproduces natural shares, tau<1 boosts small sources") {
    val natural = Corpus.mixturePlanTemperature(spark, sfDir, tau = 1.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    natural.foreach { case (src, (share, weight)) =>
      assert(math.abs(share - weight) < 2e-6, s"$src: tau=1 weight $weight != share $share")
    }
    val tempered = Corpus.mixturePlanTemperature(spark, sfDir, tau = 0.5)
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(math.abs(tempered.values.map(_._2).sum - 1.0) < 1e-4, "weights must sum to 1")
    val smallest = tempered.minBy(_._2._1)
    val largest = tempered.maxBy(_._2._1)
    assert(smallest._2._2 > smallest._2._1,
      s"tau<1 must BOOST the smallest source: $smallest")
    assert(largest._2._2 < largest._2._1,
      s"tau<1 must SHRINK the largest source: $largest")
  }

  test("temperature mixture: all-zero-token corpus yields an all-zero plan, not NULL/NaN") {
    // degenerate corpus: EVERY source has zero tokens -> the normalizing
    // sum(npw) is 0/NULL; weight/target_tokens/share must guard to 0,
    // mirroring mixturePlan's per-source sample_rate guard
    val dir = java.nio.file.Files.createTempDirectory("mixture_degenerate").toString
    Seq(
      (1L, null.asInstanceOf[String], "en", "s1", 0L),
      (2L, null.asInstanceOf[String], "en", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val rows = Corpus.mixturePlanTemperature(spark, dir).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(!r.isNullAt(3) && r.getDouble(3) == 0.0, s"share must be 0: $r")
      assert(!r.isNullAt(4) && r.getDouble(4) == 0.0, s"weight must be 0: $r")
      assert(!r.isNullAt(5) && r.getLong(5) == 0L, s"target_tokens must be 0: $r")
      assert(!r.isNullAt(6) && r.getDouble(6) == 0.0, s"sample_rate must be 0: $r")
    }
  }

  test("unigram log-prob: hand-computed scores; rare-token docs score lower") {
    import spark.implicits._
    // 9 one-token docs of a common token, 1 of a rare one: p(common) =
    // 9/10, p(rare) = 1/10 — micro-nat snapping is hand-checkable:
    // floor(ln(0.9)*1e6+0.5) = -105361 → avg -0.105361;
    // floor(ln(0.1)*1e6+0.5) = -2302585 → avg -2.302585
    val docs = ((1L to 9L).map(i => (i, "aa")) :+ (10L, "zz"))
      .toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.unigramLogProbDf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 10)
    got.filter(_._1 <= 9).foreach { case (id, n, lp) =>
      assert(n == 1 && lp == -0.105361, s"doc $id: ($n, $lp)")
    }
    assert(got.find(_._1 == 10L).get._3 == -2.302585,
      "rare-token doc must carry the ln(0.1) score")
    // fixture-level sanity: real rows, negative scores, variance
    val fixture = graft.ext.TextAnalysis.unigramLogProb(spark, sfDir).collect()
    assert(fixture.nonEmpty)
    fixture.foreach { r =>
      assert(r.getLong(1) > 0 && r.getDouble(2) < 0.0, s"bad row: $r")
    }
    assert(fixture.map(_.getDouble(2)).distinct.length > 1,
      "fixture must produce score variance")
  }

  test("source KL drift: zero for corpus-matching sources, positive for skewed") {
    import spark.implicits._
    // s1/s2 both 50/50 {aa,bb} → each matches the 4-aa/4-bb/... corpus
    // slice it contributes to? No: the corpus is {aa:2, bb:2, cc:2}, so
    // p_c = 1/3 each. s1/s2: p_s = 1/2 for aa,bb → KL = ln(3/2) ≈
    // 0.405465108; s3: p_s(cc)=1, p_c(cc)=1/3 → KL = ln(3) ≈ 1.098612289
    val docs = Seq(
      (1L, "aa bb", "s1"), (2L, "aa bb", "s2"), (3L, "cc cc", "s3")
    ).toDF("doc_id", "text", "source")
    val tiny = graft.ext.TextAnalysis.sourceKlDivergenceDf(docs)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(tiny("s1") == ((2L, 0.405465108)), s"s1: ${tiny("s1")}")
    assert(tiny("s2") == ((2L, 0.405465108)), s"s2: ${tiny("s2")}")
    assert(tiny("s3") == ((1L, 1.098612289)), s"s3: ${tiny("s3")}")
    // fixture: KL non-negative up to snapping error, with real variance
    val fixture = graft.ext.TextAnalysis.sourceKlDivergence(spark, sfDir).collect()
    assert(fixture.nonEmpty)
    fixture.foreach { r =>
      assert(r.getDouble(2) >= -r.getLong(1) * 5e-10,
        s"KL must be non-negative up to snapping: $r")
    }
    assert(fixture.map(_.getDouble(2)).exists(_ > 0.0),
      "fixture sources must show real drift")
  }

  test("decontamination: eval docs never reported, ratios in (0,1], leak detected") {
    val rows = Corpus.decontaminationStats(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getLong(0) % 20 != 7, "eval slice must not appear as training output")
      val ratio = r.getDouble(3)
      assert(ratio > 0.0 && ratio <= 1.0, s"ratio out of range: $ratio")
      assert(r.getLong(2) <= r.getLong(1), "contaminated shingles exceed total")
    }
    // planted exact leak: a training doc that IS an eval doc's text must
    // be reported with 100% contamination; an unrelated doc must not
    // appear at all
    val evalText = graft.Tables.documents(spark, sfDir)
      .filter($"doc_id" % 20 === 7).select($"text").limit(1)
      .collect().head.getString(0)
    val tiny = Seq((7L, evalText), (8L, evalText),
      (10L, "completely different words here and nothing shared at all"))
      .toDF("doc_id", "text")
    val hits = Corpus.decontaminationStatsDf(tiny).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(1))).toMap
    assert(hits.contains(8L) && hits(8L)._1 == hits(8L)._2,
      "exact copy of an eval doc must be 100% contaminated")
    assert(!hits.contains(10L), "unrelated doc must not be flagged")
  }

  test("decontamination: one-pass fallback (oversized eval guard) matches broadcast path") {
    val docs = graft.Tables.documents(spark, sfDir)
    val viaBroadcast = Corpus.decontaminationStatsDf(docs).collect().toSeq
    // maxBroadcastEvalBytes = 0 forces the oversized-eval fallback; the
    // execution strategy must not change the reported contamination
    val viaOnePass =
      Corpus.decontaminationStatsDf(docs, maxBroadcastEvalBytes = 0L).collect().toSeq
    assert(viaBroadcast == viaOnePass,
      "broadcast and one-pass fallback paths must agree")
    assert(viaBroadcast.nonEmpty, "fixture must produce contaminated docs")
    // the fallback must not broadcast the eval side, and must read the
    // documents source exactly ONCE (the fused single-pass shape)
    val p = Corpus.decontaminationStatsDf(docs, maxBroadcastEvalBytes = 0L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"),
      s"fallback path must not broadcast:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"one-pass fallback must scan the source exactly once:\n$p")
    // and the default (bounded-eval) path must really take the
    // broadcast-probe shape
    val pb = Corpus.decontaminationStatsDf(docs)
      .queryExecution.executedPlan.toString
    assert(pb.contains("BroadcastHashJoin"),
      s"bounded-eval path must broadcast the probe set:\n$pb")
  }

  test("decontamination: building the DataFrame launches zero Spark jobs") {
    // the status tracker is fed by the (async) listener bus, which
    // processes events in order — so once the SENTINEL job below is
    // visible, any job a builder had started would be visible too
    val tracker = spark.sparkContext.statusTracker
    def jobIds: Set[Int] = tracker.getJobIdsForGroup(null).toSet
    val docs = graft.Tables.documents(spark, sfDir)
    val before = jobIds
    Corpus.decontaminationStatsDf(docs)              // broadcast-guard path
    Corpus.decontaminationStatsDf(docs, maxBroadcastEvalBytes = 0L) // fallback
    spark.range(1).collect()  // sentinel: shuffle-free -> exactly 1 job
    val deadline = System.nanoTime() + 10e9.toLong
    while ((jobIds -- before).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    val ran = (jobIds -- before).size
    assert(ran == 1,
      s"query builders must be lazy — ${ran - 1} extra job(s) ran at plan build")
  }

  test("dsir: target-like doc outranks unrelated doc; weights deterministic") {
    // target slice (%20 == 7) speaks alpha/beta; raw doc 1 mimics it,
    // raw doc 2 shares no bigram with anything
    val docs = Seq(
      (7L, "alpha beta gamma alpha beta"),
      (27L, "beta gamma alpha beta gamma"),
      (1L, "alpha beta gamma alpha"),
      (2L, "zig zag zig zag zig")).toDF("doc_id", "text")
    val w = Corpus.dsirWeightsOf(docs)._1.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(w.keySet == Set(1L, 2L), "exactly the raw docs are scored")
    assert(w(1L)._1 == 3 && w(2L)._1 == 4, "n_grams = tokens - 1")
    assert(w(1L)._2 > w(2L)._2,
      s"target-like doc must outweigh unrelated doc: $w")
    // target-slice grams dominate doc 1's buckets -> its average LLR is
    // positive; doc 2's buckets are raw-only -> negative
    assert(w(1L)._2 > 0 && w(2L)._2 < 0, s"LLR signs: $w")
    val w2 = Corpus.dsirWeightsOf(docs)._1.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(w == w2, "weights must be deterministic")
  }

  test("dsir: selection is top-k of the weight table, rank-ordered") {
    val sel = Corpus.dsirSelect(spark, sfDir, k = 10).collect()
    assert(sel.length == 10)
    assert(sel.map(_.getInt(0)).toSeq == (1 to 10), "ranks must be 1..k")
    val avgs = sel.map(_.getLong(4))
    assert(avgs.toSeq == avgs.sorted.reverse.toSeq,
      "selection must be weight-descending")
    val all = Corpus.dsirWeights(spark, sfDir).collect().map(_.getLong(3))
    assert(avgs.head == all.max, "rank 1 must carry the global max weight")
  }

  test("mixtureExecute: achieved counts within plan bounds; huge budget keeps all") {
    val out = Corpus.mixtureExecute(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "kept docs exceed doc count")
      assert(r.getDouble(5) >= 0.0, "achieved ratio negative")
    }
    // a budget far above the corpus token count drives every rate to 1.0
    // -> every non-null-text doc is kept
    val all = Corpus.mixtureExecute(spark, sfDir, budgetTokens = 1000000000L)
      .collect()
    val nonNull = graft.Tables.documents(spark, sfDir)
      .filter($"text".isNotNull).count()
    assert(all.map(_.getLong(3)).sum == nonNull,
      "rate >= 1 must keep every non-null-text document")
  }

  test("bpe stats: subword counts bounded by chars and words; merges bite; deterministic") {
    val out = TextAnalysis.bpeStats(spark, sfDir).collect()
    assert(out.nonEmpty)
    val nonEmptyDocs = out.filter(_.getLong(1) > 0)
    nonEmptyDocs.foreach { r =>
      val (words, bpe, chars) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(bpe >= words, s"each word is at least one subword: $r")
      assert(bpe <= chars, s"subwords cannot outnumber characters: $r")
      assert(r.getDouble(4) >= 1.0, s"chars per token below 1: $r")
    }
    // merges learned on this corpus must actually compress it: with the
    // whitespace corpus vocabulary, well under 1 subword per char
    val totBpe = nonEmptyDocs.map(_.getLong(2)).sum.toDouble
    val totWordChars = nonEmptyDocs.map(r => r.getLong(3)).sum.toDouble
    assert(totBpe < totWordChars / 2, s"merges too weak: $totBpe vs $totWordChars chars")
    val merges = TextAnalysis.bpeMerges(spark, sfDir).collect()
    assert(merges.nonEmpty && merges.map(_.getLong(0)).toSeq == (0L until merges.length).toSeq)
    merges.foreach(r => assert(r.getString(3) == r.getString(1) + r.getString(2)))
    val again = TextAnalysis.bpeStats(spark, sfDir).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq, "training must be deterministic")
  }

  test("subword scoring pins: pinned paths are bit-equal to the self-encoding paths") {
    // per-doc: the registered (pinned) path vs the frozen-model form that
    // re-derives the word-type domain and encodes inline — same trained
    // models, so any divergence is a pin-domain bug
    val ranks = TextAnalysis.trainedMerges(spark, sfDir,
      TextAnalysis.BpeMergesDefault, TextAnalysis.BpeSampleDocsDefault,
      TextAnalysis.BpeMaxVocabDefault)
      .zipWithIndex.map { case (p, i) => p -> i }.toMap
    val docs = graft.Tables.fanOut(graft.Tables.documents(spark, sfDir))
    assert(TextAnalysis.bpeStats(spark, sfDir).collect().map(_.toString).toSeq ==
      TextAnalysis.bpeStatsWithRanks(docs, ranks).collect().map(_.toString).toSeq,
      "pinned bpeStats diverged from the self-encoding path")
    val logp = TextAnalysis.sessionUnigramPieces(spark, sfDir,
      TextAnalysis.UnigramVocabDefault).toMap
    assert(TextAnalysis.unigramStats(spark, sfDir).collect().map(_.toString).toSeq ==
      TextAnalysis.unigramStatsWithVocab(docs, logp).collect().map(_.toString).toSeq,
      "pinned unigramStats diverged from the self-encoding path")
    // per-source: the pinned word-count/enc-len join vs a from-scratch
    // raw-text rebuild of the old shape
    val encLen = udf { w: String =>
      graft.functions.BpeKernel.encode(w, ranks).length.toLong
    }
    val wcRaw = docs.filter($"text".isNotNull)
      .select($"source", explode(TextAnalysis.tokens($"text")).as("word"))
      .groupBy($"source", $"word").agg(count(lit(1)).as("cnt"))
    val oldFert = wcRaw.join(
        wcRaw.select($"word").distinct()
          .select($"word", encLen($"word").as("enc_len")), "word")
      .groupBy($"source")
      .agg(sum($"cnt").as("n_words"),
        sum($"cnt" * $"enc_len").as("n_bpe_tokens"),
        sum($"cnt" * length($"word")).as("n_word_chars"))
      .select($"source", $"n_words", $"n_bpe_tokens",
        round($"n_bpe_tokens".cast("double") / $"n_words", 6).as("fertility"),
        round($"n_word_chars".cast("double") / $"n_bpe_tokens", 6)
          .as("chars_per_subword"))
      .orderBy($"source")
    assert(TextAnalysis.bpeFertility(spark, sfDir).collect().map(_.toString).toSeq ==
      oldFert.collect().map(_.toString).toSeq,
      "pinned bpeFertility diverged from the raw-text rebuild")
  }

  test("bpe fertility: per-source rollup reconciles with the per-doc totals") {
    val fert = TextAnalysis.bpeFertility(spark, sfDir).collect()
    assert(fert.nonEmpty)
    fert.foreach { r =>
      assert(r.getDouble(3) >= 1.0, s"fertility below one subword per word: $r")
      assert(r.getDouble(4) >= 1.0, s"chars per subword below 1: $r")
    }
    // totals across sources equal the per-doc operator's totals (same
    // ranks, same corpus, different rollup key)
    val docTotals = TextAnalysis.bpeStats(spark, sfDir).collect()
    assert(fert.map(_.getLong(1)).sum == docTotals.map(_.getLong(1)).sum)
    assert(fert.map(_.getLong(2)).sum == docTotals.map(_.getLong(2)).sum)
  }

  test("unigram: distributed trainer is bit-equal to the driver-side reference") {
    import spark.implicits._
    val words = Seq(
      ("running", 30L), ("runner", 20L), ("run", 25L), ("jumped", 12L),
      ("jumping", 18L), ("jump", 9L), ("ed", 3L), ("ingot", 4L), ("go", 7L))
    val df = words.toDF("word", "cnt").repartition(7) // partitioning must not matter
    val dist = TextAnalysis.trainUnigramDistributed(df, targetVocab = 24)
    val ref = graft.functions.UnigramKernel.train(words.toMap, targetVocab = 24)
    assert(dist == ref,
      s"distributed and reference trainers diverged:\n$dist\nvs\n$ref")
    assert(dist.nonEmpty && dist.exists(_._1.length > 1),
      "training on a morphology-rich fixture must learn multi-char pieces")
  }

  test("unigram stats/fertility: bounds hold and the two schemes reconcile on words") {
    val out = TextAnalysis.unigramStats(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.filter(_.getLong(1) > 0).foreach { r =>
      val (words, sub, chars) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(sub >= words, s"each word is at least one piece: $r")
      assert(sub <= chars, s"pieces cannot outnumber characters: $r")
    }
    val fert = TextAnalysis.unigramFertility(spark, sfDir).collect()
    assert(fert.nonEmpty)
    fert.foreach { r =>
      assert(r.getDouble(3) >= 1.0, s"fertility below one piece per word: $r")
      assert(r.getDouble(4) >= 1.0, s"chars per piece below 1: $r")
    }
    // the word totals must agree with the BPE audit exactly — same
    // corpus, same whitespace words, different subword scheme
    val bpe = TextAnalysis.bpeFertility(spark, sfDir).collect()
    assert(fert.map(_.getLong(1)).sum == bpe.map(_.getLong(1)).sum,
      "word totals must match the BPE fertility audit")
    // and the vocab table is ranked + micro-snapped
    val vocab = TextAnalysis.unigramVocab(spark, sfDir).collect()
    assert(vocab.nonEmpty)
    assert(vocab.map(_.getLong(0)).toSeq == (0L until vocab.length).toSeq)
    assert(vocab.map(_.getDouble(2)).toSeq.sliding(2).forall {
      case Seq(a, b) => a >= b; case _ => true
    }, "vocab must be sorted by logprob desc")
  }

  test("tokenizer bake-off: joins the two fertility frames bit-for-bit, ratio exact") {
    val bake = TextAnalysis.tokenizerBakeoff(spark, sfDir).collect()
    assert(bake.nonEmpty)
    assert(TextAnalysis.tokenizerBakeoff(spark, sfDir).columns.toSeq == Seq(
      "source", "n_words", "n_bpe_tokens", "n_unigram_tokens",
      "bpe_fertility", "unigram_fertility", "fertility_ratio",
      "bpe_chars_per_subword", "unigram_chars_per_subword"))
    // the independently computed halves ARE the bake-off's cells
    val bpe = TextAnalysis.bpeFertility(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val uni = TextAnalysis.unigramFertility(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(bake.map(_.getString(0)).toSet == bpe.keySet.intersect(uni.keySet))
    bake.foreach { r =>
      val src = r.getString(0)
      val (bw, bt, bf, bc) = bpe(src)
      val (uw, ut, uf, uc) = uni(src)
      assert(bw == uw && r.getLong(1) == bw, s"word counts must agree: $r")
      assert(r.getLong(2) == bt && r.getLong(3) == ut, s"token counts: $r")
      assert(r.getDouble(4) == bf && r.getDouble(5) == uf, s"fertilities: $r")
      assert(r.getDouble(7) == bc && r.getDouble(8) == uc, s"chars/subword: $r")
      assert(r.getDouble(6) ==
        math.floor(uf / bf * 1e6 + 0.5) / 1e6, s"ratio snap: $r")
    }
  }

  test("shuffle mix: hash order sits on the no-replacement baseline in aggregate") {
    val rows = Corpus.shuffleMixAudit(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) < 1.0)
    }
    // per-shard fractions are noisy at ~30 docs/shard; the aggregate
    // same-source rate must track the aggregate baseline (a sorted-by-
    // source order would read ~1.0 against a baseline well under it)
    val totPairs = rows.map(_.getLong(2)).sum.toDouble
    val same = rows.map(r => r.getDouble(3) * r.getLong(2)).sum / totPairs
    val expect = rows.map(r => r.getDouble(4) * r.getLong(2)).sum / totPairs
    assert(math.abs(same - expect) < 0.1,
      s"hash shuffle detached from the i.i.d. baseline: $same vs $expect")
  }

  test("repeat schedule: repeats are discounted, capped at U(1+R*), and the 2x budget forces repetition") {
    val rows = Corpus.repeatSchedule(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTok = r.getLong(3); val target = r.getLong(4)
      val epochs = r.getDouble(5); val eff = r.getLong(6)
      val vf = r.getDouble(7)
      assert(vf >= 0.0 && vf <= 1.0)
      if (nTok > 0 && target > nTok) {
        // repeated tokens still add value, but never full value, and
        // never more than the R* saturation ceiling U·(1 + R*)
        assert(eff >= nTok && eff <= target)
        assert(eff <= math.round(nTok * 16.0))
        if (epochs > 1.5) assert(vf < 1.0,
          s"${r.getString(0)}: $epochs epochs uncounted as discount")
      } else if (nTok > 0) {
        // under one epoch every budgeted token is fresh: full value
        assert(eff == target)
        assert(vf == (if (target > 0) 1.0 else 0.0))
      }
    }
    // a 2x-total-tokens budget must push some source past one epoch
    assert(rows.exists(_.getDouble(5) > 1.0))
  }

  test("truncation loss: bounded, monotone in L, and zero at an unreachable cap") {
    def bysrc(l: Int) = Corpus.truncationLoss(spark, sfDir, l).collect()
      .map(r => r.getString(0) -> r).toMap
    val at512 = bySrc512Check(bysrc = bysrc(512))
    val at2048 = bysrc(2048)
    at512.foreach { case (s, r) =>
      // a looser cap can only keep more tokens and lose a smaller frac
      assert(at2048(s).getLong(5) >= r.getLong(5))
      assert(at2048(s).getDouble(6) <= r.getDouble(6))
    }
    // a cap no document reaches loses nothing
    bysrc(Int.MaxValue).values.foreach { r =>
      assert(r.getLong(2) == 0L && r.getDouble(6) == 0.0)
    }
  }

  private def bySrc512Check(bysrc: Map[String, org.apache.spark.sql.Row])
      : Map[String, org.apache.spark.sql.Row] = {
    assert(bysrc.nonEmpty)
    bysrc.values.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))                   // n_over <= n_docs
      assert(r.getLong(5) <= r.getLong(4))                   // kept <= total
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0) // over_frac
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0) // loss_frac
      // a source only loses tokens if some doc exceeds the cap, and
      // vice versa (over docs each lose >= 1 token at L < their length)
      assert((r.getLong(2) > 0) == (r.getLong(5) < r.getLong(4)))
    }
    bysrc
  }

  test("compression ratio: repetitive text flags low, random-ish text high, order sane") {
    import org.apache.spark.sql.functions.lit
    val rnd = new scala.util.Random(7)
    val randomish = (1 to 400).map(_ => rnd.alphanumeric.take(8).mkString).mkString(" ")
    val docs = Seq(
      (0L, ("repeat me " * 400).trim),     // long-range repetition
      (1L, randomish),                     // high-entropy tokens
      (2L, ""),                            // degenerate: ratio defined as 1.0
      (4L, "plain short sentence with a few ordinary words in it")
    ).toDF("doc_id", "text")
      .union(Seq((3L, null.asInstanceOf[String])).toDF("id", "t")
        .select($"id".as("doc_id"), lit(null).cast("string").as("text")))
    val out = TextAnalysis.compressionStatsDf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getDouble(3) < out(1L).getDouble(3),
      "repetitive text must compress better than high-entropy text")
    assert(out(0L).getBoolean(4) && !out(0L).getBoolean(5), "repeats flag too_repetitive")
    assert(out(1L).getDouble(3) > 0.5, s"alphanumeric soup barely compresses: ${out(1L)}")
    assert(out(2L).getDouble(3) == 1.0 && out(3L).getDouble(3) == 1.0,
      "empty/null text define ratio 1.0")
    out.values.foreach { r =>
      assert(r.getDouble(3) > 0.0, s"ratio must be positive: $r")
      assert(r.getBoolean(6) == (!r.getBoolean(4) && !r.getBoolean(5)))
    }
    // deterministic across runs (fresh Deflater per doc, fixed level)
    val again = TextAnalysis.compressionStatsDf(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(again == out.view.mapValues(_.getDouble(3)).toMap)
  }

  test("epoch shuffle: total permutation, partition-layout-invariant, epoch-salted") {
    val docs = graft.Tables.documents(spark, sfDir).filter($"text".isNotNull)
    val e1 = Corpus.epochShuffleShards(spark, sfDir).collect()
    // every non-null-text doc appears exactly once
    assert(e1.map(_.getLong(0)).distinct.length == e1.length)
    assert(e1.length == docs.count())
    // positions are contiguous 1..n within each shard (a loader resumes
    // from (shard, pos) — gaps would skip documents silently)
    e1.groupBy(_.getString(1)).foreach { case (shard, rows) =>
      val ps = rows.map(_.getLong(2)).sorted
      assert(ps.toSeq == (1L to ps.length).toSeq, s"shard $shard positions not contiguous")
    }
    // layout invariance — the retry/resume property rand() lacks: the
    // same corpus under a different partitioning yields the SAME order
    val reshaped = Corpus.epochShuffleShardsDf(
      docs.repartition(7, $"doc_id")).collect()
    assert(e1.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      reshaped.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet,
      "permutation must not depend on physical partitioning")
    // different epoch -> different permutation (salt reaches the hash)
    val e2 = Corpus.epochShuffleShardsDf(docs, epoch = 2).collect()
    val m1 = e1.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val m2 = e2.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(m1.keySet == m2.keySet)
    assert(m1.count { case (k, v) => m2(k) == v } < m1.size / 2,
      "epoch salt must reshuffle most of the corpus")
    // shard stats reconcile with the per-doc view
    val stats = Corpus.shardStats(spark, sfDir).collect()
    val fromDocs = e1.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    assert(stats.map(r => r.getString(0) -> r.getLong(1)).toMap == fromDocs)
  }

  test("length buckets: boundary docs land low, oversized docs truncate into the top") {
    import spark.implicits._
    def words(k: Int) = Seq.fill(k)("w").mkString(" ")
    val df = Seq(
      (1L, words(16)),   // exactly at a boundary -> 16-bucket
      (2L, words(17)),   // one over -> 32-bucket
      (3L, words(96)),   // top capacity, no truncation
      (4L, words(120))   // truncates: kept 96, loss 24
    ).toDF("doc_id", "text")
    val out = Corpus.lengthBucketsDf(df)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(16) == ((1L, 16L, 16L, 0L, 0L)), s"boundary: ${out.get(16)}")
    assert(out(32) == ((1L, 17L, 17L, 15L, 0L)), s"one-over: ${out.get(32)}")
    assert(out(96) == ((2L, 216L, 192L, 0L, 24L)), s"top bucket: ${out.get(96)}")
  }

  test("length buckets: fixture totals conserve tokens; efficiency in (0,1]") {
    val out = Corpus.lengthBuckets(spark, sfDir).collect()
    assert(out.length >= 3, s"fixture must spread across buckets: ${out.length}")
    out.foreach { r =>
      val (cap, docs, kept, waste, eff) =
        (r.getInt(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getDouble(6))
      assert(cap * docs == kept + waste, s"pad accounting broken at $cap")
      assert(eff > 0.0 && eff <= 1.0, s"efficiency out of range at $cap: $eff")
    }
    // token conservation: total_tokens sums to the corpus token count
    val totalFromBuckets = out.map(_.getLong(2)).sum
    val corpus = TextAnalysis.tokenStats(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).collect().head.getLong(0)
    assert(totalFromBuckets == corpus,
      s"bucket totals must conserve corpus tokens: $totalFromBuckets vs $corpus")
  }

  test("domain cap: bounded aggregator election equals the rank-window reference") {
    val out = Corpus.domainCap(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // reference: the same election as an explicit window at fixture scale
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val expected = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("source"),
        TextAnalysis.qualityScoreCol.as("quality_score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .collect()
      .map(r => (r.getString(1), r.getInt(3).toLong, r.getLong(0), r.getDouble(2)))
    assert(out.toSet == expected.toSet,
      s"aggregator vs window disagree: ${out.toSet.diff(expected.toSet)} / ${expected.toSet.diff(out.toSet)}")
    // the cap bites: every source holds more docs than it keeps
    val kept = out.groupBy(_._1).map { case (_, rs) => rs.length }
    assert(kept.forall(_ == 10), s"every 25-doc source must cap at 10: $kept")
  }

  test("token-budget select: best-first by class, boundary class whole, budget respected") {
    val rows = Corpus.tokenBudgetSelect(spark, sfDir).collect()
      .map(r => (r.getDouble(1), r.getLong(2), r.getBoolean(3)))
    val classes = rows.groupBy(_._1).map { case (q, rs) =>
      (q, rs.map(_._2).sum, rs.map(_._3).distinct)
    }.toSeq
    // equal scores share a fate — the boundary class is never split
    classes.foreach { case (q, _, verdicts) =>
      assert(verdicts.length == 1, s"class $q split across keep verdicts")
    }
    val keptQ = classes.filter(_._3.head).map(_._1)
    val dropQ = classes.filterNot(_._3.head).map(_._1)
    assert(keptQ.nonEmpty, "the best class is always kept")
    assert(dropQ.nonEmpty, "a half-token budget must drop something here")
    assert(keptQ.min > dropQ.max, "kept classes must strictly dominate dropped ones")
    // strictly-better-than-boundary classes fit the budget; adding the
    // first dropped class would exceed it
    val total = rows.map(_._2).sum
    val boundary = keptQ.min
    val aboveBoundary = rows.filter(r => r._3 && r._1 != boundary).map(_._2).sum
    val keptTokens = rows.filter(_._3).map(_._2).sum
    assert(aboveBoundary * 2 < total, "pre-boundary cumulative must stay under budget")
    assert(keptTokens * 2 >= total, "stopping means the budget was reached")
  }

  test("token-budget select: hand-built classes — overshoot bounded by one class") {
    import spark.implicits._
    // three quality classes via distinct repetitive shapes; token counts
    // chosen so the budget boundary falls INSIDE the middle class
    def mk(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val hi = (1 to 4).map(i => mk(i, Seq.fill(10)(Seq("the", "a", "of", "and")).flatten))
    val mid = (11 to 14).map(i => mk(i, (1 to 40).map(k => s"m$k")))
    val lo = (21 to 24).map(i => mk(i, Seq.fill(40)("!!!")))
    val out = Corpus.tokenBudgetSelectDf(
        (hi ++ mid ++ lo).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(3)))
    val byId = out.map(r => r._1 -> r._3).toMap
    assert(hi.forall(d => byId(d._1)), "stopword-rich class must be kept")
    assert(lo.forall(d => !byId(d._1)), "punctuation-soup class must be dropped")
    // the middle class is the boundary: kept whole (overshoot ≤ one class)
    val midVerdicts = mid.map(d => byId(d._1)).distinct
    assert(midVerdicts == Seq(true), "boundary class must be included whole")
  }

  /** The UniMax paper's sequential waterfilling, for parity with the
    * closed form: ascending token count, each language granted
    * min(cap·n, remaining/left).
    */
  private def unimaxBrute(langs: Seq[(String, Long)], cap: Long): Map[String, Double] = {
    val budget = math.floor(7.0 * langs.map(_._2).sum / 4)
    var remaining = budget
    var left = langs.size
    val out = scala.collection.mutable.Map[String, Double]()
    langs.sortBy(l => (l._2, l._1)).foreach { case (lang, n) =>
      val grant = math.min(cap.toDouble * n, remaining / left)
      out(lang) = grant
      remaining -= grant
      left -= 1
    }
    out.toMap
  }

  test("unimax: closed form equals sequential waterfilling on the real table") {
    val out = Corpus.unimaxMixture(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getBoolean(3), r.getLong(4)))
    val brute = unimaxBrute(out.map(r => (r._1, r._2)).toSeq, 2L)
    out.foreach { case (lang, _, _, target) =>
      assert(math.abs(target - brute(lang)) <= 1.0,
        s"$lang: closed form $target vs waterfilling ${brute(lang)}")
    }
  }

  test("unimax: mixed regime — small languages capped, the head absorbs the rest") {
    import spark.implicits._
    def docsFor(lang: String, nTok: Int, id: Long) =
      (id, (1 to nTok).map(k => s"w$k").mkString(" "), lang)
    val docs = Seq(docsFor("aa", 10, 1), docsFor("bb", 20, 2), docsFor("cc", 1000, 3))
      .toDF("doc_id", "text", "lang")
    val out = Corpus.unimaxMixtureDf(docs, 2)
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(3), r.getLong(4), r.getDouble(5))).toMap
    // budget = floor(7·1030/4) = 1802; aa and bb cap at 2 epochs, cc
    // takes the remainder (1802 − 60 = 1742)
    assert(out("aa") == ((true, 20L, 2.0)), s"aa: ${out("aa")}")
    assert(out("bb") == ((true, 40L, 2.0)), s"bb: ${out("bb")}")
    assert(out("cc") == ((false, 1742L, 1.742)), s"cc: ${out("cc")}")
  }

  test("unimax: degenerate regimes — all capped underfills, huge cap goes uniform") {
    import spark.implicits._
    val even = Seq((1L, (1 to 100).map(k => s"a$k").mkString(" "), "aa"),
      (2L, (1 to 100).map(k => s"b$k").mkString(" "), "bb"),
      (3L, (1 to 100).map(k => s"c$k").mkString(" "), "cc"))
      .toDF("doc_id", "text", "lang")
    // cap 1: every language capped at its own size; budget (525) underfilled
    val capped = Corpus.unimaxMixtureDf(even, 1).collect()
      .map(r => (r.getBoolean(3), r.getLong(4), r.getDouble(5)))
    assert(capped.forall(_ == ((true, 100L, 1.0))), capped.mkString(","))
    // cap 100: nothing capped; every language gets budget/3 = 175
    val uniform = Corpus.unimaxMixtureDf(even, 100).collect()
      .map(r => (r.getBoolean(3), r.getLong(4)))
    assert(uniform.forall(_ == ((false, 175L))), uniform.mkString(","))
  }

  test("unimax execute: capped languages realize their target exactly; fractions within bounds") {
    val plan = Corpus.unimaxMixture(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(3), r.getLong(4), r.getDouble(5)))).toMap
    val exec = Corpus.unimaxExecute(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(exec.map(_._1).toSet == plan.keySet, "one audit row per language")
    exec.foreach { case (lang, target, nDocs, nCopies, achieved) =>
      val (capped, planTarget, epochs) = plan(lang)
      assert(target == planTarget, s"$lang must carry the plan's target")
      // whole copies are exact; the fractional epoch adds at most one
      // Bernoulli copy per doc
      val full = math.floor(epochs).toLong
      assert(nCopies >= full * nDocs && nCopies <= (full + 1) * nDocs,
        s"$lang copies $nCopies outside [${full * nDocs}, ${(full + 1) * nDocs}]")
      if (capped)
        assert(achieved == target,
          s"capped $lang must realize exactly cap*n_tokens: $achieved vs $target")
      else
        assert(math.abs(achieved - target) <= math.max(0.25 * target, 1000.0),
          s"uncapped $lang Bernoulli realization too far off: $achieved vs $target")
    }
  }

  test("doc chunks: boundary lengths — counts, starts, coverage, overlap, fingerprint") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, words(1)), (2L, words(64)), (3L, words(65)), (4L, words(200)))
      .toDF("doc_id", "text")
    val out = Corpus.docChunksDf(docs, 64, 48).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byDoc(1L).map(c => (c._3, c._4)).toSeq == Seq((1L, 1L)))
    assert(byDoc(2L).map(c => (c._3, c._4)).toSeq == Seq((1L, 64L)))
    assert(byDoc(3L).map(c => (c._3, c._4)).toSeq == Seq((1L, 64L), (49L, 17L)))
    assert(byDoc(4L).map(c => (c._3, c._4)).toSeq ==
      Seq((1L, 64L), (49L, 64L), (97L, 64L), (145L, 56L)))
    // every token covered; consecutive chunks overlap by chunk − stride
    byDoc.foreach { case (id, chunks) =>
      val n = Seq(1, 64, 65, 200)(id.toInt - 1)
      assert(chunks.head._3 == 1L && chunks.last._3 + chunks.last._4 - 1 == n,
        s"doc $id chunk range must cover 1..$n")
      chunks.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 == a._3 + 48, s"doc $id stride broken")
        case _ =>
      }
    }
    // fingerprint = md5 of the space-joined slice (check one mid chunk)
    val slice = (49 to 112).map(i => s"t$i").mkString(" ")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(slice.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byDoc(4L)(1)._5 == md, "chunk_md5 must hash the exact token slice")
  }

  test("leakage-safe splits: clusters never straddle; unclustered docs keep the content split") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val variants = (0 until 40).map(k => (100L + k, s"$base extra$k"))
    val singles = (0 until 20).map(k =>
      (500L + k, (1 to 30).map(i => s"u${k}x$i").mkString(" ")))
    val docs = (variants ++ singles).toDF("doc_id", "text")
    val safe = Corpus.leakageSafeSplitsFromPairs(docs,
        Dedup.minhashCandidatePairsUnordered(docs), 0.7)._1.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(safe.size == variants.size + singles.size, "every doc must be assigned")
    // the plain content split must straddle the variant family (or the
    // fixture proves nothing) — compute it in-JVM
    def contentSplit(text: String): String = {
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
      if (b < "e6") "train" else if (b < "f3") "val" else "test"
    }
    val naive = variants.map(v => contentSplit(v._2)).distinct
    assert(naive.size > 1, s"fixture must straddle under the naive split: $naive")
    // leakage-safe: one cluster, one canonical, one split
    val safeVariant = variants.map(v => safe(v._1)).distinct
    assert(safeVariant.size == 1,
      s"near-dup cluster must not straddle splits: $safeVariant")
    val (canonical, clusterSplit) = safeVariant.head
    assert(canonical == 100L, "canonical is the min-id member")
    assert(clusterSplit == contentSplit(variants.head._2),
      "the cluster split is the canonical member's content split")
    // unclustered docs: canonical = self, split = plain content split
    singles.foreach { case (id, text) =>
      assert(safe(id) == ((id, contentSplit(text))),
        s"unclustered doc $id must keep its content-hash assignment")
    }
  }

  test("cdc chunks: spans partition each doc; insertion shifts fixed chunks but not CDC tails") {
    import spark.implicits._
    val body = (1 to 120).map(i => s"w${i * 7 % 101}x$i").mkString(" ")
    val docs = Seq(1L -> body, 2L -> s"inserted sentence here $body")
      .toDF("doc_id", "text")
    val cdc = Corpus.cdcChunksDf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // spans partition each doc exactly: starts chain, lengths sum to n
    cdc.groupBy(_._1).foreach { case (id, chunks) =>
      val sorted = chunks.sortBy(_._2)
      assert(sorted.head._3 == 1L, s"doc $id first chunk must start at 1")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4,
          s"doc $id spans must chain contiguously")
        case _ =>
      }
    }
    // shift resistance: the 3-token insertion changes EVERY fixed-window
    // fingerprint but only the CDC chunks before the first post-
    // insertion boundary — most CDC fingerprints survive
    val cdcShared = cdc.filter(_._1 == 1L).map(_._5).toSet
      .intersect(cdc.filter(_._1 == 2L).map(_._5).toSet)
    val fixed = Corpus.docChunksDf(docs, 64, 48).collect()
      .map(r => (r.getLong(0), r.getString(4)))
    val fixedShared = fixed.filter(_._1 == 1L).map(_._2).toSet
      .intersect(fixed.filter(_._1 == 2L).map(_._2).toSet)
    val cdcA = cdc.count(_._1 == 1L)
    assert(cdcShared.size * 2 > cdcA,
      s"CDC must keep most fingerprints across the insertion: " +
        s"${cdcShared.size} of $cdcA shared")
    assert(fixedShared.isEmpty,
      s"fixed windows must all shift under a head insertion: $fixedShared")
  }

  test("cdc dedup: a passage at different offsets matches; keeper is the first occurrence") {
    import spark.implicits._
    val passage = (1 to 60).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (5L, s"$passage and a unique tail here"),
      (9L, s"lead-in words shift the offset $passage closing words"))
      .toDF("doc_id", "text")
    val shared = Corpus.cdcChunkDedupDf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(shared.nonEmpty,
      "offset-shifted shared passage must surface shared CDC chunks")
    shared.foreach { case (md5, nd, _, keeperDoc, _) =>
      assert(nd == 2L && keeperDoc == 5L,
        s"keeper must be the first document: $md5 -> $keeperDoc")
    }
    // the same corpus through the FIXED chunker shares nothing — the
    // offset shift moves every 64/48 window off the passage alignment
    val fixedA = Corpus.docChunksDf(docs.filter($"doc_id" === 5L), 64, 48)
      .collect().map(_.getString(4)).toSet
    val fixedB = Corpus.docChunksDf(docs.filter($"doc_id" === 9L), 64, 48)
      .collect().map(_.getString(4)).toSet
    assert(fixedA.intersect(fixedB).isEmpty,
      "fixed windows must miss the offset-shifted passage")
  }

  test("curriculum order: tercile stages by quality class; per-(stage, shard) dense ranks") {
    val rows = Corpus.curriculumOrder(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3), r.getLong(4)))
    val n = rows.length
    // stages ordered by quality: every stage-1 doc >= every stage-2 doc >= stage-3
    def qs(stage: Int) = rows.filter(_._3 == stage).map(_._2)
    assert(qs(1).min >= qs(2).max && qs(2).min >= qs(3).max,
      "stage quality ranges must be ordered and disjoint up to class boundaries")
    // a quality class never straddles stages
    rows.groupBy(_._2).foreach { case (q, rs) =>
      assert(rs.map(_._3).distinct.length == 1, s"class $q straddles stages")
    }
    // tercile balance up to one class's width
    val s1 = rows.count(_._3 == 1)
    assert(s1 * 3 >= n - rows.groupBy(_._2).map(_._2.length).max * 3 && s1 > 0,
      s"stage 1 must hold roughly a third: $s1 of $n")
    // pos is a dense 1..k permutation within each (stage, shard)
    rows.groupBy(r => (r._3, r._4)).foreach { case (g, rs) =>
      assert(rs.map(_._5).sorted.toSeq == (1L to rs.length).toSeq,
        s"pos must be dense in $g")
    }
  }

  test("weighted sample matches an exact A-ES key replay; heavier docs rank earlier") {
    val docsSeq = (1L to 40L).map { i =>
      // weights spread 10..4000 chars; text content drives the uniform
      (i, "doc " + i + " " + Seq.fill((i % 5).toInt * 10 + 1)("w").mkString(" "),
        i * 100L)
    }
    val docs = docsSeq.toDF("doc_id", "text", "n_chars")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = docsSeq.map { case (id, t, nc) =>
      val u = math.max(
        java.lang.Long.parseLong(md5hex(t).take(13), 16).toDouble /
          4503599627370496.0, 1e-18)
      val wgt = math.max(nc, 1L)
      (id, wgt, math.floor(-math.log(u) / wgt * 1e12 + 0.5).toLong)
    }.sortBy { case (id, _, k) => (k, id) }.take(Corpus.WeightedSampleK)
      .zipWithIndex.map { case ((id, wgt, k), i) => (id, wgt, k, i + 1L) }
    val got = Corpus.weightedSampleDf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got $got want $want")
    // size-proportional in aggregate: the sampled mean weight must
    // exceed the corpus mean (that is the point of A-ES weighting)
    val sampledMean = got.map(_._2).sum.toDouble / got.size
    val corpusMean = docsSeq.map(_._3).sum.toDouble / docsSeq.size
    assert(sampledMean > corpusMean,
      s"weighting must bias toward heavy docs: $sampledMean vs $corpusMean")
  }

  test("bucketed packing: ladder assignment exact, docs conserved, overflow isolated") {
    import spark.implicits._
    val base = (1L to 100L).map(i => (i, Seq.fill((i % 70).toInt + 1)("w").mkString(" ")))
    val docs = (base :+ (200L, Seq.fill(3000)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Corpus.packBucketedStatsDf(docs).collect()
    val budget = Corpus.PackLadder.last
    assert(rows.map(_.getLong(1)).sum == 101L, "every document lands in exactly one bucket")
    val byCap = rows.map(r => r.getLong(0) -> r).toMap
    // the 3000-token doc overflows into its own unit-capacity pack
    assert(byCap(-1L).getLong(1) == 1L && byCap(-1L).getLong(2) == 1L &&
      byCap(-1L).getLong(3) == 1L)
    rows.filter(_.getLong(0) > 0).foreach { r =>
      assert(r.getLong(3) == budget / r.getLong(0), s"capacity = budget/cap at $r")
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0,
        s"non-overflow fill in (0,1]: $r")
    }
    // deterministic: a re-run is bit-identical
    val again = Corpus.packBucketedStatsDf(docs).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("bucketed packing: corpus run well-formed, fill lower-bounds greedy") {
    val rows = Corpus.packBucketedStats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // total packed tokens equal the corpus token mass (conservation)
    val totalTokens = rows.map(_.getLong(4)).sum
    val greedy = Corpus.packStats(spark, sfDir).collect().head
    // greedy q_pack_stats reports mean fill over its packs; the
    // deterministic bucketed form forfeits mixed-size complementarity,
    // so its doc counts still conserve exactly
    assert(rows.map(_.getLong(1)).sum == greedy.getLong(1),
      "both packers pack every document exactly once")
    assert(totalTokens > 0)
  }

}
