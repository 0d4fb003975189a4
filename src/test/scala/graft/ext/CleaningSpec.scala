package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Heuristic cleaning operators: the Gopher-style filter battery,
  * cross-doc duplicate-span removal, and perplexity bucketing.
  */
class CleaningSpec extends SparkTestBase {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  /** A fresh tokenized build of `rows` — the token cores' input. */
  private def toks(rows: (Long, String)*) = TextAnalysis.tokenized(docsDf(rows: _*))

  /** A fresh, uncached 5-gram type table of `df` with its window block
    * and its smoothed-stat block — the 5-gram scorer cores' inputs.
    */
  private def lm5(df: org.apache.spark.sql.DataFrame, wide: Boolean = false) = {
    val c5 = TextAnalysis.fivegramTypeTable(df, wide)
    (c5, TextAnalysis.fivegramWindowCounts(c5), TextAnalysis.smoothedStatTable(c5))
  }

  test("gopher filters: each rule fires on a hand-built violating doc") {
    val longOk = (Seq("the", "a") ++ Seq.fill(40)("word")).mkString(" ")
    val rows = Map(
      1L -> longOk,                                     // passes all
      2L -> (Seq("the", "a") ++ Seq.fill(10)("word")).mkString(" "), // too few words
      3L -> (Seq("the", "a") ++ Seq.fill(40)("ab")).mkString(" "),   // mean len < 3
      4L -> (Seq("the", "a") ++ Seq.fill(20)("word") ++ Seq.fill(20)("123")).mkString(" "), // alpha frac 22/42 < 0.8
      5L -> Seq.fill(42)("word").mkString(" "),         // no stopwords
      6L -> (Seq("the", "a") ++ Seq.fill(35)("word") ++ Seq.fill(7)("#")).mkString(" ")) // symbols
    val out = Cleaning.gopherFiltersDf(docsDf(rows.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(11), "clean doc must keep")
    assert(!out(2L).getBoolean(6) && !out(2L).getBoolean(11), "r_words fires")
    assert(!out(3L).getBoolean(7) && !out(3L).getBoolean(11), "r_mean_len fires")
    assert(!out(4L).getBoolean(8) && !out(4L).getBoolean(11), "r_alpha fires")
    assert(!out(5L).getBoolean(9) && !out(5L).getBoolean(11), "r_stop fires")
    assert(!out(6L).getBoolean(10) && !out(6L).getBoolean(11), "r_symbol fires")
    // every rule except the one violated passes on its violator (the
    // fixtures isolate one rule each) — except doc 3/4/6 which keep
    // their stopwords and lengths sane
    assert(out(2L).getBoolean(7) && out(2L).getBoolean(9))
  }

  test("gopher filters: fixture run has both keeps and drops, all features finite") {
    val out = Cleaning.gopherFilters(spark, sfDir).collect()
    assert(out.nonEmpty)
    val keeps = out.count(_.getBoolean(11))
    assert(keeps > 0 && keeps < out.length,
      s"expected mixed verdicts, got $keeps/${out.length}")
    out.foreach { r =>
      assert(r.getInt(1) > 0)
      assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN && !r.getDouble(5).isNaN)
    }
  }

  test("span dedup: planted duplicated passage removed from the later doc only") {
    val passage = "alpha beta gamma delta epsilon zeta eta"
    val df = toks(
      10L -> s"$passage unique1 unique2 unique3",
      20L -> s"other tokens here entirely $passage",
      30L -> "fully distinct text with nothing shared at all here")
    val out = Cleaning.spanDedupCore(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val byDoc = out.map(t => t._1 -> (t._2, t._3)).toMap
    // passage = 7 tokens -> 3 five-grams; doc 10 owns the min (doc,pos)
    // for all shared spans, so ALL removals land on doc 20
    assert(byDoc(10L)._2 == 0, s"first doc must keep its spans: $byDoc")
    assert(byDoc(20L)._2 == 3, s"later doc must lose the 3 shared spans: $byDoc")
    assert(byDoc(30L)._2 == 0)
  }

  test("paragraph dedup: cross-doc duplicate paragraph removed from the later doc only") {
    val boiler = "all rights reserved contact us at example"
    val df = docsDf(
      1L -> s"first unique paragraph\n\n$boiler\n\nclosing remarks one",
      2L -> s"another opening\n\n  $boiler  \n\nsecond closing",   // trim-insensitive dup
      3L -> s"$boiler",                                            // whole doc is the block
      4L -> "no shared blocks\n\nhere at all")
    val out = Cleaning.paragraphDedupStatsDf(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    // doc 1 owns the earliest (doc_id, pos) copy of the block: keeps all
    assert(out(1L) == ((3L, 0L, true)), s"first writer keeps: $out")
    // docs 2 and 3 lose exactly their copy (whitespace-trimmed identity)
    assert(out(2L)._1 == 3L && out(2L)._2 == 1L, s"later doc loses the block: $out")
    assert(out(3L) == ((1L, 1L, false)),
      s"a doc that IS the duplicated block must fail the verdict: $out")
    assert(out(4L) == ((2L, 0L, true)))
    // within-doc repetition: second copy of a paragraph removed too
    val rep = docsDf(7L -> "same para\n\nsame para\n\nother")
    val r7 = Cleaning.paragraphDedupStatsDf(rep).collect().head
    assert(r7.getLong(1) == 3L && r7.getLong(2) == 1L,
      s"within-doc paragraph repetition must bill the later copy: $r7")
  }

  test("structured paragraph docs: planted cross-group quote surfaces through the dedup") {
    // 8 flat docs -> 2 structured groups; group 1 (odd) quotes group 0's
    // first member — the planted cross-document duplicate paragraph
    val flat = docsDf((0L to 7L).map(i => i -> s"member text number $i with words"): _*)
    val structured = graft.ext.Cleaning.structuredParagraphDocs(flat)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(structured.keySet == Set(0L, 1L))
    assert(structured(1L).endsWith("member text number 0 with words"),
      s"odd group must quote the previous group's first member: ${structured(1L)}")
    val out = Cleaning.paragraphDedupStatsDf(Cleaning.structuredParagraphDocs(flat))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == ((4L, 0L)), s"owner group keeps all paragraphs: $out")
    assert(out(1L) == ((5L, 1L)), s"quoting group loses exactly the quote: $out")
  }

  test("span dedup: within-doc repetition removes later copies; short docs report zero spans") {
    val rep = "a b c d e" // 5 tokens = 1 span
    val df = toks(
      1L -> s"$rep $rep $rep",  // 15 tokens = 11 spans; span at pos 1 repeats at 6, 11
      2L -> "tiny doc")         // < 5 tokens
    val out = Cleaning.spanDedupCore(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))).toList
    val byDoc = out.map(t => t._1 -> t).toMap
    assert(byDoc(1L)._2 == 11)
    // 5 distinct grams: "a b c d e" at pos 1/6/11 (2 later copies); the
    // 4 wrap-around grams each at pos p and p+5 (1 later copy each) —
    // removed = 2 + 4×1 = 6
    assert(byDoc(1L)._3 == 6, s"expected 6 removed: $byDoc")
    assert(byDoc(2L)._2 == 0 && byDoc(2L)._3 == 0 && byDoc(2L)._4,
      "short doc: zero spans, kept")
  }

  test("span dedup: fixture run is deterministic with mixed keep verdicts") {
    val a = Cleaning.spanDedupStats(spark, sfDir).collect()
    val b = Cleaning.spanDedupStats(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq, "must be deterministic")
    assert(a.exists(_.getLong(2) > 0), "fixture has planted duplicate spans")
    a.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "removed cannot exceed span count")
    }
  }

  private def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")

  test("span dedup: packing bounds are enforced at runtime, not just documented") {
    val sevenTokens = "alpha beta gamma delta epsilon zeta eta"
    // doc_id >= 2^43 would alias across documents in the packed key
    val e1 = intercept[Exception] {
      Cleaning.spanDedupCore(toks((1L << 43) -> sevenTokens)).collect()
    }
    assert(causeChain(e1).contains("packing overflow"), causeChain(e1))
    // negative doc_id corrupts the shiftleft pack the same way
    val e2 = intercept[Exception] {
      Cleaning.spanDedupCore(toks(-1L -> sevenTokens)).collect()
    }
    assert(causeChain(e2).contains("packing overflow"), causeChain(e2))
    // a doc opening >= 2^20 spans (a ~1M-token concatenated doc) would
    // silently alias into the next doc_id's position space
    val million = new StringBuilder
    (0 until (1 << 20) + 8).foreach(i => million.append("t").append(i % 97).append(' '))
    val e3 = intercept[Exception] {
      Cleaning.spanDedupCore(toks(1L -> million.result(), 2L -> sevenTokens)).collect()
    }
    assert(causeChain(e3).contains("packing overflow"), causeChain(e3))
    // in-bounds inputs are untouched by the guard
    val ok = Cleaning.spanDedupCore(toks(((1L << 43) - 1L) -> sevenTokens)).collect()
    assert(ok.length == 1 && ok.head.getLong(1) == 3L)
  }

  test("winnowing: every window covered, gaps under w, ties rightmost (randomized)") {
    val rng = new scala.util.Random(42) // fixed seed: deterministic test
    for (trial <- 1 to 50) {
      val n = 1 + rng.nextInt(60)
      val w = 1 + rng.nextInt(8)
      // small value range forces frequent ties
      val hs = Array.fill(n)(rng.nextInt(6).toLong)
      val sel = Cleaning.winnowSelect(hs, w)
      assert(sel.nonEmpty, s"trial $trial: non-empty input must select")
      assert(sel == sel.sorted && sel.distinct == sel, "positions strictly increase")
      // guarantee: every window [s, s+w) contains a selected position
      for (s <- 0 to math.max(n - w, 0)) {
        val e = math.min(s + w, n)
        assert(sel.exists(p => p >= s && p < e),
          s"trial $trial: window [$s,$e) uncovered; sel=$sel hs=${hs.toSeq}")
      }
      // each selection is the rightmost minimum of SOME window
      sel.foreach { p =>
        val covering = (0 to math.max(n - w, 0)).exists { s =>
          val e = math.min(s + w, n)
          p >= s && p < e &&
            (s until e).forall(i => hs(i) > hs(p) || (hs(i) == hs(p) && i <= p))
        }
        assert(covering, s"trial $trial: $p is not a rightmost window minimum")
      }
    }
  }

  test("textrank keywords: hub word wins; isolated nodes keep teleport mass; filtered docs absent") {
    val df = toks(
      // 'nexus' is adjacent to five distinct long words — highest
      // degree, must out-rank every peripheral word
      1L -> "alpha nexus bravo nexus charlie nexus delta nexus echoes",
      // only sub-minLen tokens: opens no node, must be ABSENT
      2L -> "a b c d e f",
      // two qualifying words, never adjacent to each other (separated
      // by short words): both isolated, equal rank, alphabetic order
      3L -> "an apple on a tree")
    val out = TextAnalysis.textrankKeywordsDf(df).collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc(1L).head.getString(2) == "nexus",
      s"hub word must rank first: ${byDoc(1L).toSeq}")
    assert(!byDoc.contains(2L), s"no-node doc must be absent: ${out.toSeq}")
    val d3 = byDoc(3L).sortBy(_.getInt(1))
    assert(d3.map(_.getString(2)).toSeq == Seq("apple", "tree") &&
      d3.map(_.getLong(3)).distinct.length == 1,
      s"isolated nodes: equal rank, term tiebreak: ${d3.toSeq}")
    // determinism on the real table (partitioning-independent integers)
    val a = TextAnalysis.textrankKeywords(spark, sfDir).collect()
    val b = TextAnalysis.textrankKeywords(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq && a.nonEmpty)
  }

  test("textrank kernel: exact nano arithmetic, self-loop drop, UTF-8 tiebreak") {
    import graft.ext.TextAnalysis.textrankKernel
    // two mutually-adjacent words: deg 1 each, n = 2, fixpoint at
    // r0 = snap(1e9/2) = 5e8 every round (teleport 75000000 +
    // snap(0.85 * 5e8) = 425000000); 'mill' < 'wind' in byte order
    val two = textrankKernel(Seq("wind", "mill", "wind", "mill"), 4, 3, 4)
    assert(two.toSeq.map(kw => (kw.rk, kw.term, kw.rank_nano)) ==
      Seq((1, "mill", 500000000L), (2, "wind", 500000000L)), two.toSeq)
    // adjacent IDENTICAL tokens open no edge: one isolated node keeps
    // the full teleport+dangling mass, rank stays snap(1e9/1) = 1e9
    val solo = textrankKernel(Seq("solitude", "solitude"), 4, 3, 4)
    assert(solo.toSeq.map(kw => (kw.rk, kw.term, kw.rank_nano)) ==
      Seq((1, "solitude", 1000000000L)), solo.toSeq)
    // no qualifying token -> empty result (doc absent downstream)
    assert(textrankKernel(Seq("a", "of", "it"), 4, 3, 4).isEmpty)
    assert(textrankKernel(Nil, 4, 3, 4).isEmpty)
  }

  test("winnowing stats and matches: planted passage must surface; density in band") {
    val passage = (1 to 12).map(i => s"shared$i").mkString(" ") // 12 tokens >= w+n-1 = 8
    val df = docsDf(
      10L -> s"$passage alpha beta gamma delta epsilon",
      20L -> s"zeta eta theta iota kappa $passage",
      30L -> "wholly distinct content with nothing at all in common here today")
    val stats = Cleaning.winnowFingerprintStatsDf(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    stats.foreach { case (id, (nSpans, nFp, density)) =>
      assert(nFp >= 1 && nFp <= nSpans, s"doc $id: $nFp of $nSpans")
      // hard bounds: >= one per window position, <= one NEW per window
      assert(density > 0.0 && density <= 1.0, s"doc $id density $density")
    }
    // the winnowing guarantee: a >= (w + n - 1)-token shared passage
    // MUST share a selected fingerprint — no false negatives
    val pairs = Cleaning.winnowMatchesDf(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((10L, 20L)) && pairs((10L, 20L)) >= 1L,
      s"planted passage must share a fingerprint: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 30L || p._2 == 30L),
      s"the distinct doc must not match: $pairs")
    // fixture run: deterministic, sane stats
    val a = Cleaning.winnowFingerprintStats(spark, sfDir).collect()
    val b = Cleaning.winnowFingerprintStats(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq && a.nonEmpty)
  }

  test("winnow-accelerated span dedup: planted-passage parity with the exact operator") {
    // every duplicated passage spans >= w + n - 1 = 8 tokens, so by the
    // winnowing guarantee the candidate generator must not lose any
    // verdict: output equals the exact core's ROW FOR ROW
    val passage = (1 to 12).map(i => s"boiler$i").mkString(" ")
    val inner = (1 to 9).map(i => s"quoted$i").mkString(" ")
    val df = toks(
      1L -> s"$passage alpha beta gamma delta epsilon",     // keeper doc
      2L -> s"zeta eta theta iota kappa $passage",          // cross-doc dup
      3L -> s"$inner lambda mu nu $inner",                  // within-doc repeat
      4L -> "wholly distinct content with nothing shared anywhere here today",
      5L -> "tiny doc")                                     // opens no span
    val exact = Cleaning.spanDedupCore(df).collect().toSeq
    val winnowed = Cleaning.winnowSpanDedupCore(df).collect().toSeq
    assert(winnowed == exact,
      s"planted-passage parity broke:\nwinnow=$winnowed\nexact =$exact")
    // sanity on content, not just parity: doc 2's copied passage lost
    // the election to doc 1, doc 3 removed its self-repeat
    val byId = winnowed.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byId(1L) == 0L && byId(2L) == 8L && byId(3L) == 5L && byId(4L) == 0L,
      s"unexpected removal counts: $byId")
    // determinism on the real table
    val a = Cleaning.winnowSpanDedupStats(spark, sfDir).collect()
    val c = Cleaning.winnowSpanDedupStats(spark, sfDir).collect()
    assert(a.toSeq == c.toSeq && a.nonEmpty)
  }

  test("winnow-accelerated span dedup: a sub-guarantee dup CAN be missed (pinned relaxation)") {
    // the two docs share EXACTLY one 5-token span (< w + n - 1 = 8) and
    // nothing longer; whether winnowing selects that span's hash in
    // both docs is hash-luck, not a guarantee. This fixture is built so
    // it does NOT (verified below against the exact operator), pinning
    // the documented relaxation: winnow-accelerated output may undercount
    // sub-guarantee duplication, and the exact operator audits that.
    val short = "s0a s0b s0c s0d s0e"
    val df = toks(
      1L -> s"$short a1 a2 a3 a4 a5 a6 a7 a8 a9",
      2L -> s"b1 b2 b3 b4 b5 b6 b7 b8 b9 $short")
    val exact = Cleaning.spanDedupCore(df).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val win = Cleaning.winnowSpanDedupCore(df).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exact(2L) == 1L, s"exact operator must remove the short dup: $exact")
    assert(win(2L) == 0L,
      s"fixture expectation: winnowing misses this sub-guarantee dup " +
        s"(if this starts passing the fixture's hash-luck changed — rebuild it): $win")
  }

  test("quality AUC: raw-float scores are rejected by the histogram-bound guard") {
    import spark.implicits._
    val snapped = Seq((0.333333, 1L), (0.25, 0L), (0.9, 1L)).toDF("score", "pos")
    val ok = TextAnalysis.aucOfScores(snapped).collect()
    assert(ok.length == 1 && ok.head.getDouble(2) == 1.0,
      s"separable snapped scores must give AUC 1.0: ${ok.mkString}")
    // a raw float (1/3 is not 6-dp-representable) would silently grow
    // the histogram toward corpus size — the guard fails loudly instead
    val raw = Seq((1.0 / 3.0, 1L), (0.25, 0L)).toDF("score", "pos")
    val e1 = intercept[Exception] { TextAnalysis.aucOfScores(raw).collect() }
    assert(causeChain(e1).contains("6-dp-snapped"), causeChain(e1))
    val oob = Seq((1.5, 1L), (0.25, 0L)).toDF("score", "pos")
    val e2 = intercept[Exception] { TextAnalysis.aucOfScores(oob).collect() }
    assert(causeChain(e2).contains("6-dp-snapped"), causeChain(e2))
  }

  test("source overlap: mirrored sources found, disjoint sources absent, jaccard exact") {
    val passage = "one two three four five six seven eight nine ten"
    val df = Seq(
      (1L, passage, "mirror_a"),
      (2L, passage, "mirror_b"),              // exact mirror of mirror_a
      (3L, "alpha beta gamma delta epsilon zeta", "solo"))
      .toDF("doc_id", "text", "source")
    val out = Cleaning.sourceOverlapDf(df, n = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // 10 tokens -> 6 distinct 5-grams; mirrors share all of them
    assert(out((("mirror_a", "mirror_b"))) == ((6L, 6L, 6L, 1.0)),
      s"mirrors must be jaccard 1.0: $out")
    assert(!out.keySet.exists(p => p._1 == "solo" || p._2 == "solo"),
      "disjoint source must produce no overlap row")
  }

  test("source overlap: partial overlap has the hand-computed jaccard") {
    val df = Seq(
      (1L, "a b c d e f", "s1"),   // grams: abcde, bcdef
      (2L, "a b c d e z", "s2"))   // grams: abcde, bcdez
      .toDF("doc_id", "text", "source")
    val Array(row) = Cleaning.sourceOverlapDf(df, n = 5).collect()
    assert(row.getLong(2) == 2 && row.getLong(3) == 2 && row.getLong(4) == 1)
    // jaccard = 1 / (2 + 2 - 1)
    assert(math.abs(row.getDouble(5) - 0.333333) < 1e-6)
  }

  test("sketched source overlap: estimates track the exact auditor on the real table") {
    val docs = graft.Tables.documents(spark, sfDir)
    val exact = Cleaning.sourceOverlapDf(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val est = Cleaning.sourceOverlapSketchDf(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    // the sketch form emits EVERY pair (overlap is unknowable before the
    // estimate — that's the audit); the exact form only co-occurring ones
    assert(exact.keySet.subsetOf(est.keySet),
      s"sketch pairs must cover the exact pairs: ${exact.keySet -- est.keySet}")
    exact.foreach { case (pair, (ga, gb, shared)) =>
      val (ea, eb, eShared) = est(pair)
      // per-source cardinalities: HLL at lgK 14 sits well under 5 %
      assert(math.abs(ea - ga) <= 0.05 * ga, s"$pair est_a $ea vs $ga")
      assert(math.abs(eb - gb) <= 0.05 * gb, s"$pair est_b $eb vs $gb")
      // inclusion–exclusion amplifies error by the set-size/overlap
      // ratio — bound the drift ABSOLUTELY by the summed set sizes
      assert(math.abs(eShared - shared) <= 0.05 * (ga + gb),
        s"$pair est_shared $eShared vs $shared (sizes $ga/$gb)")
    }
    // pairs the exact auditor calls disjoint must estimate near zero
    (est.keySet -- exact.keySet).foreach { pair =>
      val (ea, eb, eShared) = est(pair)
      assert(eShared <= 0.05 * (ea + eb),
        s"$pair shares nothing but estimates $eShared (sizes $ea/$eb)")
    }
  }

  test("filter ensemble: every verdict reachable; clean set equals the funnel's survivors") {
    import spark.implicits._
    val stopRich = ("the quick brown fox and the lazy dog of the north " +
      "ran to the old mill on the hill for a long day in the warm sun " +
      "and then came back to the barn for rest and water every evening")
    val longWords = (1 to 38).map(i => s"abcdefgh$i").mkString(" ") + " the and"
    val repetitive = Seq.fill(18)("the cat").mkString(" ") + " and dog friend here"
    val docs = Seq(
      (1L, "too short"),            // rules
      (2L, repetitive),             // repetition (passes rules)
      (3L, longWords),              // quality (passes rules + repetition)
      (4L, stopRich),               // clean
      (5L, stopRich))               // duplicate of 4
      .toDF("doc_id", "text")
    val out = Cleaning.filterEnsembleDf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getInt(5), r.getString(6)))).toMap
    assert(out(1L)._6 == "rules", s"doc 1: ${out(1L)}")
    assert(out(2L)._1 && out(2L)._6 == "repetition", s"doc 2: ${out(2L)}")
    assert(out(3L)._1 && out(3L)._2 && out(3L)._6 == "quality", s"doc 3: ${out(3L)}")
    assert(out(4L) == ((true, true, true, false, 0, "clean")), s"doc 4: ${out(4L)}")
    assert(out(5L) == ((true, true, true, true, 1, "duplicate")), s"doc 5: ${out(5L)}")
    // n_flags counts exactly the failing signals
    out.values.foreach { case (r, p, q, d, n, _) =>
      assert(n == Seq(!r, !p, !q, d).count(identity))
    }
    // signals are pure functions of content, so the unconditioned dup
    // election coincides with the funnel's survivor-conditioned one:
    // clean count == the funnel's final stage, on the real table
    val ens = Cleaning.filterEnsemble(spark, sfDir).collect()
    val cleanCount = ens.count(_.getString(6) == "clean")
    val funnelFinal = Cleaning.curationFunnel(spark, sfDir).collect()
      .find(_.getInt(0) == 5).get.getLong(2)
    assert(cleanCount.toLong == funnelFinal,
      s"clean set must equal funnel survivors: $cleanCount vs $funnelFinal")
    // and the matrix is the point: some real doc fails >= 2 signals
    assert(ens.exists(_.getInt(5) >= 2),
      "real corpus should contain multi-flag documents")
  }

  test("quality AUC: separable labels score 1.0, identical texts score 0.5") {
    // stopword-rich docs get a high logistic score, junk docs a low one
    val good = "the a of and to in is on for " + (1 to 30).map(i => s"w$i").mkString(" ")
    val junk = Seq.fill(40)("zzzzzzzzzzzz").mkString(" ")
    val separable = Seq(
      (1L, good, "en"), (2L, good + " extra", "en"),
      (3L, junk, "de"), (4L, junk + " more", "de"))
      .toDF("doc_id", "text", "lang")
    val Array(r) = TextAnalysis.qualityAucDf(separable).collect()
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 1.0, s"perfect separation must be AUC 1.0: $r")
    // same text both classes -> every comparison is a tie -> 0.5
    val tied = Seq((1L, good, "en"), (2L, good, "de"))
      .toDF("doc_id", "text", "lang")
    val Array(t) = TextAnalysis.qualityAucDf(tied).collect()
    assert(t.getDouble(2) == 0.5, s"all-ties must be AUC 0.5: $t")
    // single-class input hits the degenerate guard
    val oneClass = Seq((1L, good, "en"), (2L, junk, "en"))
      .toDF("doc_id", "text", "lang")
    assert(TextAnalysis.qualityAucDf(oneClass).collect()(0).getDouble(2) == 0.5)
    // NULL lang counts as negative (not silently dropped): same data as
    // the separable case but with the junk docs' lang NULL -> still 1.0
    val nullLang = Seq(
      (1L, good, "en"), (2L, good + " extra", "en"),
      (3L, junk, null.asInstanceOf[String]), (4L, junk + " more", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    val Array(n) = TextAnalysis.qualityAucDf(nullLang).collect()
    assert(n.getLong(0) == 2 && n.getLong(1) == 2,
      s"NULL-lang docs must count as negatives: $n")
    assert(n.getDouble(2) == 1.0)
  }

  test("roc points: monotone in the threshold; separable fixture hits a perfect point") {
    import spark.implicits._
    val out = TextAnalysis.rocPoints(spark, sfDir).collect()
    assert(out.length == 9, "one row per decile threshold")
    val (tprs, fprs, preds) = (out.map(_.getDouble(4)), out.map(_.getDouble(5)),
      out.map(_.getLong(1)))
    // raising the threshold can only shrink the predicted-positive set
    assert(preds.zip(preds.tail).forall { case (a, b) => a >= b })
    assert(tprs.zip(tprs.tail).forall { case (a, b) => a >= b - 1e-9 })
    assert(fprs.zip(fprs.tail).forall { case (a, b) => a >= b - 1e-9 })
    out.foreach { r =>
      val (p, tp, fp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(tp + fp == p && r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
    // perfectly separable classes: some threshold classifies cleanly
    val good = "the a of and to in is on for " + (1 to 30).map(i => s"w$i").mkString(" ")
    val junk = Seq.fill(40)("zzzzzzzzzzzz").mkString(" ")
    val sep = TextAnalysis.rocPointsDf(Seq(
      (1L, good, "en"), (2L, good + " extra", "en"),
      (3L, junk, "de"), (4L, junk + " more", "de"))
      .toDF("doc_id", "text", "lang")).collect()
    assert(sep.exists(r => r.getDouble(4) == 1.0 && r.getDouble(5) == 0.0),
      s"separable fixture must have a perfect operating point: ${sep.mkString}")
  }

  test("perplexity buckets approx: a 1-doc source lands in head, not tail") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "solo"),
      (2L, "alpha beta gamma", "big"), (3L, "alpha beta delta", "big"),
      (4L, "beta gamma delta", "big"))
      .toDF("doc_id", "text", "source")
    val approx = TextAnalysis.perplexityBucketsApproxDf(docs)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    val exact = TextAnalysis.perplexityBucketsDf(docs)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(exact(1L) == 1, s"exact: only doc of a source is its head: $exact")
    assert(approx(1L) == 1,
      s"approx must agree on the degenerate 1-doc source: $approx")
  }

  test("token entropy: hand-computed values; templated docs drop") {
    val out = TextAnalysis.tokenEntropyDf(docsDf(
      1L -> "a a b b",             // uniform over 2 types: H = ln 2
      2L -> "a a a a a a b",       // skewed: H ~ 0.410, normalized ~ 0.592
      3L -> "x x x x",             // one type: H = 0, normalized 0
      4L -> "p q r s t"))          // all distinct: normalized 1.0
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(out(1L) == ((0.693147, 1.0, true)), s"uniform: ${out(1L)}")
    assert(math.abs(out(2L)._1 - 0.410116) < 1e-6 && !out(2L)._3,
      s"templated doc must drop: ${out(2L)}")
    assert(out(3L) == ((0.0, 0.0, false)), s"single-type: ${out(3L)}")
    assert(out(4L)._2 == 1.0 && out(4L)._3)
  }

  test("bigram logprob: hand-computed conditionals; word order matters") {
    val df = toks(1L -> "a b a b", 2L -> "a c")
    val out = TextAnalysis.bigramScoreOn(df, TextAnalysis.bigramCountTable(df))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // c2: (a,b)=2 (b,a)=1 (a,c)=1; c1: a=3, b=1
    // doc1: ln(2/3), ln(1/1), ln(2/3) -> micro -405465 x2 + 0
    val d1 = math.floor(-810930.0 / 3 + 0.5) / 1e6
    assert(out(1L) == ((3L, d1)), s"doc1: ${out(1L)} want $d1")
    assert(out(2L)._2 == math.floor(math.log(1.0 / 3) * 1e6 + 0.5) / 1e6)
    // word order: a doc whose transitions run AGAINST the corpus
    // majority scores lower than the majority pattern (a two-token
    // corpus would make every conditional 1.0 — needs three tokens)
    val majority = Seq.tabulate(8)(i => (i.toLong, "x y x y x z"))
    val contrarian = (99L, "x z x z x y")
    val order = toks((majority :+ contrarian): _*)
    val scores = TextAnalysis.bigramScoreOn(order, TextAnalysis.bigramCountTable(order))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(99L) < scores(0L),
      s"against-the-grain doc must score lower: ${scores(99L)} vs ${scores(0L)}")
  }

  test("backoff trigram: separates a bigram-blind doc; all three levels hand-checked") {
    // corpus: 6x "x a b" (incl. doc 21), 5x "y a c", doc 22 "x a c",
    // doc 31 "p q r". Bigram counts make docs 21/22 IDENTICAL — both
    // score ln p(a|x) + ln p(.|a) with c(a b) = c(a c) = 6 over
    // c1(a) = 12 — so the bigram LM provably cannot separate them.
    val docs =
      (1L to 5L).map(i => i -> "x a b") ++
        (11L to 15L).map(i => i -> "y a c") ++
        Seq(21L -> "x a b", 22L -> "x a c", 31L -> "p q r")
    val df = toks(docs: _*)
    val bg = TextAnalysis.bigramScoreOn(df, TextAnalysis.bigramCountTable(df)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(bg(21L) == bg(22L), s"bigram must tie: ${bg(21L)} vs ${bg(22L)}")
    val out = TextAnalysis.backoffScoreOn(df,
        TextAnalysis.backoffMlpTable(TextAnalysis.trigramCountTable(df))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def snap(x: Double) = math.floor(math.log(x) * 1e6 + 0.5) / 1e6
    // known trigram: c3(x a b) = 6 >= minCount over ctx2(x, a) = 7
    assert(out(21L) == ((1L, snap(6.0 / 7))), s"got ${out(21L)}")
    // bigram backoff: trigram (x a c) is a singleton -> 0.5 * cb(a, c) = 6
    // over ctx1(a) = 12
    assert(out(22L) == ((1L, snap(0.5 * 6 / 12))), s"got ${out(22L)}")
    // unigram backoff: (q, r) also singleton -> 0.25 * cu(r) = 1 over N = 13
    assert(out(31L) == ((1L, snap(0.5 * 0.5 * 1 / 13))), s"got ${out(31L)}")
    assert(out(21L)._2 > out(22L)._2,
      "the trigram level must separate what bigram cannot")
  }

  test("backoff trigram: fixture run deterministic, scores non-positive, short docs excluded") {
    val a = TextAnalysis.backoffLogProb(spark, sfDir).collect()
    val b = TextAnalysis.backoffLogProb(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(2) <= 0.0, s"log-prob must be <= 0: $r")
    }
    // two-token docs open no trigram and must be absent
    val shortDocs = toks(1L -> "only two", 2L -> "three token doc")
    val withShort = TextAnalysis.backoffScoreOn(shortDocs,
      TextAnalysis.backoffMlpTable(TextAnalysis.trigramCountTable(shortDocs))).collect()
    assert(withShort.map(_.getLong(0)).toSet == Set(2L))
  }

  test("5-gram backoff: every level hand-checked on a depth-ladder fixture") {
    // one doc per backoff depth; each doc is exactly one 5-gram (N = 14)
    val docs =
      (1L to 6L).map(i => i -> "a b c d e") ++
        Seq(7L -> "a b c d f") ++
        (11L to 13L).map(i => i -> "z b c d e") ++
        Seq(21L -> "x b c d e", // 5-gram singleton, suffix-4 known (10)
          22L -> "x y c d e",   // suffix-3 known (11)
          23L -> "x y z d e",   // suffix-2 known (12)
          31L -> "p q r s t")   // all levels singleton -> unigram floor
    val df = toks(docs: _*)
    val (c5, windows, _) = lm5(df)
    val out = TextAnalysis.fivegramScoreOn(df, c5, windows).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def snap(x: Double) = math.floor(math.log(x) * 1e6 + 0.5) / 1e6
    assert(out(1L) == snap(6.0 / 7), s"known 5-gram: ${out(1L)}")
    assert(out(21L) == snap(0.5 * 10 / 11), s"suffix-4 level: ${out(21L)}")
    assert(out(22L) == snap(0.5 * 0.5 * 11 / 12), s"suffix-3 level: ${out(22L)}")
    assert(out(23L) == snap(0.5 * 0.5 * 0.5 * 12 / 13), s"suffix-2 level: ${out(23L)}")
    assert(out(31L) == snap(0.5 * 0.5 * 0.5 * 0.5 * 1 / 14), s"unigram floor: ${out(31L)}")
    // each backoff level costs strictly more than the one above it
    assert(out(1L) > out(21L) && out(21L) > out(22L) &&
      out(22L) > out(23L) && out(23L) > out(31L))
    // docs under five tokens open no 5-gram and are absent
    val shortDocs = toks(1L -> "only four tokens here", 2L -> "this one has five tokens")
    val (s5, sWindows, _) = lm5(shortDocs)
    val short = TextAnalysis.fivegramScoreOn(shortDocs, s5, sWindows).collect()
    assert(short.map(_.getLong(0)).toSet == Set(2L))
  }

  test("interpolated 5-gram: hand-computed mix; fixed-lambda singleton trust is visible") {
    // same depth-ladder corpus as the stupid-backoff test
    val docs =
      (1L to 6L).map(i => i -> "a b c d e") ++
        Seq(7L -> "a b c d f") ++
        (11L to 13L).map(i => i -> "z b c d e") ++
        Seq(21L -> "x b c d e", 22L -> "x y c d e",
          23L -> "x y z d e", 31L -> "p q r s t")
    val df = toks(docs: _*)
    val (c5, windows, _) = lm5(df)
    val out = TextAnalysis.interpScoreOn(df, c5, windows).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def mix(p5: Double, p4: Double, p3: Double, p2: Double, p1: Double) =
      0.5 * p5 + 0.5 * (0.5 * p4 + 0.5 * (0.5 * p3 + 0.5 * (0.5 * p2 + 0.5 * p1)))
    def snapLn(x: Double) = math.floor(math.log(x) * 1e6 + 0.5) / 1e6
    assert(out(1L) == snapLn(mix(6.0 / 7, 10.0 / 11, 11.0 / 12, 12.0 / 13, 12.0 / 14)),
      s"corpus-typical doc: ${out(1L)}")
    assert(out(31L) == snapLn(mix(1.0, 1.0, 1.0, 1.0, 1.0 / 14)),
      s"all-novel doc: ${out(31L)}")
    // the DOCUMENTED fixed-lambda weakness, pinned so it stays visible:
    // every ML level of the novel doc is a fully-trusted singleton, so
    // it outscores the corpus-typical doc — the reason production LMs
    // fit lambda per context (Witten-Bell / Kneser-Ney)
    assert(out(31L) > out(1L))
  }

  test("wide 128-bit gram keys: identical scores to 64-bit interning on collision-free data") {
    // the collision-audit variant (gramHashWide): same API and plan
    // shape, twice the key bytes; on data with no 64-bit collisions
    // (proven by the string-keyed oracles) both widths must produce
    // byte-identical scores across the whole 5-gram scorer family
    val docs = graft.Tables.documents(spark, sfDir)
    val t = TextAnalysis.tokenized(docs)
    def scores(wide: Boolean) = {
      val (c5, windows, smoothed) = lm5(t, wide)
      Seq(TextAnalysis.fivegramScoreOn(t, c5, windows),
        TextAnalysis.interpScoreOn(t, c5, windows),
        TextAnalysis.wbScoreOn(t, c5, smoothed),
        TextAnalysis.knScoreOn(t, c5, smoothed)).map(_.collect().map(_.toSeq).toSeq)
    }
    scores(wide = true).zip(scores(wide = false)).zipWithIndex.foreach {
      case ((wide, narrow), i) => assert(wide == narrow, s"scorer $i differs by key width")
    }
    // the selection policy: fixture-scale corpora stay on 8-byte keys;
    // shrinking the per-token byte estimate pushes the same corpus's
    // estimated gram cardinality over WideKeyGramThreshold and selects
    // the 128-bit keys (both branches exercised without 100 TB of data)
    assert(!TextAnalysis.chooseWideKeys(docs),
      "sf0.001 must choose narrow keys")
    assert(TextAnalysis.chooseWideKeys(docs, bytesPerToken = 1e-9),
      "a threshold-crossing cardinality estimate must choose wide keys")
  }

  test("Witten-Bell 5-gram: hand-computed per-context lambdas; T=C degeneracy pinned") {
    // same depth-ladder corpus; WB per-level constants hand-derived from
    // the suffix-slice tables (raw-count chain, truncated-stream
    // convention: lower-order counts from 5-gram suffix slices)
    val docs =
      (1L to 6L).map(i => i -> "a b c d e") ++
        Seq(7L -> "a b c d f") ++
        (11L to 13L).map(i => i -> "z b c d e") ++
        Seq(21L -> "x b c d e", 22L -> "x y c d e",
          23L -> "x y z d e", 31L -> "p q r s t")
    val df = toks(docs: _*)
    val (c5, _, smoothed) = lm5(df)
    val out = TextAnalysis.wbScoreOn(df, c5, smoothed).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def wb(c: Double, cc: Double, tt: Double, p: Double) = (c + tt * p) / (cc + tt)
    def snapLn(x: Double) = math.floor(math.log(x) * 1e6 + 0.5) / 1e6
    // corpus-typical doc: raw suffix chain (d e)=12/ctx(d):13,T2 ·
    // (c d e)=11/ctx(c d):12,T2 · (b c d e)=10/ctx(b c d):11,T2 ·
    // top c5=6/ctx4(a b c d):7,T2; p1(e) = 12/14
    val p2 = wb(12, 13, 2, 12.0 / 14)
    val p3 = wb(11, 12, 2, p2)
    val p4 = wb(10, 11, 2, p3)
    assert(out(1L) == snapLn(wb(6, 7, 2, p4)), s"typical doc: ${out(1L)}")
    // all-novel doc: every level is its own singleton, T = C = 1, so
    // each level is (1 + p)/2 — WB DEGENERATES to fixed lambda = 0.5
    // exactly; the mix equals the interp operator's value to the bit
    val q2 = wb(1, 1, 1, 1.0 / 14)
    val q5 = wb(1, 1, 1, wb(1, 1, 1, wb(1, 1, 1, q2)))
    assert(out(31L) == snapLn(q5), s"novel doc: ${out(31L)}")
    def mix(p5: Double, p4: Double, p3: Double, p2: Double, p1: Double) =
      0.5 * p5 + 0.5 * (0.5 * p4 + 0.5 * (0.5 * p3 + 0.5 * (0.5 * p2 + 0.5 * p1)))
    assert(snapLn(q5) == snapLn(mix(1.0, 1.0, 1.0, 1.0, 1.0 / 14)),
      "T=C degeneracy: WB on the all-singleton path must equal fixed lambda=0.5")
    // so WB adapts lambda exactly where adaptivity exists (typical doc
    // scores differ from fixed-lambda interp) but CANNOT fix the
    // singleton inversion (that is knLogProb's job, asserted below)
    assert(out(31L) > out(1L),
      "WB alone must not flip the singleton inversion — if this fails, re-derive")
  }

  test("Kneser-Ney 5-gram: hand-computed discounted chain; the singleton inversion FLIPS") {
    val docs =
      (1L to 6L).map(i => i -> "a b c d e") ++
        Seq(7L -> "a b c d f") ++
        (11L to 13L).map(i => i -> "z b c d e") ++
        Seq(21L -> "x b c d e", 22L -> "x y c d e",
          23L -> "x y z d e", 31L -> "p q r s t")
    val df = toks(docs: _*)
    val (c5, _, smoothed) = lm5(df)
    val out = TextAnalysis.knScoreOn(df, c5, smoothed).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def kn(c: Double, cc: Double, tt: Double, p: Double) =
      (math.max(c - 0.75, 0.0) + 0.75 * tt * p) / cc
    def snapLn(x: Double) = math.floor(math.log(x) * 1e6 + 0.5) / 1e6
    // continuation chain (distinct-type counts): bigram types = 3
    // ((d e), (d f), (s t)); typical doc: c2c(d e)=2 over ctx(d):3,T2;
    // c3c(c d e)=2 over ctx(c d):3,T2; c4c(b c d e)=3 over
    // ctx(b c d):4,T2; top RAW c5=6 over ctx4:7,T2; p1(e) = 1/3
    val p2 = kn(2, 3, 2, 1.0 / 3)
    val p3 = kn(2, 3, 2, p2)
    val p4 = kn(3, 4, 2, p3)
    assert(out(1L) == snapLn(kn(6, 7, 2, p4)), s"typical doc: ${out(1L)}")
    // novel doc: every level (1 - D)/1 + D * p with T = C = 1
    val q2 = kn(1, 1, 1, 1.0 / 3)
    val q5 = kn(1, 1, 1, kn(1, 1, 1, kn(1, 1, 1, q2)))
    assert(out(31L) == snapLn(q5), s"novel doc: ${out(31L)}")
    // THE LADDER RUNG'S REASON TO EXIST: absolute discounting caps the
    // novel doc's own-singleton trust at (1-D), and the continuation
    // unigram scores its tail token by context diversity — the
    // fixed-lambda inversion (interp test above) flips
    assert(out(1L) > out(31L),
      s"KN must score corpus-typical text above the all-novel doc: ${out(1L)} vs ${out(31L)}")
    // short docs open no 5-gram and are absent
    val shortDocs = toks(1L -> "only four tokens here", 2L -> "this one has five tokens")
    val (s5, _, sSmoothed) = lm5(shortDocs)
    val short = TextAnalysis.knScoreOn(shortDocs, s5, sSmoothed).collect()
    assert(short.map(_.getLong(0)).toSet == Set(2L))
  }

  test("top collocations: planted pair wins by PMI, minCount suppresses noise") {
    // "new york" always adjacent; fillers form a high-frequency soup so
    // their pairwise PMI is low; the rare pair below minCount never shows
    val docs = (1 to 6).map { i =>
      (i.toLong, s"new york f$i g$i new york g$i f$i new york")
    } :+ (7L, "rare pair")
    val df = toks(docs: _*)
    val out = TextAnalysis
      .topCollocationsOn(TextAnalysis.bigramCountTable(df), k = 5, minCount = 5).collect()
    assert(out.nonEmpty)
    val top = out.head
    assert(top.getString(0) == "new" && top.getString(1) == "york",
      s"planted collocation must rank first: ${out.toSeq}")
    assert(!out.exists(r => r.getString(0) == "rare"),
      "below-minCount pair must not appear")
    // ranking is by snapped PMI desc
    val pmis = out.map(_.getDouble(3))
    assert(pmis.sameElements(pmis.sortBy(-(_: Double))))
  }

  test("quality calibration: bins partition the corpus, means stay inside their bin") {
    import spark.implicits._
    val out = TextAnalysis.qualityCalibration(spark, sfDir).collect()
    assert(out.nonEmpty)
    val nDocs = graft.Tables.documents(spark, sfDir)
      .filter(length(col("text")) > 0).count()
    assert(out.map(_.getLong(2)).sum == nDocs, "bins must partition all scored docs")
    out.foreach { r =>
      val (bin, binLo, n, nPos) = (r.getInt(0), r.getDouble(1), r.getLong(2), r.getLong(3))
      assert(bin >= 0 && bin <= 9 && binLo == bin / 10.0)
      assert(nPos >= 0 && nPos <= n)
      val rate = r.getDouble(4)
      assert(rate >= 0.0 && rate <= 1.0)
      val mean = r.getDouble(5)
      // a bin's mean score must lie inside the bin (top bin includes 1.0)
      assert(mean >= binLo - 1e-6 && mean <= binLo + 0.1 + 1e-6,
        s"bin $bin mean $mean outside [$binLo, ${binLo + 0.1}]")
      assert(r.getDouble(6) == math.round(math.abs(rate - mean) * 1e6) / 1e6)
    }
    // same text, one en one de -> same score bin, observed rate 0.5
    val two = Seq(
      (1L, "the a of and to in is on for word word word", "en"),
      (2L, "the a of and to in is on for word word word", "de"))
      .toDF("doc_id", "text", "lang")
    val bins = TextAnalysis.qualityCalibrationDf(two).collect()
    assert(bins.length == 1 && bins.head.getLong(2) == 2L &&
      bins.head.getDouble(4) == 0.5)
  }

  test("heaps law: linear vocab growth gives beta 1, saturated vocab gives beta 0") {
    import spark.implicits._
    // doc i introduces exactly one new type among 4 tokens:
    // cum_toks = 4i, cum_types = i -> ln y = ln x - ln 4, slope 1
    val growth = (1 to 16).map(i =>
      (i.toLong, s"t$i t1 t1 t1", "grow"))
    // every doc identical: types stick at 4 from doc 1 -> y constant -> 0
    val flat = (101 to 116).map(i => (i.toLong, "a b c d", "flat"))
    val out = TextAnalysis.heapsLawDf(
      (growth ++ flat).toDF("doc_id", "text", "source"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("grow")._1 == 16L)
    assert(math.abs(out("grow")._2 - 1.0) < 1e-4, s"growth beta: ${out("grow")}")
    assert(out("flat")._2 == 0.0, s"saturated beta: ${out("flat")}")
  }

  test("heaps law: fixture sources saturate (0 < beta < 1), deterministic") {
    val a = TextAnalysis.heapsLaw(spark, sfDir).collect()
    val b = TextAnalysis.heapsLaw(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    a.foreach { r =>
      val beta = r.getDouble(2)
      // a source whose FIRST doc already holds its whole tiny vocabulary
      // has constant cum_types -> beta exactly 0; none grows linearly
      assert(beta >= 0.0 && beta < 1.0,
        s"${r.getString(0)}: tiny-vocab synthetic text must saturate, beta $beta")
    }
    assert(a.exists(_.getDouble(2) > 0.0),
      "at least one source must show partial vocabulary growth")
  }

  test("entropy rate: hand-computed conditionals; deterministic template source scores 0") {
    import spark.implicits._
    // mix "x y x y x z": c2 (x,y)=2 (y,x)=2 (x,z)=1; c1 x=3 y=2; N=5
    val df = Seq(
      (1L, "x y x y x z", "mix"),
      (2L, "a b a b a b a b", "tmpl")) // every transition deterministic
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.entropyRateDf(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def snap(p: Double, l: Double) =
      math.floor(p * math.log(l) * 1e9 + 0.5).toLong
    val expected =
      -(snap(2.0 / 5, 2.0 / 3) + snap(2.0 / 5, 1.0) + snap(1.0 / 5, 1.0 / 3))
        .toDouble / 1e9
    assert(out("mix") == ((3L, expected)), s"got ${out("mix")} want $expected")
    assert(out("tmpl")._2 == 0.0, "fully predictable transitions have H = 0")
  }

  test("entropy rate: exactly invariant under corpus duplication") {
    import spark.implicits._
    // duplicating every document doubles every count (c2, c1, N) so all
    // the RATIOS — and therefore every snapped contribution — are
    // bit-identical: H(2×corpus) == H(corpus) exactly, not approximately
    val docs = Seq(
      (1L, "x y x y x z", "s"), (2L, "y z y x", "s"),
      (3L, "p q p q r", "t"))
    val once = TextAnalysis.entropyRateDf(docs.toDF("doc_id", "text", "source"))
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    val twice = TextAnalysis.entropyRateDf(
      (docs ++ docs.map { case (id, t, s) => (id + 100L, t, s) })
        .toDF("doc_id", "text", "source"))
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(once == twice, s"$once != $twice")
  }

  test("entropy rate: fixture sources all positive, deterministic") {
    val a = TextAnalysis.entropyRate(spark, sfDir).collect()
    val b = TextAnalysis.entropyRate(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    a.foreach(r => assert(r.getDouble(2) > 0.0,
      s"${r.getString(0)}: word-soup text must have positive entropy rate"))
  }

  test("length model: hand-computed log-normal moments; single-doc source has std 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b", "s1"), (2L, "a b c d", "s1"),
      (3L, "a b c d e f g h", "s1"),
      (4L, "one two three", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.lengthModelDf(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // s1: lengths 2/4/8 -> ln mean = ln 4, std = ln2 * sqrt(2/3)
    val (n1, mn1, mx1, mean1, std1) = out("s1")
    assert((n1, mn1, mx1) == ((3L, 2L, 8L)))
    assert(math.abs(mean1 - math.log(4)) < 2e-6, s"mean $mean1")
    assert(math.abs(std1 - math.log(2) * math.sqrt(2.0 / 3)) < 2e-6, s"std $std1")
    // a single-doc source: variance term is exactly 0, never -0.0/NaN
    val (n2, _, _, _, std2) = out("s2")
    assert(n2 == 1L && std2 == 0.0)
  }

  test("zipf slope: uniform counts give slope 0, exact-Zipf counts give -1") {
    // uniform: every term once -> y constant -> slope exactly 0
    val uniform = (1 to 20).map(i => s"tok$i").mkString(" ")
    // exact Zipf: cnt(k) = 12/k for ranks 1..4 -> y = ln12 - x, slope -1
    val zipfy = (Seq.fill(12)("w1") ++ Seq.fill(6)("w2") ++
      Seq.fill(4)("w3") ++ Seq.fill(3)("w4")).mkString(" ")
    val df = Seq((1L, uniform, "uni"), (2L, zipfy, "zipf"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.zipfSlopeDf(df)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("uni") == 0.0, s"uniform slope must be 0: $out")
    assert(math.abs(out("zipf") + 1.0) < 0.001, s"zipf slope must be ~-1: $out")
  }

  test("zipf slope: fixture sources all slope negative, deterministic") {
    val a = TextAnalysis.zipfSlope(spark, sfDir).collect()
    val b = TextAnalysis.zipfSlope(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getDouble(2) < 0.0,
        s"${r.getString(0)}: frequency must fall with rank, slope ${r.getDouble(2)}")
    }
  }

  test("curation funnel: stages are monotone, planted dup dropped at the dedup stage") {
    // clean doc: 44 words, 9 distinct stopwords (stop ratio lifts the
    // quality score over 0.5), all bigrams unique (passes repetition)
    val clean = "the a of and to in is on for " +
      (1 to 35).map(i => s"word$i").mkString(" ")
    val df = Seq(
      (1L, clean), (2L, clean),                            // exact dups: one survives
      (3L, "the a " + Seq.fill(10)("word").mkString(" ")), // fails rules (short)
      (4L, "the a " + Seq.fill(90)("word").mkString(" "))) // passes rules, fails repetition
      .toDF("doc_id", "text")
    val out = Cleaning.curationFunnelDf(df)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out("raw")._1 == 4)
    assert(out("rules")._1 == 3, s"short doc drops at rules: $out")
    assert(out("repetition")._1 == 2, s"'rep rep' doc drops at repetition: $out")
    assert(out("quality")._1 == 2, s"clean dups pass quality: $out")
    assert(out("dedup")._1 == 1, s"one of the exact dups drops at dedup: $out")
    // docs monotone non-increasing, tokens likewise
    val stages = Seq("raw", "rules", "repetition", "quality", "dedup").map(out)
    stages.sliding(2).foreach { case Seq(a, b) =>
      assert(b._1 <= a._1 && b._2 <= a._2, s"funnel must shrink: $out")
    }
  }

  test("curation funnel: stage counts agree with the standalone operators") {
    val funnel = Cleaning.curationFunnel(spark, sfDir)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val rules = Cleaning.gopherFilters(spark, sfDir)
      .filter(col("keep")).count()
    assert(funnel("rules") == rules,
      s"funnel rules stage ${funnel("rules")} != standalone $rules")
    assert(funnel("raw") >= funnel("rules") && funnel("dedup") <= funnel("quality"))
  }

  test("perplexity buckets: per-source thirds, head scores >= tail scores") {
    val out = TextAnalysis.perplexityBuckets(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (src, rows) =>
      val sizes = rows.groupBy(_._4).view.mapValues(_.length).toMap
      val n = rows.length
      // NTILE(3): bucket sizes differ by at most 1
      assert(sizes.values.max - sizes.values.min <= 1, s"$src sizes $sizes")
      assert(sizes.keySet.subsetOf(Set(1, 2, 3)))
      if (n >= 3) {
        val headMin = rows.filter(_._4 == 1).map(_._3).min
        val tailMax = rows.filter(_._4 == 3).map(_._3).max
        assert(headMin >= tailMax - 1e-9,
          s"$src head min $headMin < tail max $tailMax")
      }
    }
  }

  test("perplexity buckets: approx variant agrees with exact on ~all docs") {
    val exact = TextAnalysis.perplexityBuckets(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    val approx = TextAnalysis.perplexityBucketsApprox(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(exact.keySet == approx.keySet)
    val agree = exact.count { case (id, b) => approx(id) == b }
    // cutoffs are approximate: only boundary ties may flip bucket
    assert(agree.toDouble / exact.size > 0.9,
      s"approx buckets diverge too much: $agree/${exact.size}")
  }

  test("vocab coverage: hand-computed OOV fractions; boundary tie is lexicographic") {
    import spark.implicits._
    // global counts: a=3, b=2, c=1 -> V=2 vocab = {a, b}, c is OOV
    val docs = Seq(
      (1L, "A", "a a a b"),
      (2L, "B", "b c")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.vocabCoverageDf(docs, vocabSize = 2).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out("A") == ((4L, 0L, 0.0, 2L, 0L)), s"source A: ${out("A")}")
    assert(out("B") == ((2L, 1L, 0.5, 2L, 1L)), s"source B: ${out("B")}")
    // boundary tie: b and c both count 2 -> lexicographic keeps b
    val tied = Seq((1L, "A", "a a c b b c")).toDF("doc_id", "source", "text")
    val t = TextAnalysis.vocabCoverageDf(tied, vocabSize = 2).collect().head
    assert(t.getLong(2) == 2L && t.getLong(5) == 1L,
      s"tie at the vocab boundary must resolve lexicographically: $t")
    // fixture-wide invariants at sf: fractions in [0,1], tokens conserve
    val full = TextAnalysis.vocabCoverage(spark, sfDir).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(5) <= r.getLong(4))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    assert(full.exists(_.getLong(2) > 0),
      "fixture must exercise the OOV branch (V=16 < 31 fixture terms)")
  }

  test("c4 line filter: each rule fires on a hand-built line") {
    val good = "This line carries plenty of proper words and ends well."
    val df = docsDf(
      // 3 good lines -> kept; short fragment + unterminated line dropped
      1L -> s"$good\nToo short.\nno terminal punctuation on this line\n$good\n$good",
      // javascript + cookie-policy lines dropped, leaving 3 good -> kept
      2L -> s"$good\nPlease enable javascript to continue reading here.\nWe use cookies as described in our cookie policy.\n$good\n$good",
      // only 2 kept lines -> too_short
      3L -> s"$good\n$good",
      // curly brace poisons the page regardless of good lines
      4L -> s"$good\n$good\n$good\nif (x) { return; }",
      // lorem ipsum poisons the page, case-insensitively
      5L -> s"$good\n$good\n$good\nLOREM IPSUM dolor sit amet.")
    val out = Cleaning.c4LineFilterDf(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    assert(out(1L) == ((5L, 3L, "kept")), s"punct/word rules: ${out(1L)}")
    assert(out(2L) == ((5L, 3L, "kept")), s"js/policy rules: ${out(2L)}")
    assert(out(3L) == ((2L, 2L, "too_short")), s"line floor: ${out(3L)}")
    assert(out(4L)._3 == "page_filtered", s"brace page rule: ${out(4L)}")
    assert(out(5L)._3 == "page_filtered", s"lorem page rule: ${out(5L)}")
  }

  test("c4 line filter: word floor and terminal set behave exactly at the boundary") {
    val df = docsDf(
      1L -> "one two three four five.",   // exactly 5 words -> kept
      2L -> "one two three four.",        // 4 words -> dropped
      3L -> "is a quoted line kept here\"", // terminal quote counts
      4L -> "ends with an exclamation mark indeed!",
      5L -> "   padded line with five words here.   ") // trim before rules
    val out = Cleaning.c4LineFilterDf(df)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 1L && out(2L) == 0L, s"word floor: $out")
    assert(out(3L) == 1L && out(4L) == 1L, s"terminal set: $out")
    assert(out(5L) == 1L, s"lines trim before the rules: $out")
  }

  test("url dedup: each canonicalization rule collapses exactly its own variance") {
    val urls = Seq(
      1L -> "https://news.example.com/a/articles/7?a=1&b=2",      // canonical form
      2L -> "HTTPS://News.Example.COM/a/articles/7?a=1&b=2",      // case
      3L -> "https://news.example.com:443/a/articles/7?a=1&b=2",  // default port
      4L -> "https://news.example.com/a/articles/7/?a=1&b=2",     // trailing slash
      5L -> "https://news.example.com/a/articles/7?b=2&a=1",      // param order
      6L -> "https://news.example.com/a/articles/7?a=1&utm_source=x&b=2&gclid=y", // trackers
      7L -> "https://news.example.com/a/articles/7?a=1&b=2#sec",  // fragment
      8L -> "https://news.example.com/A/articles/7?a=1&b=2",      // path case SIGNIFICANT
      9L -> "https://news.example.com/a/articles/7?a=1&b=3",      // real param change
      10L -> "https://news.example.com:8443/a/articles/7?a=1&b=2") // non-default port
    val out = Cleaning.urlDedupDf(urls.toDF("doc_id", "url"))
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
    (1L to 7L).foreach { id =>
      assert(out(id)._1 == "https://news.example.com/a/articles/7?a=1&b=2" &&
        out(id)._2 == 1L, s"doc $id must collapse to doc 1: ${out(id)}")
    }
    Seq(8L, 9L, 10L).foreach { id =>
      assert(out(id)._2 == id, s"doc $id must NOT collapse: ${out(id)}")
    }
  }

  test("url canonicalization is idempotent: canon(canon(u)) == canon(u)") {
    // canonical outputs re-enter the chain unchanged — fragment gone,
    // host already lowered, port/trailing-slash stripped, params
    // sorted+filtered. A rule that re-fires on its own output (e.g. a
    // greedy port regex eating path digits) breaks this.
    val once = Cleaning.urlDedup(spark, sfDir)
      .select(col("canon_url").as("url"), col("doc_id"))
    val twice = Cleaning.urlDedupDf(once)
      .filter(col("url") =!= col("canon_url")).count()
    assert(twice == 0L, s"$twice canonical URLs changed under re-canonicalization")
  }

  test("c4 cleaning is idempotent: re-cleaning the cleaned corpus is a no-op") {
    // every surviving line already satisfies the line rules and kept
    // pages carry no page poison, so the rewrite form is a fixpoint —
    // a rule that re-fires on its own output (e.g. trim shifting the
    // terminal character) breaks this
    val cleaned = Cleaning.c4CleanedDocs(Cleaning.c4StructuredDocs(
      graft.Tables.documents(spark, sfDir)))
    assert(cleaned.count() > 0, "fixture must keep some documents")
    val again = Cleaning.c4CleanedDocs(
      cleaned.select(col("doc_id"), col("clean_text").as("text")))
    val joined = cleaned.as("a").join(again.as("b"), Seq("doc_id"), "full")
    assert(joined.filter(col("a.clean_text").isNull ||
        col("b.clean_text").isNull ||
        col("a.clean_text") =!= col("b.clean_text")).count() == 0L,
      "re-cleaning must reproduce the cleaned corpus exactly")
    // stats/rewrite agreement: rewrite keeps exactly the audit's 'kept' docs
    val auditKept = Cleaning.c4LineFilter(spark, sfDir)
      .filter(col("verdict") === "kept").select("doc_id")
    assert(auditKept.count() == cleaned.count(),
      "rewrite form must keep exactly the audit's kept documents")
  }

  test("url docs: every complete variant triple collapses to its first member at sf") {
    val out = Cleaning.urlDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
    assert(out.nonEmpty)
    val ids = out.map(_._1).toSet
    var completeGroups = 0
    out.foreach { case (id, keeper, dup) =>
      val head = id / 3 * 3
      if (Seq(head, head + 1, head + 2).forall(ids)) {
        completeGroups += 1
        assert(keeper == head, s"doc $id keeper must be the group head $head")
        assert(dup == (id != head), s"doc $id dup flag wrong")
      }
    }
    assert(completeGroups >= out.length / 2,
      s"fixture must carry mostly complete variant triples: $completeGroups")
  }

  test("c4 structured docs: planted features produce all three verdicts at sf") {
    val out = Cleaning.c4LineFilter(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out.nonEmpty)
    // page poison keys (doc_id % 31 / % 37) -> page_filtered
    out.keys.filter(id => id % 31 == 0 || id % 37 == 0).foreach { id =>
      assert(out(id) == "page_filtered", s"doc $id must be page-poisoned")
    }
    val verdicts = out.values.toSet
    assert(verdicts == Set("kept", "too_short", "page_filtered"),
      s"fixture must exercise every verdict: $verdicts")
    // multiples of 3 (and only rule-clean ones) fall below the line floor
    out.keys.filter(id => id % 3 == 0 && id % 31 != 0 && id % 37 != 0)
      .foreach { id =>
        assert(out(id) != "kept", s"doc $id lacks the question line: $out")
      }
  }

  private val cookieLine = "We use cookies as described in our cookie policy."
  private val jsLine = "Please enable javascript to view this content."

  test("boilerplate dictionary: banner lines cross the two-sided threshold, rare lines don't") {
    val flagged = Cleaning.boilerplateLines(spark, sfDir).collect()
    val bySource = flagged.groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getString(1)).toSet }
    // js notice: df 3-4/25 in every source (0.12-0.16 > 0.05, >= 2 docs)
    (0 until 20).foreach { i =>
      assert(bySource.get(s"src$i").exists(_.contains(jsLine)),
        s"js notice must flag in src$i: ${bySource.get(s"src$i")}")
    }
    // cookie banner: source = doc_id % 20, so it saturates sources
    // 0/5/10/15 (df 1.0) and never occurs elsewhere — per-domain scoping
    Seq(0, 5, 10, 15).foreach { i =>
      assert(bySource(s"src$i").contains(cookieLine), s"cookie must flag in src$i")
    }
    Seq(1, 2, 3, 4).foreach { i =>
      assert(!bySource.get(s"src$i").exists(_.contains(cookieLine)),
        s"cookie line never occurs in src$i")
    }
    // the rare page-poison lines stay below a floor (absolute floor at
    // sf0.001 where df_docs = 1; fractional floor at sf0.01 where
    // ~8/250 = 0.032)
    val lines = flagged.map(_.getString(1)).toSet
    assert(!lines.contains("if (x) { runScript(); }"), "1/31 code line must not flag")
    assert(!lines.contains("Lorem ipsum dolor sit amet."), "1/37 lorem line must not flag")
    // threshold honesty on every row
    flagged.foreach { r =>
      assert(r.getLong(2) >= Cleaning.BoilerMinDocs &&
        r.getLong(2) >= Cleaning.BoilerMinFrac * r.getLong(3),
        s"flagged row violates its own thresholds: $r")
    }
  }

  test("boilerplate rewrite: removes exactly the domain's flagged lines, keeps unique content") {
    val dict = Cleaning.boilerplateLines(spark, sfDir).collect()
      .groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getString(1)).toSet }
    val structured = Cleaning.c4StructuredDocs(
        graft.Tables.documents(spark, sfDir))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val cleaned = Cleaning.boilerplateCleaned(spark, sfDir).collect()
    assert(cleaned.length == structured.size, "rewrite keeps every document")
    cleaned.foreach { r =>
      val (id, src) = (r.getLong(0), r.getString(1))
      val (srcIn, textIn) = structured(id)
      assert(src == srcIn)
      val flaggedSet = dict.getOrElse(src, Set.empty[String])
      val inLines = textIn.split("\n", -1).map(_.trim)
      val expectKept = inLines.filterNot(flaggedSet)
      assert(r.getLong(2) == inLines.length, s"lines_total wrong for doc $id")
      assert(r.getLong(3) == (inLines.length - expectKept.length).toLong,
        s"removed_lines wrong for doc $id")
      assert(r.getString(4) == expectKept.mkString("\n"),
        s"clean_text must be the unflagged lines in order for doc $id")
      assert(r.getString(4).contains("Deterministic check number"),
        s"unique per-doc line must survive in doc $id")
    }
    // the rewrite actually bites: every src0 doc loses its saturated banner
    val removedBySrc0 = cleaned.filter(_.getString(1) == "src0")
    assert(removedBySrc0.nonEmpty && removedBySrc0.forall(_.getLong(3) >= 1L),
      "src0's saturated cookie banner must be removed from every doc")
  }

  test("domain blocklist: DNS-suffix semantics, longest match wins, no bare-string matches") {
    val out = Cleaning.domainBlocklist(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2),
        Option(r.getString(3))))).toMap
    // doc 85: k=4 -> cdn + com, src5 -> matches BOTH cdn.src5.example.com
    // and src5.example.com; longest-first reports the subdomain entry
    assert(out(85L) == (("cdn.src5.example.com", true, Some("cdn.src5.example.com"))),
      s"longest match must win: ${out(85L)}")
    // doc 25: k=1 -> plain com, src5 -> only the site-level entry
    assert(out(25L) == (("src5.example.com", true, Some("src5.example.com"))),
      s"site-level entry: ${out(25L)}")
    // doc 23: k=1 -> com, src3 -> blocked at site level
    assert(out(23L)._2 && out(23L)._3.contains("src3.example.com"), s"${out(23L)}")
    // doc 3: k=0 -> cdn + org -> blocked at TLD+1 level through the subdomain
    assert(out(3L)._1 == "cdn.src3.example.org" &&
      out(3L)._3.contains("example.org"), s"${out(3L)}")
    // doc 100: k=5 -> com, src0 -> no entry matches
    assert(out(100L) == (("src0.example.com", false, None)), s"${out(100L)}")
    // every blocked row reports a suffix, every unblocked row reports none
    out.values.foreach { case (_, blocked, suf) =>
      assert(blocked == suf.isDefined)
    }
  }

  test("acquisition funnel: stage counts are monotone and equal the component operators") {
    val f = Cleaning.acquisitionFunnel(spark, sfDir).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val raw = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull).count()
    assert(f("raw") == raw, s"stage 1 must count every non-null doc: $f")
    // stage 2 = the url-dedup election run standalone over the
    // funnel's url view, exactly
    val urlKeepers = Cleaning.urlDedupDf(Cleaning.funnelUrlDocs(
        graft.Tables.documents(spark, sfDir)))
      .filter(!col("dup")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(f("url_dedup") == urlKeepers.size, s"stage 2 vs urlDedupDf: $f")
    // stage 3 = url keepers that the blocklist lets through, exactly
    val blocked = Cleaning.domainBlocklist(spark, sfDir)
      .filter(col("blocked")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(f("blocklist") == (urlKeepers -- blocked).size,
      s"stage 3 vs q_domain_blocklist: $f")
    // monotone, and the tail stages still keep something
    val order = Seq("raw", "url_dedup", "blocklist", "c4_pages", "boilerplate")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(f(a) >= f(b), s"funnel must be monotone: $a=${f(a)} < $b=${f(b)}")
    }
    assert(f("boilerplate") > 0, s"fixture must survive the full funnel: $f")
    assert(f("c4_pages") < f("blocklist"),
      s"c4 page rules must bite on the structured fixture: $f")
  }

  test("acquisition funnel: a fully-templated domain dies at the boilerplate stage") {
    // identical texts make every structured line except the per-doc
    // 'Deterministic check number N' line domain-saturated (df 1.0):
    // pages pass the c4 floor on their own lines, then fall below it
    // once the dictionary strips the template — the stage-5 failure
    // mode the sf fixture (distinct texts) cannot exhibit
    val text = "the quick brown fox jumps over the lazy dog again and " +
      "again until the fence finally gives way to the garden path"
    // ids 20-39: host block k=1 (plain .com, unblocked); avoid the
    // %31 poison doc; url groups of four give real stage-2 dups
    val ids = Seq(21L, 22L, 25L, 26L, 28L, 29L, 33L, 34L)
    val docs = ids.map(i => (i, "srcT", text)).toDF("doc_id", "source", "text")
    val f = Cleaning.acquisitionFunnelCore(docs,
        Cleaning.boilerplateDictDf(Cleaning.c4StructuredDocs(docs))).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(f("c4_pages") > 0, s"templated pages pass c4 on their own: $f")
    assert(f("boilerplate") == 0L,
      s"dictionary removal must drop them below the line floor: $f")
  }

  test("domain blocklist: an entry blocks subdomains, never bare string suffixes") {
    val docs = Seq(
      1L -> "example.org",           // exact match
      2L -> "a.b.example.org",       // deep subdomain
      3L -> "gexample.org",          // bare string suffix — NOT blocked
      4L -> "example.org.evil.com"   // suffix on the wrong side — NOT blocked
    ).toDF("doc_id", "host")
    val out = Cleaning.domainBlocklistDf(docs, Seq("example.org"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false),
      s"suffix semantics must be label-aligned: $out")
  }

  test("k-anonymity audit counts quasi-identifier risk mass per threshold") {
    // QI groups (lang, source, n_chars//500): sizes 1, 3, 6, 1 (null
    // lang), 1 (bucket-1 split of the size-6 combination) = 12 docs
    val rows =
      Seq(("vi", "a", 10L)) ++
      Seq.fill(3)(("vi", "b", 20L)) ++
      Seq.fill(6)(("en", "a", 499L)) ++
      Seq((null.asInstanceOf[String], "a", 10L)) ++
      Seq(("en", "a", 600L)) // same (lang, source), different bucket
    val docs = rows.toDF("lang", "source", "n_chars")
    val r = Cleaning.kAnonymityAuditDf(docs).collect().head
    assert(r.getLong(0) == 12L, "n_docs")
    assert(r.getLong(1) == 5L, "n_groups")
    assert(r.getLong(2) == 3L && r.getLong(3) == 3L, "lt_2 groups/docs")
    assert(r.getDouble(4) == 0.25, s"risk_2 ${r.getDouble(4)}")
    assert(r.getLong(5) == 4L && r.getLong(6) == 6L, "lt_5 groups/docs")
    assert(r.getDouble(7) == 0.5, "risk_5")
    assert(r.getLong(8) == 5L && r.getLong(9) == 12L, "lt_10 groups/docs")
    assert(r.getDouble(10) == 1.0, "risk_10")
  }

  // ------------------------------------------ exact substring dedup

  test("substring dedup: planted 60-token repeat at unaligned offsets, exact boundaries") {
    val rep = (0 until 60).map(i => s"rep$i")
    val d1 = ((1 to 7).map(i => s"a$i") ++ rep ++ (1 to 5).map(i => s"b$i")).mkString(" ")
    val d2 = ((1 to 13).map(i => s"c$i") ++ rep ++ (1 to 9).map(i => s"e$i")).mkString(" ")
    val d3 = (1 to 80).map(i => s"u$i").mkString(" ")              // no repeat
    val short = (0 until Cleaning.SubstrK - 1).map(i => s"s$i")    // k-1 shared: below anchor width
    val d4 = ((1 to 6).map(i => s"f$i") ++ short).mkString(" ")
    val d5 = ((1 to 6).map(i => s"g$i") ++ short).mkString(" ")
    val out = Cleaning.substringDedupOf(Cleaning.spansWithMd5(
      toks(1L -> d1, 2L -> d2, 3L -> d3, 4L -> d4, 5L -> d5))).collect()
    assert(out.length == 2, s"exactly the two planted spans, got ${out.mkString("; ")}")
    val m = out.map(r => r.getLong(0) -> r).toMap
    // exact boundaries: 1-based token positions of the 60-token block
    assert(m(1L).getLong(1) == 8 && m(1L).getLong(2) == 67 && m(1L).getLong(3) == 60)
    assert(m(2L).getLong(1) == 14 && m(2L).getLong(2) == 73 && m(2L).getLong(3) == 60)
    // identical content behind the boundaries: same md5 of the span text
    assert(m(1L).getString(4) == m(2L).getString(4))
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(rep.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(m(1L).getString(4) == expected, "span md5 must hash exactly the planted block")
  }

  test("substring dedup: islands fuse exactly when every window is cross-duplicated") {
    val rep = (0 until Cleaning.SubstrK).map(i => s"r$i")
    // doc 1 carries the k-block TWICE in a row; doc 2 carries it ONCE.
    // Only the two block-aligned windows of doc 1 exist in doc 2 (the
    // straddling windows r1..r19 r0 etc. do not), so the faithful
    // ExactSubstr output is TWO abutting exact matches — no false
    // fusion of a 2k run that is not itself repeated anywhere.
    val d1 = ((1 to 3).map(i => s"x$i") ++ rep ++ rep).mkString(" ")
    val d2 = ((1 to 11).map(i => s"y$i") ++ rep ++ (1 to 4).map(i => s"z$i")).mkString(" ")
    val out = Cleaning.substringDedupOf(Cleaning.spansWithMd5(toks(1L -> d1, 2L -> d2)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val k = Cleaning.SubstrK.toLong
    assert(out == Set((1L, 4L, 3L + k), (1L, 4L + k, 3L + 2 * k), (2L, 12L, 11L + k)),
      s"got $out")
    // when doc 3 ALSO carries the doubled block, every straddling
    // window is cross-duplicated and the run fuses into one maximal
    // island of 2k tokens on both carriers
    val d3 = ((1 to 5).map(i => s"w$i") ++ rep ++ rep).mkString(" ")
    val fused = Cleaning.substringDedupOf(Cleaning.spansWithMd5(toks(1L -> d1, 2L -> d2, 3L -> d3)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fused == Set((1L, 4L, 3L + 2 * k), (2L, 12L, 11L + k), (3L, 6L, 5L + 2 * k)),
      s"got $fused")
  }

  test("substring dedup: corpus run — session artifact form equals the Df form, spans well-formed") {
    val viaSession = Cleaning.substringDedup(spark, sfDir).collect()
    val viaDf = Cleaning.substringDedupOf(Cleaning.spansWithMd5(
      TextAnalysis.tokenized(graft.Tables.documents(spark, sfDir)))).collect()
    assert(viaSession.map(_.toString).toSeq == viaDf.map(_.toString).toSeq)
    assert(viaSession.nonEmpty, "the fixture corpus carries natural cross-doc repeats")
    viaSession.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(3) >= Cleaning.SubstrK &&
        r.getLong(3) == r.getLong(2) - r.getLong(1) + 1)
    }
    // spans within a doc are disjoint and ordered (maximal islands)
    viaSession.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      rows.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(1) > a.getLong(2) - Cleaning.SubstrK + 1)
        case _ =>
      }
    }
  }


  test("substring self-repeat: both copies surface with exact boundaries; no false positives") {
    val k = Cleaning.SelfRepeatK
    val phrase = (0 until k + 2).map(i => s"p$i") // k+2 tokens: 3 windows per copy
    // copy 1 at positions 4..(k+5), copy 2 after a 5-token gap
    val gap = (1 to 5).map(i => s"g$i")
    val d1 = ((1 to 3).map(i => s"a$i") ++ phrase ++ gap ++ phrase).mkString(" ")
    val d2 = (1 to 40).map(i => s"u$i").mkString(" ")    // no intra repeat
    // cross-doc repeat WITHOUT intra-doc repeat must NOT surface here
    val shared = (0 until k + 1).map(i => s"s$i")
    val d3 = ((1 to 2).map(i => s"b$i") ++ shared).mkString(" ")
    val d4 = ((1 to 6).map(i => s"c$i") ++ shared).mkString(" ")
    val out = Cleaning.substringSelfRepeatOn(
      toks(1L -> d1, 2L -> d2, 3L -> d3, 4L -> d4)).collect()
    assert(out.forall(_.getLong(0) == 1L),
      s"only the self-repeating doc may report: ${out.mkString("; ")}")
    val spans = out.map(r => (r.getLong(1), r.getLong(2))).toSet
    val c1Start = 4L
    val c2Start = c1Start + (k + 2) + 5
    assert(spans == Set((c1Start, c1Start + k + 1), (c2Start, c2Start + k + 1)),
      s"both copies with exact boundaries, got $spans")
    // identical content: both spans hash the same phrase
    assert(out.map(_.getString(4)).distinct.length == 1)
  }

  test("substring self-repeat: abutting copies split at the period boundary") {
    val k = Cleaning.SelfRepeatK
    val block = (0 until k).map(i => s"q$i")
    // exactly "block block": only the two block-aligned windows repeat,
    // so the faithful output is two abutting k-token spans
    val d1 = ((1 to 2).map(i => s"w$i") ++ block ++ block).mkString(" ")
    val out = Cleaning.substringSelfRepeatOn(toks(1L -> d1))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((3L, 2L + k), (3L + k, 2L + 2 * k)), s"got $out")
  }

  test("substring excision: keeper keeps, non-keepers cut, tokens conserved") {
    val rep = (0 until 60).map(i => s"rep$i")
    val d1 = ((1 to 7).map(i => s"a$i") ++ rep ++ (1 to 5).map(i => s"b$i")).mkString(" ")
    val d2 = ((1 to 13).map(i => s"c$i") ++ rep ++ (1 to 9).map(i => s"e$i")).mkString(" ")
    val t = toks(1L -> d1, 2L -> d2)
    val out = Cleaning.excisedFromSpans(t, Cleaning.spansWithMd5(t).localCheckpoint()).collect()
    // doc 1 is the keeper (min doc_id over the shared first anchor):
    // only doc 2 appears in the cut list
    assert(out.length == 1 && out.head.getLong(0) == 2L, s"got ${out.mkString(";")}")
    val r = out.head
    assert(r.getLong(1) == 1L && r.getLong(2) == 60L, s"one 60-token span cut: $r")
    assert(r.getLong(3) == 13L + 9L, "prefix+suffix tokens survive")
    // the cleaned text is exactly the fillers, content-proven by md5
    val cleaned = ((1 to 13).map(i => s"c$i") ++ (1 to 9).map(i => s"e$i")).mkString(" ")
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(cleaned.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(4) == expected, "excision must splice exactly the span out")
  }

  test("substring excision: a fully-duplicated document reports zero kept tokens") {
    val rep = (0 until Cleaning.SubstrK).map(i => s"q$i")
    val d1 = ((1 to 4).map(i => s"h$i") ++ rep).mkString(" ")
    val d2 = rep.mkString(" ") // the ENTIRE doc is the duplicated span
    val t = toks(1L -> d1, 2L -> d2)
    val out = Cleaning.excisedFromSpans(t, Cleaning.spansWithMd5(t).localCheckpoint())
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(2L), "doc 1 is the keeper")
    assert(out(2L).getLong(3) == 0L, "every token cut")
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map("%02x".format(_)).mkString
    assert(out(2L).getString(4) == emptyMd5)
  }

  test("substring excision: corpus run — session form equals Df form, removal accounting exact") {
    val viaSession = Cleaning.substringExcised(spark, sfDir).collect()
    val t = TextAnalysis.tokenized(graft.Tables.documents(spark, sfDir))
    val viaDf = Cleaning.excisedFromSpans(t, Cleaning.spansWithMd5(t).localCheckpoint()).collect()
    assert(viaSession.map(_.toString).toSeq == viaDf.map(_.toString).toSeq)
    assert(viaSession.nonEmpty)
    viaSession.foreach { r =>
      assert(r.getLong(2) >= Cleaning.SubstrK, "each cut doc loses at least one k-span")
      assert(r.getLong(1) >= 1L && r.getLong(3) >= 0L)
    }
  }


  test("substring incremental: arrivals report spans against the frozen base gram index only") {
    val k = Cleaning.SubstrK
    val block = (0 until k).map(i => s"blk$i")
    // base doc 1 owns the block; arrival doc 4 (doc_id % 4 == 0) repeats
    // it; arrivals 8 and 12 share a block ONLY with each other — an
    // arrival-internal repeat must NOT be reported against the base
    val arrOnly = (0 until k).map(i => s"arr$i")
    val docs = docsDf(
      1L -> ((1 to 5).map(i => s"p$i") ++ block).mkString(" "),
      4L -> ((1 to 3).map(i => s"q$i") ++ block ++ Seq("tail")).mkString(" "),
      8L -> arrOnly.mkString(" "),
      12L -> ((1 to 2).map(i => s"r$i") ++ arrOnly).mkString(" "))
    val out = Cleaning.substringDedupAgainst(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 4 === 0),
      Cleaning.substringGramIndex(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 4 =!= 0)))
      .collect()
    assert(out.length == 1 && out.head.getLong(0) == 4L, s"got ${out.mkString(";")}")
    assert(out.head.getLong(1) == 4L && out.head.getLong(2) == (3 + k).toLong)
  }


  test("moore-lewis: in-domain lookalikes select, off-domain documents reject") {
    val domain = "neural language model training data selection pipeline"
    // target slice (doc_id % 20 == 7 under the default predicate):
    // a deterministic trigram chain — the in-domain model assigns its
    // own continuations probability 1
    val docs = toks(
      7L  -> (domain + " ") * 6,
      27L -> (domain + " ") * 5,
      // pool: doc 1 IS the target chain; doc 3 reuses its contexts with
      // DIFFERENT continuations, so the general model's probabilities
      // for doc 1's trigrams split below 1 while the in-domain model's
      // stay exact; doc 2 is off-domain (every trigram OOV in-domain)
      1L  -> (domain + " ") * 4,
      3L  -> "language model training nonsense data selection banana pipeline neural junk things",
      2L  -> ("completely unrelated cooking recipe with garlic butter onions " * 4))
    val (lm, tables) = TextAnalysis.mooreLewisLm(docs)
    val out = TextAnalysis.mooreLewisOn(docs, lm, TextAnalysis.mooreLewisNs(lm))
      .collect().map(r => r.getLong(0) -> r).toMap
    tables.foreach(org.apache.spark.sql.GraftSql.releaseCheckpoint)
    assert(out.keySet == Set(1L, 2L, 3L), "target-slice docs are the model, not the pool")
    assert(out(1L).getDouble(4) > 0 && out(1L).getBoolean(5),
      s"domain lookalike must score above the general model: ${out(1L)}")
    assert(out(2L).getDouble(4) < 0 && !out(2L).getBoolean(5),
      s"off-domain text must fall to the in-domain OOV floor: ${out(2L)}")
  }

  test("moore-lewis: corpus run — session artifact form equals the Df form") {
    val viaSession = TextAnalysis.mooreLewisSelect(spark, sfDir).collect()
    val docs = TextAnalysis.tokenized(graft.Tables.documents(spark, sfDir))
    val (lm, tables) = TextAnalysis.mooreLewisLm(docs)
    val viaCore = TextAnalysis.mooreLewisOn(docs, lm, TextAnalysis.mooreLewisNs(lm)).collect()
    tables.foreach(org.apache.spark.sql.GraftSql.releaseCheckpoint)
    assert(viaSession.map(_.toString).toSeq == viaCore.map(_.toString).toSeq)
    assert(viaSession.nonEmpty)
    val sel = viaSession.count(_.getBoolean(5))
    assert(sel < viaSession.length, "selection must discriminate, not pass everything")
  }


  test("filter attribution: unique/shared split conserves, singleton flags attribute exactly") {
    import org.apache.spark.sql.functions.col
    // hand-built matrix: doc 1 clean; doc 2 fails rules ONLY (few
    // words); docs 3+4 identical text (4 is the dup) and both low
    // quality -> the dup flag on 4 is SHARED with quality
    val shortDoc = "tiny text"
    val junk = (1 to 42).map(_ => "#?!").mkString(" ")
    val docs = docsDf(
      1L -> (Seq("the", "a") ++ (1 to 40).map(i => s"word$i")).mkString(" "),
      2L -> shortDoc,
      3L -> junk,
      4L -> junk)
    val out = Cleaning.filterAttributionDf(docs)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("rules", "repetition", "quality", "duplicate"))
    out.values.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), s"unique+shared=flagged at $r")
      assert(r.getLong(5) == 4L, "n_docs rides every row")
    }
    assert(out("duplicate").getLong(1) == 1L && out("duplicate").getLong(2) == 0L,
      s"doc 4's dup flag is shared with its quality flag: ${out("duplicate")}")
    val viaSession = Cleaning.filterAttribution(spark, sfDir).collect()
    assert(viaSession.length == 4 && viaSession.forall(r =>
      r.getLong(1) == r.getLong(2) + r.getLong(3)))
  }


  test("substring excision: content-keyed keepers — an X-only doc cannot excise X·Y content") {
    val k = Cleaning.SubstrK
    val x = (0 until k).map(i => s"x$i")
    val y = (0 until k).map(i => s"y$i")
    // doc 1 carries X alone; docs 5 and 7 carry the contiguous X·Y —
    // every X·Y window is cross-duplicated between 5 and 7, fusing one
    // island whose FIRST anchor is X's. A first-anchor election would
    // crown doc 1 keeper of the X·Y spans and cut Y from the corpus;
    // the content election keeps X·Y in doc 5
    val t = toks(
      1L -> ((1 to 3).map(i => s"a$i") ++ x).mkString(" "),
      5L -> ((1 to 2).map(i => s"b$i") ++ x ++ y).mkString(" "),
      7L -> ((1 to 4).map(i => s"c$i") ++ x ++ y).mkString(" "))
    val out = Cleaning.excisedFromSpans(t, Cleaning.spansWithMd5(t).localCheckpoint())
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 keeps X (its span content's min doc); doc 5 keeps X·Y
    // (min doc of that content); ONLY doc 7 is cut
    assert(out.keySet == Set(7L), s"content Y must survive in doc 5: $out")
    assert(out(7L).getLong(2) == 2L * k, "doc 7 loses exactly the X·Y block")
  }

}
