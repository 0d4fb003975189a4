package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed training of the quality classifier — the missing half of
  * [[TextAnalysis.modelQualityFilter]], whose fixed literal weights
  * stand in for "a trained model". This operator TRAINS that model:
  * full-batch logistic-regression gradient descent that distills the
  * rule-based quality verdict (the fastText-style pattern: cheap rule
  * labels → differentiable scorer you can threshold, calibrate and
  * audit — Joulin et al. 2016; the CCNet/RefinedWeb quality-model
  * stage). [[distilledScores]] closes the loop: the corpus scored with
  * the weights that were just trained on it — the production
  * model-based filter with a model that actually came from training.
  *
  * Execution shape (the part that matters at 100 TB):
  *  - the feature kernel (tokenize + regex) runs ONCE into a
  *    checkpointed (doc_id, sr, pr, lt, al, y) frame — 5 doubles/doc
  *    at any corpus size;
  *  - standardization is two exact aggregate passes (mean, then
  *    variance against the exact mean — two passes instead of the
  *    E[x²]−m² one-pass form, which cancels catastrophically);
  *  - each epoch is ONE corpus pass: map-side partial aggregation
  *    reduces every partition to 5 gradient longs + 2 counters before
  *    the exchange, so per-epoch driver traffic is 7 longs per
  *    partition — the [[Clustering.kmeansCentroids]] sync discipline.
  *    Weights (5 doubles) are the only driver-side state.
  *  - scoring is a narrow per-row map over the checkpointed features.
  *
  * Exactness discipline (the [[Graph]] contract): every aggregate sums
  * BIGINTs — per-row gradient contributions are micro-snapped
  * (floor(g·1e6 + 0.5)) BEFORE the sum, so no float summation order
  * exists anywhere; all remaining arithmetic is per-row/scalar IEEE
  * double ops. The DuckDB oracle replays the whole descent (unrolled
  * epochs) and must match bit-for-bit at 6 dp.
  */
object Training {

  /** Learning rate / epoch count — `private[graft]` so the oracle SQL
    * builders in [[graft.SparkEntry]] interpolate THESE values; a
    * changed default cannot silently diverge the oracle.
    */
  private[graft] val Lr = 2.0
  private[graft] val Epochs = 4

  /** Σ floor(c · 1e6 + 0.5) as BIGINT — the micro-snap aggregate. */
  private def snapSum(c: Column): Column =
    sum(floor(c * lit(1e6) + lit(0.5)).cast("long"))

  /** The trained artifact: standardization constants + weights — 13
    * doubles, deliberately NOT a frozen table ([[Freeze]]): a model
    * this small rides in the scoring expression as plan-resident
    * literals (the domain-blocklist discipline).
    */
  case class QualityModel(means: Seq[Double], stds: Seq[Double],
                          weights: Array[Double])

  /** The fitted state: standardized features (with doc_id + label), the
    * weight/accuracy trajectory, and the model. Weights are UNROUNDED —
    * rounding is presentation only.
    */
  private[ext] case class Fit(
      std: DataFrame,
      epochs: Seq[(Long, Long, Long, Double, Double, Double, Double, Double)],
      model: QualityModel) {
    def weights: Array[Double] = model.weights
  }

  /** Raw features — the qualityScores fragments verbatim; lt is the
    * log-token term the rule model itself uses. Empty texts are
    * excluded on both sides (the 0/0 Spark-NULL vs DuckDB-NaN parity
    * trap recorded at modelQualityFilter).
    */
  private def rawFeatures(docs: DataFrame): DataFrame = {
    val t = TextAnalysis.tokens(col("text"))
    val nTok = size(t).cast("double")
    val sr = TextAnalysis.stopwordCount(col("text")).cast("double") / nTok
    val pr = TextAnalysis.punctCount(col("text")).cast("double") / length(col("text"))
    val lt = log(nTok + lit(1.0))
    val al = length(col("text")).cast("double") / nTok
    val y = when(TextAnalysis.qualityScoreCol >= lit(0.5), lit(1.0))
      .otherwise(lit(0.0))
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), sr.as("sr"), pr.as("pr"), lt.as("lt"),
        al.as("al"), y.as("y"))
  }

  /** Standardized columns under a model's constants. */
  private def standardize(feats: DataFrame, m: QualityModel): DataFrame =
    feats.select(col("doc_id"),
      ((col("sr") - lit(m.means(0))) / lit(m.stds(0))).as("zsr"),
      ((col("pr") - lit(m.means(1))) / lit(m.stds(1))).as("zpr"),
      ((col("lt") - lit(m.means(2))) / lit(m.stds(2))).as("zlt"),
      ((col("al") - lit(m.means(3))) / lit(m.stds(3))).as("zal"),
      col("y"))

  private def fit(docs: DataFrame): Fit = {
    val feats = rawFeatures(docs)
      .localCheckpoint() // kernel runs once, not once per pass

    // pass 1+2: exact standardization (mean, then variance vs the mean)
    val mRow = feats.agg(snapSum(col("sr")), snapSum(col("pr")),
      snapSum(col("lt")), snapSum(col("al")), count(lit(1))).head()
    val n = mRow.getLong(4)
    require(n > 0, "trainQualityClassifier: empty corpus")
    val means = (0 to 3).map(i => (mRow.getLong(i) / 1e6) / n)
    val vRow = feats.agg(
      snapSum((col("sr") - lit(means(0))) * (col("sr") - lit(means(0)))),
      snapSum((col("pr") - lit(means(1))) * (col("pr") - lit(means(1)))),
      snapSum((col("lt") - lit(means(2))) * (col("lt") - lit(means(2)))),
      snapSum((col("al") - lit(means(3))) * (col("al") - lit(means(3))))).head()
    val stds = (0 to 3).map { i =>
      val v = (vRow.getLong(i) / 1e6) / n
      if (v > 0) math.sqrt(v) else 1.0 // constant feature → weight stays 0
    }
    val w = Array(0.0, 0.0, 0.0, 0.0, 0.0)
    val std = standardize(feats, QualityModel(means, stds, w))

    // the descent: one aggregate pass per epoch
    val trajectory = (1 to Epochs).map { ep =>
      val p = sigmoid(w)
      val dlt = p - col("y")
      val g = std.agg(
        snapSum(dlt),
        snapSum(dlt * col("zsr")),
        snapSum(dlt * col("zpr")),
        snapSum(dlt * col("zlt")),
        snapSum(dlt * col("zal")),
        sum(when((p >= lit(0.5)) === (col("y") === lit(1.0)), 1L)
          .otherwise(0L)).as("ncorr")).head()
      for (j <- 0 to 4) w(j) = w(j) - Lr * ((g.getLong(j) / 1e6) / n)
      (ep.toLong, g.getLong(5), n, w(0), w(1), w(2), w(3), w(4))
    }
    Fit(std, trajectory, QualityModel(means, stds, w))
  }

  /** Train on a (static) corpus and return just the model. */
  def fitModel(docs: DataFrame): QualityModel = fit(docs).model

  /** Score arbitrary documents under an already-trained model — a
    * narrow per-row map (features + standardization + sigmoid in one
    * projection; no shuffle, no aggregate). The production inference
    * shape shared by [[qualityModelSink]].
    *
    * Every input doc_id gets a verdict row: docs the feature kernel
    * cannot score (null/empty text — excluded by [[rawFeatures]]) come
    * back as kept=0 with a NULL model_score, so a sink consumer can
    * distinguish "model rejected" (kept=0, score present) from "never
    * scorable" (kept=0, score NULL) — without this, empty-text
    * micro-batch docs silently vanished from the scored sink.
    */
  def scoreWith(docs: DataFrame, m: QualityModel,
                threshold: Double = 0.5): DataFrame = {
    val p = sigmoid(m.weights)
    val scored = standardize(rawFeatures(docs), m)
      .select(col("doc_id"), round(p, 6).as("model_score"),
        (p >= lit(threshold)).cast("int").as("kept"))
    // two narrow filters + union, NOT a doc_id join-back: the input is
    // scanned twice but nothing shuffles, so the sink's per-batch score
    // stays a map-only plan
    val unscorable = docs
      .filter(col("text").isNull || length(col("text")) === 0)
      .select(col("doc_id"), lit(null).cast("double").as("model_score"),
        lit(0).as("kept"))
    scored.unionByName(unscorable)
  }

  /** Streaming model-based quality filter: the model is trained ONCE on
    * the static base corpus at sink construction (train offline / serve
    * online — the production distillation split), then every arriving
    * micro-batch is scored with the plan-resident weights and appended
    * with its verdict. No frozen table: 13 doubles ride in the
    * expression, so there is nothing to pin or release.
    */
  def qualityModelSink(docStream: DataFrame, baseDocs: DataFrame,
                       outPath: String, checkpoint: String,
                       threshold: Double = 0.5, triggerMs: Long = 10000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val model = fitModel(baseDocs)
    Freeze.sink(docStream, outPath, checkpoint, triggerMs) { batch =>
      scoreWith(batch, model, threshold)
    }
  }

  /** σ(w·x) over the standardized columns — term order pinned to the
    * oracle's `wb + ws*zsr + wp*zpr + wl*zlt + wa*zal`.
    */
  private def sigmoid(w: Array[Double]): Column = {
    val z = lit(w(0)) + lit(w(1)) * col("zsr") + lit(w(2)) * col("zpr") +
      lit(w(3)) * col("zlt") + lit(w(4)) * col("zal")
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** The training ledger: one row per epoch with the post-update
    * weights (6 dp) and the accuracy the PRE-update weights scored on
    * the gradient pass (epoch 1's n_correct is the all-positive
    * baseline: w=0 → σ=0.5 → everything predicted positive).
    */
  def trainQualityClassifier(spark: SparkSession, d: String): DataFrame =
    trainQualityClassifierDf(spark, Tables.fanOut(Tables.documents(spark, d)))

  def trainQualityClassifierDf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    fit(docs).epochs.toDF("epoch", "n_correct", "n",
        "w_bias", "w_sr", "w_pr", "w_lt", "w_al")
      .select(col("epoch"), col("n_correct"), col("n"),
        round(col("w_bias"), 6).as("w_bias"), round(col("w_sr"), 6).as("w_sr"),
        round(col("w_pr"), 6).as("w_pr"), round(col("w_lt"), 6).as("w_lt"),
        round(col("w_al"), 6).as("w_al"))
      .orderBy(col("epoch"))
  }

  /** Train, then score the corpus with the final weights: per-doc model
    * score, the model's keep verdict, the rule verdict it distilled,
    * and their agreement — the production model-filter shape plus its
    * audit column in one pass over the checkpointed features.
    */
  def distilledScores(spark: SparkSession, d: String): DataFrame =
    distilledScoresDf(Tables.fanOut(Tables.documents(spark, d)))

  def distilledScoresDf(docs: DataFrame): DataFrame = {
    val f = fit(docs)
    val p = sigmoid(f.weights)
    f.std.select(col("doc_id"),
        round(p, 6).as("model_score"),
        (p >= lit(0.5)).cast("int").as("model_kept"),
        (col("y") === lit(1.0)).cast("int").as("rule_kept"),
        ((p >= lit(0.5)) === (col("y") === lit(1.0))).cast("int").as("agree"))
      .orderBy(col("doc_id"))
  }
}
