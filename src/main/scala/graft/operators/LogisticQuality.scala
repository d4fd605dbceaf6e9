package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Discriminative quality classification over hashed n-gram features — the
  * fastText-style linear filter (Joulin et al., EACL'17 "Bag of Tricks for
  * Efficient Text Classification") that CCNet-generation pipelines run
  * after the LM-perplexity stage: train a logistic model on a labeled
  * slice (wiki-vs-crawl, clean-vs-spam), score the whole corpus, keep what
  * clears the boundary. Complements the GENERATIVE scorers already here —
  * [[UnigramLm]]/[[BigramLm]] model the text's likelihood under one
  * distribution, [[Dsir]] ratios two fixed distributions; this one LEARNS
  * the boundary from labels.
  *
  * Features are the same hashed n-gram buckets as [[Dsir]]
  * ([[graft.expressions.HashedNgramBuckets]] — md5 32-bit draw, replayable
  * in any engine with an md5 builtin), and scoring rides the same
  * zero-shuffle [[graft.expressions.ArrayWeightSum]] kernel: the whole
  * weight table is `dim` doubles of driver/broadcast state, one corpus
  * scan, no joins. The document representation is the MEAN of its feature
  * weights (fastText's averaged bag), so scores are length-invariant.
  *
  * Scale design, training: batch gradient descent where each iteration is
  * ONE map-side-combined aggregation over the persisted feature frame —
  * residuals are computed inline by the scoring kernel (no model
  * broadcast round-trip), the per-bucket gradient groupBy carries at most
  * `dim` keys, and the bias gradient is the algebraic sum of the bucket
  * gradients (Σ_j Σ_docs resid·count_j/n = Σ_docs resid), so no second
  * pass. Driver state is 2·dim doubles per iteration. Gradient float
  * sums arrive in partition order, so trained weights are deterministic
  * only to ~ulp — training is therefore spec-verified (accuracy,
  * loss descent), while SCORING with a fixed model is oracle-exact
  * (q158 pins it bit-for-bit).
  */
object LogisticQuality {

  /** A trained (or fixed) model: `logit(doc) = bias + mean_f w(bucket(f))`. */
  final case class Model(maxN: Int, weights: Array[Double], bias: Double) {
    def dim: Int = weights.length
  }

  private def weightSum(buckets: Column, w: Array[Double]): Column =
    ColumnBridge.column(graft.expressions.ArrayWeightSum(
      ColumnBridge.expression(buckets), w.toIndexedSeq))

  /** Per-document linear scores: (idCol, n_features, logit, pred).
    * Documents with zero features (empty/whitespace text) are unscorable
    * and dropped — same contract as [[UnigramLm.scoreBroadcast]]. The
    * weight fold is left-to-right in feature-position order (unigrams in
    * document order, then bigrams, …), so the score is bit-reproducible
    * on any partitioning.
    */
  def logits(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    docs.select(col(idCol),
        Dsir.featureBuckets(col(textCol), model.maxN, model.dim).as("__f"))
      .select(col(idCol), size(col("__f")).cast("long").as("n_features"),
        weightSum(col("__f"), model.weights).as("__ws"))
      .filter(col("n_features") > 0)
      .select(col(idCol), col("n_features"),
        (lit(model.bias) + col("__ws") / col("n_features")).as("logit"))
      .withColumn("pred", col("logit") > 0)

  /** [[logits]] plus the calibrated probability `sigmoid(logit)` — for
    * thresholding at other operating points. Probability goes through
    * Spark's exp (StrictMath), so gates pin [[logits]] and specs bound
    * this.
    */
  def scores(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    logits(docs, idCol, textCol, model)
      .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("logit"))))

  /** Train by full-batch gradient descent on log-loss. `labelCol` must be
    * 0/1 (numeric or boolean). Each iteration: score under current
    * weights (kernel, zero shuffle), explode buckets, ONE groupBy of at
    * most `dim` keys; update `w -= lr·(grad/N + l2·w)`. The feature
    * frame is computed once and persisted — iterations never re-tokenize.
    * Rows with zero features are excluded from training (they carry no
    * signal and would only bias the intercept).
    */
  def train(docs: DataFrame, textCol: String, labelCol: Column,
      dim: Int, maxN: Int = 1, iters: Int = 20, lr: Double = 1.0,
      l2: Double = 0.0): Model = {
    require(dim >= 1 && iters >= 0)
    val feat = graft.core.Materialize.pin(docs
      .select(labelCol.cast("double").as("__y"),
        Dsir.featureBuckets(col(textCol), maxN, dim).as("__f"))
      .filter(size(col("__f")) > 0)
      .select(col("__y"), col("__f"), size(col("__f")).cast("double").as("__n")))
    try {
      val nDocs = feat.count().toDouble
      require(nDocs > 0, "no non-empty training documents")
      var w = new Array[Double](dim)
      var bias = 0.0
      var it = 0
      while (it < iters) {
        // resid = sigmoid(bias + ws/n) - y; per-bucket grad = Σ resid/n
        // over the doc's occurrences of the bucket (explode keeps
        // multiplicity); bias grad = Σ_j grad_j (algebraic identity)
        val rows = feat
          .select((lit(1.0) / (lit(1.0) +
              exp(-(lit(bias) + weightSum(col("__f"), w) / col("__n"))))
              - col("__y")).as("__r"),
            col("__f"), col("__n"))
          .select(explode(col("__f")).as("__b"), (col("__r") / col("__n")).as("__g"))
          .groupBy("__b").agg(sum(col("__g")).as("__g"))
          .collect()
        val grad = new Array[Double](dim)
        var gb = 0.0
        rows.foreach { r =>
          val g = r.getDouble(1)
          grad(r.getLong(0).toInt) = g
          gb += g
        }
        val w2 = new Array[Double](dim)
        var j = 0
        while (j < dim) {
          w2(j) = w(j) - lr * (grad(j) / nDocs + l2 * w(j)); j += 1
        }
        w = w2
        bias -= lr * gb / nDocs
        it += 1
      }
      Model(maxN, w, bias)
    } finally feat.unpersist()
  }

  /** Mean log-loss of a model on labeled data — the training-progress
    * metric specs assert descends. */
  def logLoss(docs: DataFrame, textCol: String, labelCol: Column,
      model: Model): Double = {
    val eps = 1e-12
    val p = scores(docs.withColumn("__y", labelCol.cast("double")),
      "__y", textCol, model)
    // scores() keyed by __y is fine here: logLoss only needs (y, prob)
    p.select(avg(-(col("__y") * log(greatest(col("prob"), lit(eps))) +
        (lit(1.0) - col("__y")) *
          log(greatest(lit(1.0) - col("prob"), lit(eps))))).as("ll"))
      .collect().head.getDouble(0)
  }
}
