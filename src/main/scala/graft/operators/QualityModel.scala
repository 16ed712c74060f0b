package graft.operators

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LEARNED document-quality filtering — the classifier layer modern
  * pretraining pipelines stack on top of rule filters (the public
  * fastText-style discipline: CCNet/LLaMA train a linear model over
  * hashed bag-of-words features to generalize a seed labeling; here the
  * seed labeling is [[TextAnalysis.gopherQuality]]'s rule verdict, so
  * the model learns to score quality from token evidence alone and can
  * then be applied to corpora where the rules' inputs are unavailable
  * or too expensive).
  *
  * Dataflow: hashed term frequencies (HashingTF — fixed feature space,
  * no vocabulary build, no fitting pass) → logistic regression on the
  * deterministic train split (doc_id % holdoutMod != 0) → row-local
  * scoring of the holdout with the coefficients in the closure.
  *
  * Scale shape: featurization is row-local (one hash per token, bounded
  * vector width — scales embarrassingly); LR training is MLlib's
  * distributed L-BFGS, a BOUNDED number of treeAggregate passes over
  * the train split (≤ maxIter + line-search overhead — the documented
  * bounded-driver-actions contract, the bpeTrainRules discipline);
  * scoring is one row-local pass over `numFeatures` coefficients and an
  * intercept. Nothing corpus-sized reaches the driver: each aggregate
  * returns one gradient vector of `numFeatures` doubles.
  */
object QualityModel {

  /** Train on the rule-labeled train split, score the holdout, and emit
    * the driver-facing structural row (the ann_ivf_trained pattern —
    * Lloyd's/L-BFGS iterations aren't SQL-expressible, so exact split
    * counts pair with accuracy-contract booleans the oracle emits as
    * literal TRUE; an untrained or degenerate model flips a boolean and
    * fails the hash gate):
    *   - n_train / n_holdout: exact split sizes (oracle-computable);
    *   - holdout_acc_ge_70pct: learned accuracy on UNSEEN docs clears a
    *     conservative floor;
    *   - beats_majority: accuracy strictly above the holdout's majority
    *     class share — the model genuinely separates, not just echoes
    *     the prior;
    *   - probs_in_unit: every emitted probability is a valid [0,1].
    * The tighter per-class contract lives in PipelineSpec.
    */
  def learnedQuality(documents: DataFrame, numFeatures: Int = 1 << 12,
      holdoutMod: Int = 5,
      stopList: Seq[String] = TextAnalysis.gopherStopwords): DataFrame = {
    val scored = scoreHoldout(documents, numFeatures, holdoutMod, stopList)
    val n = scored.agg(
      sum(when(col("is_holdout"), 0L).otherwise(1L)).as("n_train"),
      sum(when(col("is_holdout"), 1L).otherwise(0L)).as("n_holdout"),
      sum(when(col("is_holdout") && col("prediction") === col("label"), 1L)
        .otherwise(0L)).as("n_correct"),
      sum(when(col("is_holdout") && col("label") === 1.0, 1L).otherwise(0L))
        .as("n_keep"),
      min(when(col("is_holdout"), col("p_keep"))).as("p_min"),
      max(when(col("is_holdout"), col("p_keep"))).as("p_max"))
    n.select(col("n_train"), col("n_holdout"),
      (col("n_correct") >= col("n_holdout") * 0.7).as("holdout_acc_ge_70pct"),
      (col("n_correct") > greatest(col("n_keep"),
        col("n_holdout") - col("n_keep"))).as("beats_majority"),
      (col("p_min") >= 0.0 && col("p_max") <= 1.0).as("probs_in_unit"))
  }

  /** The train→score dataflow with per-document outputs, shared by the
    * structural row and the spec: (doc_id, label, is_holdout, p_keep,
    * prediction). Every document is scored — train rows so the spec can
    * read train fit, holdout rows for the generalization contract.
    */
  def scoreHoldout(documents: DataFrame, numFeatures: Int = 1 << 12,
      holdoutMod: Int = 5,
      stopList: Seq[String] = TextAnalysis.gopherStopwords): DataFrame = {
    val labeled = TextAnalysis.gopherQuality(documents, stopList = stopList)
      .select(col("doc_id"), col("keep").cast("double").as("label"))
      .join(documents.select(col("doc_id"),
        // null text must score (as an empty token bag), not NPE inside
        // HashingTF — null docs are in-contract for this corpus
        split(coalesce(col("text"), lit("")), " ").as("tokens")), "doc_id")
      .withColumn("is_holdout", col("doc_id") % holdoutMod === 0)
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("features")
      .setNumFeatures(numFeatures)
    val feat = tf.transform(labeled)
    val model = new LogisticRegression()
      .setMaxIter(50).setRegParam(1e-3).setStandardization(false)
      .fit(feat.filter(!col("is_holdout")))
    // score with a closure over the coefficients and the intercept only:
    // the fitted model carries its training summary, whose session does
    // not serialize once the session has run an observed action. The
    // arithmetic is the binary model's own (margin = w·x + b, p(1) =
    // 1 - 1 / (1 + e^margin), prediction = p(1) > 0.5).
    val w = model.coefficients
    val b = model.intercept
    val pKeep = udf((x: org.apache.spark.ml.linalg.Vector) =>
      1.0 - 1.0 / (1.0 + math.exp(x.dot(w) + b)))
    feat.withColumn("p_keep", pKeep(col("features")))
      .select(col("doc_id"), col("label"), col("is_holdout"), col("p_keep"),
        when(col("p_keep") > 0.5, 1.0).otherwise(0.0).as("prediction"))
  }
}
