package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned quality classifier — the model-based filter of modern
  * curation pipelines (fastText-style classifiers in CCNet/DCLM;
  * FineWeb-Edu distills LLM judgments the same way): train a logistic
  * model over the deterministic [[TextFunctions.qualityScore]]
  * features from weak labels, then score every document with a smooth
  * probability a threshold gate can cut.
  *
  * Training is FULL-BATCH gradient descent, which on Spark is the
  * scale-correct choice: each iteration is ONE `treeAggregate` over
  * the persisted [[TrainSample]] with the weights in the task closure
  * (per-feature gradient sums as `floor(term · 1e9)` longs —
  * order-independent, so the learned weights are bit-identical on any
  * partitioning), and only d + 2 scalars ever reach the driver per
  * iteration. Mini-batch SGD would be neither deterministic nor
  * cheaper here: the corpus scan dominates, not the update count.
  * d = 5 features + bias; iterations and learning rate are fixed
  * knobs, so the whole model is a pure function of the corpus.
  */
object QualityModel {

  /** The fixed feature vector (all already-deterministic ratios from
    * [[TextFunctions.qualityScore]], bounded to O(1) ranges so one
    * learning rate fits): stopword_ratio, punct_ratio, digit_ratio,
    * capped words/100, avg_word_len/10.
    */
  private def features: Seq[Column] = Seq(
    col("stopword_ratio"),
    col("punct_ratio"),
    col("digit_ratio"),
    least(col("n_words").cast("double") / lit(100.0), lit(1.0)),
    col("avg_word_len") / lit(10.0),
  )

  private def margin(w: Array[Double]): Column =
    features.zip(w.init).map { case (f, wi) => f * lit(wi) }.reduce(_ + _) + lit(w.last)

  /** Train logistic weights (d features + bias, bias last) from a
    * 0/1 `label` column on a frame that already carries the
    * [[TextFunctions.qualityScore]] columns.
    */
  def trainLogistic(
      scored: DataFrame,
      label: Column,
      iterations: Int = 30,
      learningRate: Double = 2.0,
  ): Array[Double] =
    descend(scored.select(features :+ label.cast("double"): _*), iterations, learningRate)

  /** Gradient descent over a frame of d feature columns then the 0/1
    * label (all numeric); returns d weights then the bias. Per step:
    * `z = Σ x_i·w_i + b` in feature order, `err = 1 / (1 + exp(−z)) − y`
    * (StrictMath, as Spark's `exp`), gradient sums of
    * `floor(err·x_i·1e9)` and `floor(err·1e9)` with `Math.addExact` (the
    * ANSI `sum(bigint)` contract). A row with any null adds nothing to
    * the sums but counts in `n`, as SQL `count(1)` over null-propagating
    * terms does; with no complete row the weights stay 0.
    */
  private[graft] def descend(frame: DataFrame, iterations: Int, learningRate: Double): Array[Double] = {
    val d = frame.columns.length - 1
    require(d >= 1, "gradient descent needs at least one feature column")
    TrainSample.features(frame) { train =>
      var w = Array.fill(d + 1)(0.0)
      for (_ <- 1 to iterations) {
        val wi = w
        val g = train.treeAggregate(new Array[Long](d + 2))(
          (acc, x) => {
            if (x != null) {
              var z = x(0) * wi(0)
              var i = 1
              while (i < d) {
                z += x(i) * wi(i)
                i += 1
              }
              z += wi(d)
              val err = 1.0 / (1.0 + StrictMath.exp(-z)) - x(d)
              i = 0
              while (i < d) {
                acc(i) = Math.addExact(acc(i), TrainSample.scaled(err * x(i), 1e9))
                i += 1
              }
              acc(d) = Math.addExact(acc(d), TrainSample.scaled(err, 1e9))
            }
            acc(d + 1) += 1
            acc
          },
          TrainSample.mergeExact,
        )
        val n = math.max(g(d + 1), 1L).toDouble
        w = Array.tabulate(d + 1)(j => wi(j) - learningRate * (g(j) / 1e9 / n))
      }
      w
    }
  }

  /** Score with trained weights: adds `p_good` (round 6) and the
    * 0.5-threshold `pred` — a stateless per-row projection.
    */
  def scoreLogistic(scored: DataFrame, w: Array[Double]): DataFrame =
    scored
      .withColumn("p_good", round(lit(1.0) / (lit(1.0) + exp(-margin(w))), 6))
      .withColumn("pred", col("p_good") >= 0.5)

  /** End-to-end distillation: compute quality features, derive the
    * weak label from the rule-based composite (`quality_score` ≥
    * `labelCut` — the cheap teacher), train, score. Returns one row
    * per doc: (doc_id, label, p_good, pred).
    */
  def distillQualityGate(
      df: DataFrame,
      idCol: Column,
      text: Column,
      labelCut: Double = 0.5,
      iterations: Int = 30,
  ): DataFrame = {
    val scored = TextFunctions.qualityScore(DedupFunctions.spread(df), text)
    val labeled = scored.withColumn("__label", (col("quality_score") >= labelCut).cast("int"))
    val w = trainLogistic(labeled, col("__label"), iterations)
    scoreLogistic(labeled, w)
      .select(idCol.as("doc_id"), col("__label").as("label"), col("p_good"), col("pred"))
  }
}
