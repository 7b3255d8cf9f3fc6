package org.apache.spark.ml.graft

import org.apache.spark.rdd.RDD

/** The learner side of an AdaBoost round, behind which the
  * BoostingRegressor (R2) and BoostingClassifier (SAMME, SAMME.R) loops
  * are each written once, over either [[BoostBackend]]. Each row carries
  * its boost weight in the backend's [[State]]. `fit` trains the base
  * model on the boost weights normalized to sum 1 and caches, per training
  * row, the estimator's error statistic `rowError(prediction, label)`; the
  * loop then reads the aggregates its recursion needs and sets the next
  * weights, lazily: the next round's weight sum materializes them. The
  * reductions are partition-ordered sums (same seed, same model). `close`
  * frees everything and always runs.
  */
private[graft] final class AdaBoostLearner[R](
    backend: BoostBackend[R],
    checkpointInterval: Int,
    rowError: (Double, Double) => Double) {

  private val state = backend.start(_.weight, checkpointInterval)
  private var model: EnsemblePredictionModelType = _
  // (row, error, normalized weight, weight) per training row
  private var data: RDD[(R, Double, Double, Double)] = _

  def fit(round: Int): EnsemblePredictionModelType = {
    val sw = NativeTreeBoost.orderedSum(state.rdd.map(_._3))
    model = backend.fitWeighted(state.rdd.map { case (r, _, x) => (r, x / sw) }, round)
    val (predict, label, err) = (backend.predictor(model, null), backend.label, rowError)
    data = backend.cacheRound(state.rdd.map { case (r, _, x) =>
      (r, err(predict(r), label(r)), x / sw, x)
    })
    model
  }

  def maxError(): Double =
    NativeTreeBoost.orderedAggregate(data, Double.NegativeInfinity)(
      (m, t) => math.max(m, t._2), math.max)

  /** Sum over rows of normalized weight x `loss(error)`. */
  def weightedError(loss: Double => Double): Double =
    NativeTreeBoost.orderedSum(data.map { case (_, e, bwn, _) => bwn * loss(e) })

  /** Next weights: weight x `factor(error)`. */
  def reweight(factor: Double => Double): Unit =
    state.set(data.map { case (r, e, _, x) => (r, false, x * factor(e)) })

  /** Next weights: weight x `factors(class probabilities)(label)`. */
  def reweightByProbability(factors: Array[Double] => Array[Double]): Unit = {
    val (byProbability, label) = (backend.byProbability(model, factors), backend.label)
    state.set(data.mapPartitions { iter =>
      val f = byProbability()
      iter.map { case (r, _, _, x) => (r, false, x * f(r)(label(r).toInt)) }
    })
  }

  def close(): Unit = backend.close()
}
