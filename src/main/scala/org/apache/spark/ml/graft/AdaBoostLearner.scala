package org.apache.spark.ml.graft

import org.apache.spark.ml.classification.ProbabilisticClassificationModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.tree.impl.TreePoint
import org.apache.spark.mllib.tree.configuration.{Strategy => OldStrategy}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The learner side of an AdaBoost round, behind which the
  * BoostingRegressor (R2) and BoostingClassifier (SAMME, SAMME.R) loops
  * are each written once. `fit` trains the base model on the boost
  * weights normalized to sum 1 and caches, per training row, the
  * estimator's error statistic `rowError(prediction, label)`; the loop
  * then reads the aggregates its recursion needs and sets the next
  * weights. A round's cache is dropped once the next weights no longer
  * need it; `close` frees everything and always runs.
  */
private[graft] trait AdaBoostLearner {
  def fit(round: Int): EnsemblePredictionModelType
  def maxError(): Double
  /** Sum over rows of normalized weight x `loss(error)`. */
  def weightedError(loss: Double => Double): Double
  /** Next weights: weight x `factor(error)`. */
  def reweight(factor: Double => Double): Unit
  /** Next weights: weight x `factors(class probabilities)(label)`. */
  def reweightByProbability(factors: Array[Double] => Array[Double]): Unit
  def close(): Unit
}

/** Any spark.ml predictor as the AdaBoost learner: the boost weight is a
  * DataFrame column, the reductions are partial-aggregated DataFrame aggs,
  * and the per-iteration dataset goes through [[IterLoopCache]].
  */
private[graft] final class PredictorAdaBoost(
    instances: DataFrame,
    learner: EnsemblePredictorType,
    checkpointInterval: Int,
    rowError: (Double, Double) => Double,
    withProbability: Boolean) extends AdaBoostLearner {

  private val loop = new IterLoopCache(checkpointInterval)
  private var df = loop.next(instances.withColumn("__bw", col("weight")))
  private var predicted: DataFrame = _

  def fit(round: Int): EnsemblePredictionModelType = {
    val sumW = df.agg(sum("__bw")).head().getDouble(0)
    val weighted = df.withColumn("__bwn", col("__bw") / sumW)
    val model = Learners.fit(
      learner, weighted, "label", "features", Some("__bwn"), weightRequired = true)
    val out =
      if (!withProbability) Learners.transform(model, weighted, "__pred")
      else {
        val prob = model.asInstanceOf[ProbabilisticClassificationModel[Vector, _]]
        prob.transform(weighted, ParamMap(
          prob.predictionCol.w("__pred"),
          prob.rawPredictionCol.w("__raw"),
          prob.probabilityCol.w("__prob")))
      }
    predicted = out.withColumn("__e", udf(rowError).apply(col("__pred"), col("label")))
    predicted.persist(StorageLevel.MEMORY_AND_DISK)
    model
  }

  def maxError(): Double = predicted.agg(max("__e")).head().getDouble(0)

  def weightedError(loss: Double => Double): Double =
    predicted.agg(sum(col("__bwn") * udf(loss).apply(col("__e")))).head().getDouble(0)

  def reweight(factor: Double => Double): Unit =
    advance(col("__bw") * udf(factor).apply(col("__e")))

  def reweightByProbability(factors: Array[Double] => Array[Double]): Unit =
    advance(col("__bw") *
      udf((y: Double, p: Vector) => factors(p.toArray)(y.toInt)).apply(col("label"), col("__prob")))

  private def advance(bw: Column): Unit = {
    df = loop.next(predicted.withColumn("__bw", bw).select("label", "weight", "features", "__bw"))
    predicted.unpersist()
  }

  def close(): Unit = {
    if (predicted != null) predicted.unpersist()
    loop.close()
  }
}

/** A Spark DecisionTree as the AdaBoost learner over the bin-once
  * [[NativeTreeBoost]] table: the boost weights are a checkpointed RDD
  * aligned with the binned points, predictions are binned leaf lookups,
  * and the reductions are partition-ordered sums (same seed, same model).
  * The next weights are set lazily: the next round's weight sum
  * materializes them, so the round's rows, from which SAMME and R2 derive
  * them, stay cached until then.
  */
private[graft] final class BinnedAdaBoost(
    instances: DataFrame,
    strategy: OldStrategy,
    seed: Long,
    checkpointInterval: Int,
    rowError: (Double, Double) => Double) extends AdaBoostLearner {

  private val boost = new NativeTreeBoost(
    instances, strategy, seed, checkpointInterval, sumOneWeights = true, hasVal = false)
  private val bw = new boost.State(boost.treePoints.map(_.weight))
  private var model: org.apache.spark.ml.tree.DecisionTreeModel = _
  // (error, normalized weight, weight) per training row, and its cache handle
  private var data: RDD[(Double, Double, Double)] = _
  private var dataBlocks: RDD[_] = _

  def fit(round: Int): EnsemblePredictionModelType = {
    val w = bw.rdd
    val sw = NativeTreeBoost.orderedSum(w)
    if (dataBlocks != null) dataBlocks.unpersist(blocking = false)
    val relabeled = boost.treePoints.zip(w).map { case (tp, x) =>
      new TreePoint(tp.label, tp.binnedFeatures, x / sw)
    }
    model = boost.fitTree(relabeled, 1.0, replacement = false, boost.dtSeed + round)
    val (m, splits, err) = (model, boost.bcSplits, rowError)
    val (rows, handle) = NativeTreeBoost.cacheBlocks(boost.treePoints.zip(w).map { case (tp, x) =>
      (err(m.rootNode.predictBinned(tp.binnedFeatures, splits.value).prediction, tp.label),
        x / sw, x)
    })
    data = rows
    dataBlocks = handle
    model.asInstanceOf[EnsemblePredictionModelType]
  }

  def maxError(): Double = data.map(_._1).max()

  def weightedError(loss: Double => Double): Double =
    NativeTreeBoost.orderedSum(data.map { case (e, bwn, _) => bwn * loss(e) })

  def reweight(factor: Double => Double): Unit =
    bw.set(data.map { case (e, _, x) => x * factor(e) })

  /** The factors depend only on the leaf, so they are computed once per
    * leaf in a per-partition identity cache instead of once per row —
    * trees have tens of leaves, rows are millions. Identity keying is safe
    * here: within one task the deserialized tree is a single object graph,
    * so equal leaves ARE the same reference.
    */
  def reweightByProbability(factors: Array[Double] => Array[Double]): Unit = {
    val (m, splits) = (model, boost.bcSplits)
    bw.set(boost.treePoints.zip(bw.rdd).mapPartitions { iter =>
      val cache = new java.util.IdentityHashMap[AnyRef, Array[Double]]()
      iter.map { case (tp, x) =>
        val leaf = m.rootNode.predictBinned(tp.binnedFeatures, splits.value)
        var f = cache.get(leaf)
        if (f == null) {
          val stats = leaf.impurityStats.stats
          val tot = stats.sum
          f = factors(stats.map(_ / tot))
          cache.put(leaf, f)
        }
        x * f(tp.label.toInt)
      }
    })
  }

  def close(): Unit = {
    if (dataBlocks != null) dataBlocks.unpersist(blocking = false)
    boost.close()
  }
}
