package org.apache.spark.ml.graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.ml.PredictorParams
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.param.shared.{HasParallelism, HasWeightCol}
import org.apache.spark.ml.regression.{RegressionModel, Regressor}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.storage.StorageLevel
import org.json4s.JsonDSL._

private[graft] trait BaggingParams
    extends PredictorParams
    with HasNumBaseLearners
    with HasSubBag
    with HasBaseLearner
    with HasWeightCol
    with HasParallelism

/** The bootstrap-rows x feature-subspace fit of both bagging estimators
  * (reference: regression/BaggingRegressor.scala:117-172 /
  * classification/BaggingClassifier.scala:149-207).
  */
private[graft] object SubBagFit {

  /** K (feature indices, model) pairs. A Spark DecisionTree base over the
    * full feature space takes the bin-once backend ([[NativeTreeBoost]]):
    * the input is binned once, the K bootstrap draws live in one
    * BaggedPoint table (one count per tree and row), and one induction
    * grows all K trees, each split-finding job serving every tree's open
    * nodes: Spark's RandomForest with featureSubsetStrategy "all". Feature
    * subspacing (subspaceRatio < 1) stays generic: our contract draws the
    * subspace per TREE, RandomForest's featureSubsetStrategy per NODE.
    *
    * The generic fit runs, per learner, `df.sample` (a Catalyst Sample
    * node, pushed to the cached scan) -> optional vector-slice projection
    * -> nested spark.ml fit, the K fits concurrently from the
    * `parallelism` driver pool. They sample the input K times, so it is
    * cached unless the caller cached it. `numClasses` is as in
    * [[NativeTreeBoost.apply]].
    */
  def fit(
      est: BaggingParams,
      dataset: Dataset[_],
      numClasses: Int): Array[(Array[Int], EnsemblePredictionModelType)] = {
    val instances = SubBagFit.instances(est, dataset)
    val (learner, k, seed) = (est.getBaseLearner, est.getNumBaseLearners, est.getSeed)
    val (replacement, ratio, subspaceRatio) =
      (est.getReplacement, est.getSubsampleRatio, est.getSubspaceRatio)
    val native =
      NativeTreeBoost(learner, instances.schema("features"), numClasses, numTrees = k)
        .filter(_ => subspaceRatio >= 1.0)
    native match {
      case Some(induction) =>
        val (rows, handle) = NativeTreeBoost.cacheBlocks(instances.rdd.map(r =>
          Instance(r.getDouble(0), r.getDouble(1), r.getAs[Vector](2))))
        try {
          val boost = induction(rows)
          try boost.fitTrees(boost.bin(rows), ratio, replacement, seed).map { tree =>
            val model = tree.asInstanceOf[EnsemblePredictionModelType]
            (Array.range(0, model.numFeatures), model)
          } finally boost.bcSplits.destroy()
        } finally handle.unpersist(blocking = false)
      case None =>
        val handlePersist = dataset.storageLevel == StorageLevel.NONE
        if (handlePersist) instances.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val nf = GraftUtils.numFeatures(instances, "features")
          val ec = est.getExecutionContext
          val futures = Array.tabulate(k) { i =>
            Future {
              val indices = GraftUtils.subspace(subspaceRatio, nf, seed + i)
              val prepared = sliceFeatures(
                sample(instances, replacement, ratio, seed + i), indices, nf, "features")
              (indices, Learners.fit(learner, prepared, "label", "features", Some("weight")))
            }(ec)
          }
          // a failed fit rethrows its own exception (ThreadUtils.awaitResult
          // would wrap it in a SparkException)
          futures.map(Await.result(_, Duration.Inf))
        } finally if (handlePersist) instances.unpersist()
    }
  }

  /** One learner's row sample; all rows at ratio 1 without replacement. */
  def sample(df: DataFrame, replacement: Boolean, ratio: Double, seed: Long): DataFrame =
    if (ratio == 1.0 && !replacement) df else df.sample(replacement, ratio, seed)

  /** `features` restricted to `indices` as column `out`, with vector
    * metadata of the sliced width; `df` itself when `indices` keeps all
    * `nf` features.
    */
  def sliceFeatures(df: DataFrame, indices: Array[Int], nf: Int, out: String): DataFrame =
    if (indices.length == nf) df
    else df
      .withColumn(
        out, udf((v: Vector) => GraftUtils.sliceVector(v, indices)).apply(col("features")))
      .withMetadata(out, GraftUtils.featuresMetadata(indices.length, out))

  /** Normalize an estimator's input dataset to hard-coded (label, weight,
    * features) columns, preserving features metadata; weight 1 when the
    * estimator's weightCol is unset or empty (reference:
    * ensemble/ensembleParams.scala:70-80). `extra` appends additional
    * derived columns (e.g. GBM's validation flag) in the same projection.
    */
  def instances(
      est: PredictorParams with HasWeightCol,
      dataset: Dataset[_],
      extra: Seq[(org.apache.spark.sql.Column, String)] = Nil): DataFrame = {
    val w = est.get(est.weightCol).filter(_.nonEmpty)
      .map(c => col(c).cast(DoubleType)).getOrElse(lit(1.0))
    val base = Seq(
      col(est.getLabelCol).cast(DoubleType).as("label"),
      w.as("weight"),
      col(est.getFeaturesCol).as("features"))
    dataset.select(base ++ extra.map { case (c, n) => c.as(n) }: _*)
  }
}

/** Bagging meta-regressor: K base learners on bootstrap samples and random
  * feature subspaces; prediction = unweighted mean (reference:
  * regression/BaggingRegressor.scala).
  */
class BaggingRegressor(override val uid: String)
    extends Regressor[Vector, BaggingRegressor, BaggingRegressionModel]
    with BaggingParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("BaggingRegressor"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setNumBaseLearners(value: Int): this.type = set(numBaseLearners, value)
  def setReplacement(value: Boolean): this.type = set(replacement, value)
  def setSubsampleRatio(value: Double): this.type = set(subsampleRatio, value)
  def setSubspaceRatio(value: Double): this.type = set(subspaceRatio, value)
  def setSeed(value: Long): this.type = set(seed, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setParallelism(value: Int): this.type = set(parallelism, value)

  override protected def train(dataset: Dataset[_]): BaggingRegressionModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      val bags = SubBagFit.fit(this, dataset, numClasses = 0)
      new BaggingRegressionModel(uid, bags.map(_._1), bags.map(_._2)).setParent(this)
  }

  override def copy(extra: ParamMap): BaggingRegressor = defaultCopy(extra)

  override def write: MLWriter = GraftPersistence.writer(this)
}

object BaggingRegressor extends GraftReadable[BaggingRegressor](s => new BaggingRegressor(s.uid))

class BaggingRegressionModel(
    override val uid: String,
    val subspaces: Array[Array[Int]],
    val models: Array[EnsemblePredictionModelType])
    extends RegressionModel[Vector, BaggingRegressionModel]
    with BaggingParams
    with MLWritable {

  private val numModels = models.length

  /** Mean of base predictions over per-model subspaces (reference:
    * regression/BaggingRegressor.scala:221-228). Runs inside Spark's own
    * prediction UDF — no extra jobs at transform time.
    */
  override def predict(features: Vector): Double = {
    var s = 0.0
    var i = 0
    while (i < numModels) {
      val sub = subspaces(i)
      val f = if (sub.length == features.size) features else GraftUtils.sliceVector(features, sub)
      s += models(i).predict(f)
      i += 1
    }
    s / numModels
  }

  override def copy(extra: ParamMap): BaggingRegressionModel =
    copyValues(new BaggingRegressionModel(uid, subspaces, models), extra).setParent(parent)

  override def write: MLWriter = GraftPersistence.writer(
    this,
    ("numModels" -> models.length) ~ ("subspaces" -> subspaces.map(_.toSeq).toSeq),
    GraftPersistence.numbered(models))
}

object BaggingRegressionModel extends GraftReadable[BaggingRegressionModel](s =>
  new BaggingRegressionModel(s.uid, s.subspaces, s.models(s.int("numModels"))))
