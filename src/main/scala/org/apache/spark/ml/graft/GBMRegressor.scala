package org.apache.spark.ml.graft

import org.apache.spark.ml.graft.loss._
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param._
import org.apache.spark.ml.regression.{RegressionModel, Regressor}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.util.ThreadUtils
import org.json4s.JsonDSL._

private[graft] trait GBMRegressorParams extends GBMParams {

  /** squared | absolute | huber | quantile | logcosh | scaledlogcosh. */
  final val loss: Param[String] = new Param[String](
    this, "loss", "squared|absolute|huber|quantile|logcosh|scaledlogcosh",
    ParamValidators.inArray(
      Array("squared", "absolute", "huber", "quantile", "logcosh", "scaledlogcosh")))
  def getLoss: String = $(loss)

  /** huber quantile cut / quantile-loss level. */
  final val alpha: DoubleParam = new DoubleParam(
    this, "alpha", "alpha in (0,1)", ParamValidators.inRange(0, 1, false, false))
  def getAlpha: Double = $(alpha)

  /** constant (loss-optimal constant) | zero | base. */
  final val initStrategy: Param[String] = new Param[String](
    this, "initStrategy", "constant|zero|base",
    ParamValidators.inArray(Array("constant", "zero", "base")))
  def getInitStrategy: String = $(initStrategy)

  setDefault(loss -> "squared", alpha -> 0.9, initStrategy -> "constant")

  private[graft] def lossObj(delta: Double): GBMRegressionLoss = $(loss) match {
    case "squared" => SquaredLoss
    case "absolute" => AbsoluteLoss
    case "huber" => HuberLoss(if (delta > 0) delta else 1.0)
    case "quantile" => QuantileLoss($(alpha))
    case "logcosh" => LogCoshLoss
    case "scaledlogcosh" => ScaledLogCoshLoss($(alpha))
  }
}

/** Friedman-style gradient boosting generic in the base regressor
  * (reference: regression/GBMRegressor.scala:237-476): the dim-1 case of
  * the GBM loop ([[GBMParams.boost]]). This estimator brings its init
  * model f_0 (`constant` / `zero` / `base`), its loss with the per-round
  * Huber delta, and the fit-time newton hessian floor of 1e-2; its single
  * per-round fit runs on the calling thread.
  */
class GBMRegressor(override val uid: String)
    extends Regressor[Vector, GBMRegressor, GBMRegressionModel]
    with GBMRegressorParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("GBMRegressor"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setLoss(value: String): this.type = set(loss, value)
  def setAlpha(value: Double): this.type = set(alpha, value)
  def setInitStrategy(value: String): this.type = set(initStrategy, value)
  def setLearningRate(value: Double): this.type = set(learningRate, value)
  def setOptimizedWeights(value: Boolean): this.type = set(optimizedWeights, value)
  def setUpdates(value: String): this.type = set(updates, value)
  def setReplacement(value: Boolean): this.type = set(replacement, value)
  def setSubsampleRatio(value: Double): this.type = set(subsampleRatio, value)
  def setSubspaceRatio(value: Double): this.type = set(subspaceRatio, value)
  def setSeed(value: Long): this.type = set(seed, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setNumRounds(value: Int): this.type = set(numRounds, value)
  def setValidationTol(value: Double): this.type = set(validationTol, value)
  def setValidationIndicatorCol(value: String): this.type = set(validationIndicatorCol, value)
  def setCheckpointInterval(value: Int): this.type = set(checkpointInterval, value)
  def setTol(value: Double): this.type = set(tol, value)

  override protected def train(dataset: Dataset[_]): GBMRegressionModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): GBMRegressionModel = {
    val instances = gbmInstances(dataset)
    val nf = GraftUtils.numFeatures(instances, "features")
    instr.logNumFeatures(nf)

    // ---- init model f_0
    val trainOnly = instances.filter(!col("__val"))
    val init: EnsemblePredictionModelType = $(initStrategy) match {
      case "zero" =>
        new DummyRegressionModel(Identifiable.randomUID("gbmZeroInit"), 0.0)
      case "constant" =>
        val strat = $(loss) match {
          case "squared" | "logcosh" | "scaledlogcosh" =>
            new DummyRegressor().setStrategy("mean")
          case "absolute" | "huber" => new DummyRegressor().setStrategy("median")
          case "quantile" =>
            new DummyRegressor().setStrategy("quantile").setQuantile($(alpha))
        }
        Learners.fit(
          strat.setWeightCol("weight").asInstanceOf[EnsemblePredictorType],
          trainOnly, "label", "features", Some("weight"))
      case "base" =>
        Learners.fit($(baseLearner), trainOnly, "label", "features", Some("weight"))
    }
    // Huber delta refresh: alpha-quantile of the current absolute residuals
    val roundLoss: GBMLearner[_] => GBMLoss =
      if ($(loss) != "huber") _ => lossObj(0.0)
      else learner => lossObj(math.max(
        learner.absResiduals.stat.approxQuantile("__absr", Array($(alpha)), 0.001).head, 1e-6))
    val rounds = boost(
      instances, nf, lossObj(0.0), roundLoss, x => Array(init.predict(x)), hessFloor = 1e-2,
      ThreadUtils.sameThread, w => instr.logNamedValue("stepSize", w(0)), instr)
    new GBMRegressionModel(
      uid, init, rounds.map(_._2(0)).toArray, rounds.map(_._3).toArray,
      rounds.map(_._1(0)).toArray).setParent(this)
  }

  override def copy(extra: ParamMap): GBMRegressor = defaultCopy(extra)

  override def write: MLWriter = GraftPersistence.writer(this)
}

object GBMRegressor extends GraftReadable[GBMRegressor](s => new GBMRegressor(s.uid))

class GBMRegressionModel(
    override val uid: String,
    val init: EnsemblePredictionModelType,
    val modelWeights: Array[Double],
    val subspaces: Array[Array[Int]],
    val models: Array[EnsemblePredictionModelType])
    extends RegressionModel[Vector, GBMRegressionModel]
    with GBMRegressorParams
    with MLWritable {

  /** f(x) = f_0(x) + sum_i w_i m_i(x|subspace_i) (reference:
    * regression/GBMRegressor.scala:531-539).
    */
  override def predict(features: Vector): Double = {
    var f = init.predict(features)
    var i = 0
    while (i < models.length) {
      val sub = subspaces(i)
      val x = if (sub.length == features.size) features else GraftUtils.sliceVector(features, sub)
      f += modelWeights(i) * models(i).predict(x)
      i += 1
    }
    f
  }

  override def copy(extra: ParamMap): GBMRegressionModel =
    copyValues(new GBMRegressionModel(uid, init, modelWeights, subspaces, models), extra)
      .setParent(parent)

  override def write: MLWriter = GraftPersistence.writer(
    this,
    ("numModels" -> models.length) ~ ("modelWeights" -> modelWeights.toSeq) ~
      ("subspaces" -> subspaces.map(_.toSeq).toSeq),
    GraftPersistence.numbered(models) :+ ("init" -> init))
}

object GBMRegressionModel extends GraftReadable[GBMRegressionModel](s =>
  new GBMRegressionModel(
    s.uid, s.model("init"), s.doubles("modelWeights"), s.subspaces, s.models(s.int("numModels"))))
