package org.apache.spark.ml.graft

import org.apache.spark.ml.classification.{
  ProbabilisticClassificationModel, ProbabilisticClassifier
}
import org.apache.spark.ml.graft.loss._
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.impl.Utils.EPSILON
import org.apache.spark.ml.linalg.{DenseVector, Vector}
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.HasParallelism
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

private[graft] trait GBMClassifierParams
    extends GBMParams
    with org.apache.spark.ml.classification.ProbabilisticClassifierParams
    with HasParallelism {

  /** logloss (K-dim softmax) | exponential | bernoulli (scalar margin). */
  final val loss: Param[String] = new Param[String](
    this, "loss", "logloss|exponential|bernoulli",
    ParamValidators.inArray(Array("logloss", "exponential", "bernoulli")))
  def getLoss: String = $(loss)

  /** prior (log class priors / log-odds) | uniform (zeros). */
  final val initStrategy: Param[String] = new Param[String](
    this, "initStrategy", "prior|uniform",
    ParamValidators.inArray(Array("prior", "uniform")))
  def getInitStrategy: String = $(initStrategy)

  setDefault(loss -> "logloss", initStrategy -> "prior")

  private[graft] def lossObj(numClasses: Int): GBMClassificationLoss = $(loss) match {
    case "logloss" => LogLoss(numClasses)
    case "exponential" =>
      require(numClasses == 2, "exponential loss is binary-only"); ExponentialLoss
    case "bernoulli" =>
      require(numClasses == 2, "bernoulli loss is binary-only"); BernoulliLoss
  }
}

/** K-dimensional gradient boosting on a REGRESSOR base learner (reference:
  * classification/GBMClassifier.scala:219-496): per iteration one base
  * regressor per model dimension is fit to that component of the negative
  * gradient (concurrently, on the `parallelism` driver pool), and the
  * joint step-size vector is searched over a cached narrow projection —
  * the GBM loop ([[GBMParams.boost]]) that [[GBMRegressor]] runs at dim 1.
  * This estimator brings its constant prior init vector and its loss.
  */
class GBMClassifier(override val uid: String)
    extends ProbabilisticClassifier[Vector, GBMClassifier, GBMClassificationModel]
    with GBMClassifierParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("GBMClassifier"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setLoss(value: String): this.type = set(loss, value)
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
  def setParallelism(value: Int): this.type = set(parallelism, value)

  override protected def train(dataset: Dataset[_]): GBMClassificationModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): GBMClassificationModel = {
    val numClasses = getNumClasses(dataset)
    val gbmLoss = lossObj(numClasses)
    val dim = gbmLoss.dim
    val instances = gbmInstances(dataset)
    val nf = GraftUtils.numFeatures(instances, "features")
    instr.logNumFeatures(nf)
    instr.logNumClasses(numClasses)

    // ---- constant init vector f_0 (reference:
    // classification/GBMClassifier.scala:275-288)
    val init: Array[Double] = $(initStrategy) match {
      case "uniform" => Array.fill(dim)(0.0)
      case "prior" =>
        val counts = instances.filter(!col("__val"))
          .groupBy("label").agg(sum("weight").as("w")).collect()
          .map(r => (r.getDouble(0).toInt, r.getDouble(1))).toMap
        val total = counts.values.sum
        val priors = Array.tabulate(numClasses)(k =>
          math.max(counts.getOrElse(k, 0.0) / total, EPSILON))
        if (dim == 1) Array(0.5 * math.log(priors(1) / priors(0))) // log-odds
        else priors.map(math.log)
    }
    // the losses floor their own hessians, so newton adds no floor here
    val rounds = boost(
      instances, nf, gbmLoss, _ => gbmLoss, _ => init.clone(), hessFloor = 0.0,
      getExecutionContext, w => instr.logNamedValue("stepSize", w), instr)
    new GBMClassificationModel(
      uid, numClasses, init,
      rounds.map(_._2).toArray, rounds.map(_._3).toArray, rounds.map(_._1).toArray)
      .setParent(this)
  }

  override def copy(extra: ParamMap): GBMClassifier = defaultCopy(extra)

  override def write: MLWriter = GraftPersistence.writer(this)
}

object GBMClassifier extends GraftReadable[GBMClassifier](s => new GBMClassifier(s.uid))

class GBMClassificationModel(
    override val uid: String,
    override val numClasses: Int,
    val init: Array[Double],
    val modelWeights: Array[Array[Double]],
    val subspaces: Array[Array[Int]],
    val models: Array[Array[EnsemblePredictionModelType]])
    extends ProbabilisticClassificationModel[Vector, GBMClassificationModel]
    with GBMClassifierParams
    with MLWritable {

  private lazy val gbmLoss = lossObj(numClasses)
  private val dim = init.length

  /** raw = f_0 + sum_i w_i (x) d_i(x); binary margin mapped to (-f, f)
    * (reference: classification/GBMClassifier.scala:567-589).
    */
  override def predictRaw(features: Vector): Vector = {
    val f = init.clone()
    var i = 0
    while (i < models.length) {
      val sub = subspaces(i)
      val x = if (sub.length == features.size) features else GraftUtils.sliceVector(features, sub)
      var k = 0
      while (k < dim) {
        f(k) += modelWeights(i)(k) * models(i)(k).predict(x)
        k += 1
      }
      i += 1
    }
    gbmLoss.toRaw(f, numClasses)
  }

  override protected def raw2probabilityInPlace(rawPrediction: Vector): Vector =
    rawPrediction match {
      case d: DenseVector => gbmLoss.raw2probabilityInPlace(d)
      case v => throw new IllegalArgumentException(s"unexpected raw vector $v")
    }

  override def copy(extra: ParamMap): GBMClassificationModel =
    copyValues(
      new GBMClassificationModel(uid, numClasses, init, modelWeights, subspaces, models),
      extra).setParent(parent)

  override def write: MLWriter = GraftPersistence.writer(
    this,
    ("numIters" -> models.length) ~ ("dim" -> dim) ~ ("numClasses" -> numClasses) ~
      ("init" -> init.toSeq) ~ ("modelWeights" -> modelWeights.map(_.toSeq).toSeq) ~
      ("subspaces" -> subspaces.map(_.toSeq).toSeq),
    for (i <- models.indices; k <- 0 until dim) yield s"model-$i-$k" -> models(i)(k))
}

object GBMClassificationModel extends GraftReadable[GBMClassificationModel](s =>
  new GBMClassificationModel(
    s.uid, s.int("numClasses"), s.doubles("init"),
    s.get[Seq[Seq[Double]]]("modelWeights").map(_.toArray).toArray, s.subspaces,
    Array.tabulate(s.int("numIters"), s.int("dim"))((i, k) => s.model(s"model-$i-$k"))))
