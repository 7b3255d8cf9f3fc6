package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.classification.{
  ProbabilisticClassificationModel, ProbabilisticClassifier
}
import org.apache.spark.ml.impl.Utils.EPSILON
import org.apache.spark.ml.linalg.{DenseVector, Vector, Vectors}
import org.apache.spark.ml.param.{Param, ParamMap, ParamValidators}
import org.apache.spark.ml.param.shared.{HasCheckpointInterval, HasWeightCol}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.Dataset
import org.json4s.JsonDSL._

private[graft] trait BoostingClassifierParams
    extends org.apache.spark.ml.classification.ProbabilisticClassifierParams
    with HasNumBaseLearners
    with HasBaseLearner
    with HasWeightCol
    with HasCheckpointInterval {

  /** discrete = SAMME (0/1 error reweighting), real = SAMME.R
    * (probability-coded reweighting) — Zhu et al. 2009 (reference:
    * classification/BoostingClassifier.scala:54-67).
    */
  final val algorithm: Param[String] = new Param[String](
    this, "algorithm", "discrete|real",
    ParamValidators.inArray(Array("discrete", "real")))
  def getAlgorithm: String = $(algorithm)

  setDefault(algorithm -> "discrete", checkpointInterval -> 10)
}

/** SAMME / SAMME.R AdaBoost meta-classifier (reference:
  * classification/BoostingClassifier.scala:135-282). Same loop shape as
  * BoostingRegressor over an [[AdaBoostLearner]]: the per-iteration error
  * is one sum.
  */
class BoostingClassifier(override val uid: String)
    extends ProbabilisticClassifier[Vector, BoostingClassifier, BoostingClassificationModel]
    with BoostingClassifierParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("BoostingClassifier"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setNumBaseLearners(value: Int): this.type = set(numBaseLearners, value)
  def setAlgorithm(value: String): this.type = set(algorithm, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setCheckpointInterval(value: Int): this.type = set(checkpointInterval, value)

  override protected def train(dataset: Dataset[_]): BoostingClassificationModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): BoostingClassificationModel = {
    val numClasses = getNumClasses(dataset)
    val real = $(algorithm) == "real"
    if (real) {
      require(
        $(baseLearner).isInstanceOf[ProbabilisticClassifier[_, _, _]],
        "SAMME.R requires a probabilistic base classifier")
    }
    val instances = SubBagFit.instances(this, dataset)
    val mispredicted = (p: Double, y: Double) => if (p != y) 1.0 else 0.0
    val learner = new AdaBoostLearner(
      BoostBackend($(baseLearner), instances, numClasses, sumOneWeights = true),
      $(checkpointInterval), mispredicted)
    val models = ArrayBuffer.empty[EnsemblePredictionModelType]
    val modelWeights = ArrayBuffer.empty[Double]
    def keep(model: EnsemblePredictionModelType, weight: Double): Unit = {
      instr.logNamedValue("modelWeight", weight)
      models += model
      modelWeights += weight
    }
    var i = 0
    var done = false
    try {
      while (i < $(numBaseLearners) && !done) {
        val model = learner.fit(i)
        val err = learner.weightedError(identity)
        instr.logNamedValue("estimatorError", err)
        if (real) {
          // SAMME.R: every model votes with weight 1; the reference stops
          // once the round's classifier is perfect on the weighted sample
          // (classification/BoostingClassifier.scala:203-212)
          keep(model, 1.0)
          if (err <= 0.0) done = true
          else learner.reweightByProbability(BoostingClassifier.sammeRFactors(numClasses))
        } else if (err <= 0.0) {
          keep(model, 1.0)
          done = true
        } else if (err >= 1.0 - 1.0 / numClasses) {
          // worse than random under the SAMME bound: keep only if first
          if (models.isEmpty) keep(model, 1.0)
          done = true
        } else {
          val alpha = math.log((1.0 - err) / err) + math.log(numClasses - 1.0)
          keep(model, alpha)
          val boost = math.exp(alpha)
          learner.reweight(e => if (e > 0.0) boost else 1.0)
        }
        i += 1
      }
    } finally learner.close()
    instr.logNamedValue("numRoundsKept", models.length.toLong)
    new BoostingClassificationModel(uid, numClasses, modelWeights.toArray, models.toArray)
      .setParent(this)
  }

  override def copy(extra: ParamMap): BoostingClassifier = defaultCopy(extra)

  override def write: MLWriter = GraftPersistence.writer(this)
}

object BoostingClassifier
    extends GraftReadable[BoostingClassifier](s => new BoostingClassifier(s.uid)) {

  /** SAMME.R's probability-coded weight factor for each possible label of
    * a row with class probabilities `p` (Zhu et al. 2009; reference:
    * classification/BoostingClassifier.scala:198-230): w *= exp(-(K-1)/K *
    * s_y) with s_y = sum_j code_j log p_j, code = 1 at the true class and
    * -1/(K-1) elsewhere, computed in the expanded form
    * s_y = (K/(K-1)) log p_y - (sum_j log p_j)/(K-1).
    */
  private[graft] def sammeRFactors(k: Int)(p: Array[Double]): Array[Double] = {
    val logs = p.map(pj => math.log(math.max(pj, EPSILON)))
    val sumLog = logs.sum
    logs.map(lj => math.exp(-(k - 1.0) / k * ((k / (k - 1.0)) * lj - sumLog / (k - 1.0))))
  }
}

class BoostingClassificationModel(
    override val uid: String,
    override val numClasses: Int,
    val modelWeights: Array[Double],
    val models: Array[EnsemblePredictionModelType])
    extends ProbabilisticClassificationModel[Vector, BoostingClassificationModel]
    with BoostingClassifierParams
    with MLWritable {

  /** Decision function (reference:
    * classification/BoostingClassifier.scala:348-382): discrete sums
    * weight x (one-hot with -1/(K-1) off-diagonal); real sums the
    * symmetric log-probability code (K-1)(log p - mean log p).
    */
  override def predictRaw(features: Vector): Vector = {
    val raw = new Array[Double](numClasses)
    $(algorithm) match {
      case "discrete" =>
        var i = 0
        while (i < models.length) {
          val k = models(i).predict(features).toInt
          val w = modelWeights(i)
          var j = 0
          while (j < numClasses) {
            raw(j) += w * (if (j == k) 1.0 else -1.0 / (numClasses - 1.0))
            j += 1
          }
          i += 1
        }
      case "real" =>
        var i = 0
        while (i < models.length) {
          val p = models(i)
            .asInstanceOf[ProbabilisticClassificationModel[Vector, _]]
            .predictProbability(features)
          val logp = new Array[Double](numClasses)
          var mean = 0.0
          var j = 0
          while (j < numClasses) {
            logp(j) = math.log(math.max(p(j), EPSILON))
            mean += logp(j)
            j += 1
          }
          mean /= numClasses
          j = 0
          while (j < numClasses) {
            raw(j) += (numClasses - 1.0) * (logp(j) - mean)
            j += 1
          }
          i += 1
        }
    }
    Vectors.dense(raw)
  }

  /** softmax(raw / (K-1)) (reference:
    * classification/BoostingClassifier.scala:342-346).
    */
  override protected def raw2probabilityInPlace(rawPrediction: Vector): Vector =
    rawPrediction match {
      case d: DenseVector =>
        var j = 0
        while (j < d.size) { d.values(j) /= (numClasses - 1.0); j += 1 }
        org.apache.spark.ml.impl.Utils.softmax(d.values)
        d
      case v => throw new IllegalArgumentException(s"unexpected raw vector $v")
    }

  override def copy(extra: ParamMap): BoostingClassificationModel =
    copyValues(new BoostingClassificationModel(uid, numClasses, modelWeights, models), extra)
      .setParent(parent)

  override def write: MLWriter = GraftPersistence.writer(
    this,
    ("numModels" -> models.length) ~ ("numClasses" -> numClasses) ~
      ("modelWeights" -> modelWeights.toSeq),
    GraftPersistence.numbered(models))
}

object BoostingClassificationModel extends GraftReadable[BoostingClassificationModel](s =>
  new BoostingClassificationModel(
    s.uid, s.int("numClasses"), s.doubles("modelWeights"), s.models(s.int("numModels"))))
