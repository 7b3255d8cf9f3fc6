package org.apache.spark.ml.graft

import org.apache.spark.ml.classification.{
  ProbabilisticClassificationModel, ProbabilisticClassifier
}
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.{DenseVector, Vector, Vectors}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.Dataset
import org.json4s.JsonDSL._

private[graft] trait BaggingClassifierParams
    extends BaggingParams
    with org.apache.spark.ml.classification.ProbabilisticClassifierParams
    with HasVotingStrategy

/** Bagging meta-classifier: SubBag fit + majority vote, `hard` over
  * predicted classes or `soft` over probability vectors (reference:
  * classification/BaggingClassifier.scala).
  */
class BaggingClassifier(override val uid: String)
    extends ProbabilisticClassifier[Vector, BaggingClassifier, BaggingClassificationModel]
    with BaggingClassifierParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("BaggingClassifier"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setNumBaseLearners(value: Int): this.type = set(numBaseLearners, value)
  def setReplacement(value: Boolean): this.type = set(replacement, value)
  def setSubsampleRatio(value: Double): this.type = set(subsampleRatio, value)
  def setSubspaceRatio(value: Double): this.type = set(subspaceRatio, value)
  def setSeed(value: Long): this.type = set(seed, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setParallelism(value: Int): this.type = set(parallelism, value)
  def setVotingStrategy(value: String): this.type = set(votingStrategy, value)

  override protected def train(dataset: Dataset[_]): BaggingClassificationModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      val numClasses = getNumClasses(dataset)
      if ($(votingStrategy) == "soft") {
        require(
          $(baseLearner).isInstanceOf[ProbabilisticClassifier[_, _, _]],
          "soft voting requires a probabilistic base classifier")
      }
      val bags = SubBagFit.fit(this, dataset, numClasses)
      new BaggingClassificationModel(uid, numClasses, bags.map(_._1), bags.map(_._2))
        .setParent(this)
  }

  override def copy(extra: ParamMap): BaggingClassifier = defaultCopy(extra)

  override def write: MLWriter = GraftPersistence.writer(this)
}

object BaggingClassifier extends GraftReadable[BaggingClassifier](s => new BaggingClassifier(s.uid))

class BaggingClassificationModel(
    override val uid: String,
    override val numClasses: Int,
    val subspaces: Array[Array[Int]],
    val models: Array[EnsemblePredictionModelType])
    extends ProbabilisticClassificationModel[Vector, BaggingClassificationModel]
    with BaggingClassifierParams
    with MLWritable {

  private val numModels = models.length

  /** Vote accumulation (reference:
    * classification/BaggingClassifier.scala:260-283): hard adds a one-hot of
    * each base `predict`; soft adds each base probability vector; result is
    * divided by the number of models so raw is already a distribution.
    */
  override def predictRaw(features: Vector): Vector = {
    val votes = new Array[Double](numClasses)
    val hard = $(votingStrategy) == "hard" // hoisted out of the per-model loop
    var i = 0
    while (i < numModels) {
      val sub = subspaces(i)
      val f = if (sub.length == features.size) features else GraftUtils.sliceVector(features, sub)
      if (hard) {
        val k = models(i).predict(f).toInt
        votes(k) += 1.0
      } else {
        val p = models(i)
          .asInstanceOf[ProbabilisticClassificationModel[Vector, _]]
          .predictProbability(f)
        var k = 0
        while (k < numClasses) { votes(k) += p(k); k += 1 }
      }
      i += 1
    }
    var k = 0
    while (k < numClasses) { votes(k) /= numModels; k += 1 }
    Vectors.dense(votes)
  }

  override protected def raw2probabilityInPlace(rawPrediction: Vector): Vector =
    rawPrediction match {
      case d: DenseVector =>
        var s = 0.0
        var i = 0
        while (i < d.size) { s += d.values(i); i += 1 }
        if (s != 0.0) { i = 0; while (i < d.size) { d.values(i) /= s; i += 1 } }
        d
      case v => throw new IllegalArgumentException(s"unexpected raw vector $v")
    }

  override def copy(extra: ParamMap): BaggingClassificationModel =
    copyValues(new BaggingClassificationModel(uid, numClasses, subspaces, models), extra)
      .setParent(parent)

  override def write: MLWriter = GraftPersistence.writer(
    this,
    ("numModels" -> models.length) ~ ("numClasses" -> numClasses) ~
      ("subspaces" -> subspaces.map(_.toSeq).toSeq),
    GraftPersistence.numbered(models))
}

object BaggingClassificationModel extends GraftReadable[BaggingClassificationModel](s =>
  new BaggingClassificationModel(
    s.uid, s.int("numClasses"), s.subspaces, s.models(s.int("numModels"))))
