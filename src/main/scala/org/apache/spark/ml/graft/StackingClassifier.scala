package org.apache.spark.ml.graft

import org.apache.spark.ml.{PredictionModel, Predictor}
import org.apache.spark.ml.classification.{ClassificationModel, ProbabilisticClassificationModel}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.{Param, ParamMap, ParamValidators}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import org.json4s.JsonDSL._

private[graft] trait StackingClassifierParams extends StackingParams {

  /** Which base-model output becomes meta-features (reference:
    * classification/StackingClassifier.scala:60-73): `class` = predicted
    * label scalar, `raw` = rawPrediction vector, `proba` = probability
    * vector (flattened K·N meta-features for the latter two).
    */
  final val stackMethod: Param[String] = new Param[String](
    this, "stackMethod", "class|raw|proba",
    ParamValidators.inArray(Array("class", "raw", "proba")))
  def getStackMethod: String = $(stackMethod)
  setDefault(stackMethod -> "class")
}

/** Stacking meta-classifier. Like the reference it extends plain
  * `Predictor`, so the fitted model exposes `prediction` only
  * (classification/StackingClassifier.scala:137-215).
  */
class StackingClassifier(override val uid: String)
    extends Predictor[Vector, StackingClassifier, StackingClassificationModel]
    with StackingClassifierParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("StackingClassifier"))

  def setBaseLearners(value: Array[EnsemblePredictorType]): this.type = set(baseLearners, value)
  def setStacker(value: EnsemblePredictorType): this.type = set(stacker, value)
  def setStackMethod(value: String): this.type = set(stackMethod, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setParallelism(value: Int): this.type = set(parallelism, value)

  override protected def train(dataset: Dataset[_]): StackingClassificationModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): StackingClassificationModel = {
    $(stackMethod) match {
      case "raw" =>
        require(
          $(baseLearners).forall(_.isInstanceOf[org.apache.spark.ml.classification.Classifier[_, _, _]]),
          "stackMethod=raw requires classifier base learners")
      case "proba" =>
        require(
          $(baseLearners).forall(_.isInstanceOf[org.apache.spark.ml.classification.ProbabilisticClassifier[_, _, _]]),
          "stackMethod=proba requires probabilistic base learners")
      case _ => ()
    }
    val instances = SubBagFit.instances(this, dataset)
    val handlePersist = dataset.storageLevel == StorageLevel.NONE
    if (handlePersist) instances.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val models = StackingFit.fitBases(instances, $(baseLearners), getExecutionContext)
      val method = $(stackMethod)
      val meta = StackingFit.metaFeatures(
        instances, models,
        i => method match {
          case "class" => s"__pred_$i"
          case "raw" => s"__raw_$i"
          case "proba" => s"__prob_$i"
        },
        (m, df, i) =>
          m match {
            case p: ProbabilisticClassificationModel[_, _] =>
              val pm = ParamMap(
                p.predictionCol.w(s"__pred_$i"),
                p.rawPredictionCol.w(s"__raw_$i"),
                p.probabilityCol.w(s"__prob_$i"))
              p.transform(df, pm)
            case c: ClassificationModel[_, _] =>
              val pm = ParamMap(
                c.predictionCol.w(s"__pred_$i"),
                c.rawPredictionCol.w(s"__raw_$i"))
              c.transform(df, pm)
            case other =>
              val mm = other.asInstanceOf[PredictionModel[Vector, _ <: PredictionModel[Vector, _]]]
              mm.transform(df, ParamMap(mm.predictionCol.w(s"__pred_$i")))
          })
      val stack = StackingFit.fitStacker($(stacker), meta)
      new StackingClassificationModel(uid, models, stack).setParent(this)
    } finally if (handlePersist) instances.unpersist()
  }

  override def copy(extra: ParamMap): StackingClassifier = defaultCopy(extra)

  override def write: MLWriter =
    GraftPersistence.writer(this, "numLearners" -> getBaseLearners.length)
}

object StackingClassifier
    extends GraftReadable[StackingClassifier](s => new StackingClassifier(s.uid))

class StackingClassificationModel(
    override val uid: String,
    val models: Array[EnsemblePredictionModelType],
    val stack: EnsemblePredictionModelType)
    extends PredictionModel[Vector, StackingClassificationModel]
    with StackingClassifierParams
    with MLWritable {

  /** Meta-vector per stackMethod, then the stacker's point prediction
    * (reference: classification/StackingClassifier.scala:260-270).
    */
  override def predict(features: Vector): Double = {
    val meta: Array[Double] = $(stackMethod) match {
      case "class" => models.map(_.predict(features))
      case "raw" =>
        models.flatMap(_.asInstanceOf[ClassificationModel[Vector, _]]
          .predictRaw(features).toArray)
      case "proba" =>
        models.flatMap(_.asInstanceOf[ProbabilisticClassificationModel[Vector, _]]
          .predictProbability(features).toArray)
    }
    stack.predict(Vectors.dense(meta))
  }

  override def copy(extra: ParamMap): StackingClassificationModel =
    copyValues(new StackingClassificationModel(uid, models, stack), extra).setParent(parent)

  override def write: MLWriter = GraftPersistence.writer(
    this, "numModels" -> models.length, GraftPersistence.numbered(models) :+ ("stack" -> stack))
}

object StackingClassificationModel extends GraftReadable[StackingClassificationModel](s =>
  new StackingClassificationModel(s.uid, s.models(s.int("numModels")), s.model("stack")))
