package org.apache.spark.ml.graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.ml.{PredictionModel, Predictor, PredictorParams}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.param.shared.{HasParallelism, HasWeightCol}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s.JsonDSL._

private[graft] trait StackingParams
    extends PredictorParams
    with HasBaseLearners
    with HasStacker
    with HasWeightCol
    with HasParallelism

private[graft] object StackingFit {

  /** Fit the heterogeneous base learners concurrently on the FULL data (no
    * resampling — reference: regression/StackingRegressor.scala:104-175).
    */
  def fitBases(
      instances: DataFrame,
      learners: Array[EnsemblePredictorType],
      ec: ExecutionContext): Array[EnsemblePredictionModelType] = {
    val futures = learners.map { learner =>
      Future(Learners.fit(learner, instances, "label", "features", Some("weight")))(ec)
    }
    // a failed fit rethrows its own exception (ThreadUtils.awaitResult
    // would wrap it in a SparkException)
    futures.map(Await.result(_, Duration.Inf))
  }

  /** Meta-feature table: chain each base model's transform (executor-side
    * UDFs, single pass, no shuffle) then assemble the per-model columns
    * into the stacker's features vector. Spark-first replacement for the
    * reference's RDD map (regression/StackingRegressor.scala:155-165).
    */
  def metaFeatures(
      instances: DataFrame,
      models: Array[EnsemblePredictionModelType],
      featureCol: Int => String,
      transformOne: (EnsemblePredictionModelType, DataFrame, Int) => DataFrame): DataFrame = {
    val withPreds = models.zipWithIndex.foldLeft(instances) { case (df, (m, i)) =>
      transformOne(m, df, i)
    }
    new VectorAssembler()
      .setInputCols(models.indices.map(featureCol).toArray)
      .setOutputCol("__meta_features")
      .transform(withPreds)
      .select(col("label"), col("weight"), col("__meta_features").as("features"))
  }

  /** Fit the meta-learner on a persisted copy of the meta-feature table.
    * Without the persist, every internal pass of the stacker's fit (e.g. a
    * DecisionTree's metadata build, split finding, and TreePoint
    * conversion) re-runs all N base-model transform UDFs over the corpus —
    * profiled at ~5s of the 10s `ml_stacking_classifier_dt` fit at sf0.1.
    * The meta table is only label+weight+K·N doubles per row, so caching
    * it is far cheaper than recomputing the base transforms.
    */
  def fitStacker(
      stacker: EnsemblePredictorType,
      meta: DataFrame): EnsemblePredictionModelType = {
    meta.persist(StorageLevel.MEMORY_AND_DISK)
    try Learners.fit(stacker, meta, "label", "features", Some("weight"))
    finally meta.unpersist()
  }
}

/** Stacking meta-regressor: N heterogeneous base learners fit in parallel
  * on the full data; a meta-learner (`stacker`) is fit on the vector of
  * their in-sample predictions (reference: regression/StackingRegressor.scala).
  */
class StackingRegressor(override val uid: String)
    extends Predictor[Vector, StackingRegressor, StackingRegressionModel]
    with StackingParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("StackingRegressor"))

  def setBaseLearners(value: Array[EnsemblePredictorType]): this.type = set(baseLearners, value)
  def setStacker(value: EnsemblePredictorType): this.type = set(stacker, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setParallelism(value: Int): this.type = set(parallelism, value)

  override protected def train(dataset: Dataset[_]): StackingRegressionModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): StackingRegressionModel = {
    val instances = SubBagFit.instances(this, dataset)
    val handlePersist = dataset.storageLevel == StorageLevel.NONE
    if (handlePersist) instances.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val models = StackingFit.fitBases(instances, $(baseLearners), getExecutionContext)
      val meta = StackingFit.metaFeatures(
        instances, models,
        i => s"__pred_$i",
        (m, df, i) => {
          val mm = m.asInstanceOf[PredictionModel[Vector, _ <: PredictionModel[Vector, _]]]
          mm.transform(df, ParamMap(mm.predictionCol.w(s"__pred_$i")))
        })
      val stack = StackingFit.fitStacker($(stacker), meta)
      new StackingRegressionModel(uid, models, stack).setParent(this)
    } finally if (handlePersist) instances.unpersist()
  }

  override def copy(extra: ParamMap): StackingRegressor = defaultCopy(extra)

  override def write: MLWriter =
    GraftPersistence.writer(this, "numLearners" -> getBaseLearners.length)
}

object StackingRegressor extends GraftReadable[StackingRegressor](s => new StackingRegressor(s.uid))

class StackingRegressionModel(
    override val uid: String,
    val models: Array[EnsemblePredictionModelType],
    val stack: EnsemblePredictionModelType)
    extends PredictionModel[Vector, StackingRegressionModel]
    with StackingParams
    with MLWritable {

  /** stack.predict([m_1(x) … m_N(x)]) (reference:
    * regression/StackingRegressor.scala:224-226).
    */
  override def predict(features: Vector): Double = {
    val meta = new Array[Double](models.length)
    var i = 0
    while (i < models.length) { meta(i) = models(i).predict(features); i += 1 }
    stack.predict(Vectors.dense(meta))
  }

  override def copy(extra: ParamMap): StackingRegressionModel =
    copyValues(new StackingRegressionModel(uid, models, stack), extra).setParent(parent)

  override def write: MLWriter = GraftPersistence.writer(
    this, "numModels" -> models.length, GraftPersistence.numbered(models) :+ ("stack" -> stack))
}

object StackingRegressionModel extends GraftReadable[StackingRegressionModel](s =>
  new StackingRegressionModel(s.uid, s.models(s.int("numModels")), s.model("stack")))
