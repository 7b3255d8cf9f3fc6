package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.PredictorParams
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.{Param, ParamMap, ParamValidators}
import org.apache.spark.ml.param.shared.{
  HasAggregationDepth, HasCheckpointInterval, HasWeightCol
}
import org.apache.spark.ml.regression.{RegressionModel, Regressor}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import org.json4s.JsonDSL._

/** Iteration-state cache manager: persists the per-iteration weighted
  * dataset, eagerly materializes it, drops the previous one, and truncates
  * lineage every `checkpointInterval` iterations via a checkpoint —
  * without it an N-iteration boosting loop carries O(N) plan depth
  * (reference uses PeriodicRDDCheckpointer: regression/BoostingRegressor
  * .scala:202-206).
  *
  * Checkpoint mode follows the session: when
  * `SparkContext.setCheckpointDir` is set, iterations checkpoint RELIABLY
  * to that directory (data survives executor loss — at 1000 executors
  * with dynamic allocation, localCheckpoint's cached-blocks-only contract
  * is a real failure mode), keeping the latest two checkpoints and
  * deleting older files exactly like the reference's
  * PeriodicRDDCheckpointer. Without a checkpoint dir it falls back to
  * localCheckpoint (single-JVM / test mode).
  */
private[graft] class IterLoopCache(checkpointInterval: Int) {
  private var prev: DataFrame = _
  private var iter = 0
  private val checkpointFiles = scala.collection.mutable.Queue.empty[String]

  private def release(df: DataFrame): Unit = {
    // Dataset.unpersist is a no-op on localCheckpoint blocks (they bypass
    // the CacheManager) — free the underlying RDD cache explicitly or each
    // checkpointed iteration's full dataset lingers in executor storage.
    // Safe here: the successor iteration is already materialized, so the
    // freed lineage is never re-entered (reliable checkpoint files are
    // managed separately and outlive the cached blocks).
    df.unpersist()
    org.apache.spark.sql.graft.DatasetUtils.freeCheckpointBlocks(df)
  }

  def next(df: DataFrame): DataFrame = {
    iter += 1
    val out =
      if (checkpointInterval > 0 && iter % checkpointInterval == 0) {
        if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
          val cp = df.checkpoint(eager = true)
          org.apache.spark.sql.graft.DatasetUtils.checkpointFile(cp)
            .foreach(checkpointFiles.enqueue(_))
          // keep the newest checkpoint plus its predecessor (persisted
          // successor blocks may still recompute through it on loss) —
          // the PeriodicRDDCheckpointer retention policy
          while (checkpointFiles.size > 2) {
            org.apache.spark.sql.graft.DatasetUtils
              .deleteCheckpointFile(checkpointFiles.dequeue(), cp)
          }
          cp
        } else df.localCheckpoint(true)
      } else { df.persist(StorageLevel.MEMORY_AND_DISK); df.count(); df }
    if (prev != null) release(prev)
    prev = out
    out
  }

  /** Callers collect every per-iteration result before closing, so both
    * the cached blocks and any remaining reliable checkpoint files are
    * dead weight by now — free them all.
    */
  def close(): Unit = if (prev != null) {
    val last = prev
    release(prev)
    prev = null
    while (checkpointFiles.nonEmpty) {
      org.apache.spark.sql.graft.DatasetUtils
        .deleteCheckpointFile(checkpointFiles.dequeue(), last)
    }
  }
}

private[graft] trait BoostingRegressorParams
    extends PredictorParams
    with HasNumBaseLearners
    with HasBaseLearner
    with HasWeightCol
    with HasCheckpointInterval
    // kept for API parity with the reference's treeReduce/treeAggregate
    // depth; the DataFrame aggregations here partial-aggregate map-side,
    // which supersedes multi-level tree reduction
    with HasAggregationDepth {

  /** AdaBoost.R2 loss on the max-normalized absolute error (reference:
    * regression/BoostingRegressor.scala:97-106).
    */
  final val lossType: Param[String] = new Param[String](
    this, "lossType", "exponential|linear|squared",
    ParamValidators.inArray(Array("exponential", "linear", "squared")))
  def getLossType: String = $(lossType)

  /** median (weighted median, AdaBoost.R2 default) | mean (weighted mean). */
  final val votingStrategy: Param[String] = new Param[String](
    this, "votingStrategy", "median|mean",
    ParamValidators.inArray(Array("median", "mean")))
  def getVotingStrategy: String = $(votingStrategy)

  setDefault(lossType -> "exponential", votingStrategy -> "median", checkpointInterval -> 10)
}

/** AdaBoost.R2 (Drucker 1997) meta-regressor: one training loop over an
  * [[AdaBoostLearner]], whose three per-iteration reductions are the sum
  * of weights, the max error and the weighted loss (reference dataflow:
  * regression/BoostingRegressor.scala:173-282, re-derived from the
  * published algorithm).
  */
class BoostingRegressor(override val uid: String)
    extends Regressor[Vector, BoostingRegressor, BoostingRegressionModel]
    with BoostingRegressorParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("BoostingRegressor"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setNumBaseLearners(value: Int): this.type = set(numBaseLearners, value)
  def setLossType(value: String): this.type = set(lossType, value)
  def setVotingStrategy(value: String): this.type = set(votingStrategy, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setCheckpointInterval(value: Int): this.type = set(checkpointInterval, value)
  def setAggregationDepth(value: Int): this.type = set(aggregationDepth, value)

  override protected def train(dataset: Dataset[_]): BoostingRegressionModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): BoostingRegressionModel = {
    val instances = SubBagFit.instances(this, dataset)
    val absError = (p: Double, y: Double) => math.abs(p - y)
    val learner: AdaBoostLearner = $(baseLearner) match {
      case dt: org.apache.spark.ml.regression.DecisionTreeRegressor =>
        val categorical = MetadataUtils.getCategoricalFeatures(instances.schema("features"))
        new BinnedAdaBoost(
          instances, dt.getOldStrategy(categorical), dt.getSeed, $(checkpointInterval), absError)
      case base =>
        new PredictorAdaBoost(
          instances, base, $(checkpointInterval), absError, withProbability = false)
    }
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
        val maxError = learner.maxError()
        if (maxError == 0.0) {
          // perfect fit: keep it with full confidence and stop early
          keep(model, 1.0)
          done = true
        } else {
          val loss = BoostingRegressor.normalizedLoss($(lossType), maxError)
          val estimatorError = learner.weightedError(loss)
          instr.logNamedValue("estimatorError", estimatorError)
          if (estimatorError >= 0.5) {
            // boosting assumption broken: keep the model only if it is the
            // first (so the ensemble is non-empty, voting with full weight
            // like the classifier's degenerate case), then stop
            if (models.isEmpty) keep(model, 1.0)
            done = true
          } else {
            val beta = estimatorError / (1.0 - estimatorError)
            keep(model, math.log(1.0 / beta))
            learner.reweight(e => StrictMath.pow(beta, 1.0 - loss(e)))
          }
        }
        i += 1
      }
    } finally learner.close()
    instr.logNamedValue("numRoundsKept", models.length.toLong)
    new BoostingRegressionModel(uid, modelWeights.toArray, models.toArray).setParent(this)
  }

  override def copy(extra: ParamMap): BoostingRegressor = defaultCopy(extra)

  override def write: MLWriter = GraftPersistence.writer(this)
}

object BoostingRegressor
    extends GraftReadable[BoostingRegressor](s => new BoostingRegressor(s.uid)) {

  /** AdaBoost.R2's normalized loss of a row's absolute error given the
    * round's max error (reference: regression/BoostingRegressor.scala:97-106).
    * `StrictMath.pow` and `math.exp` are what Spark's generated code calls
    * for `pow` and `exp`, so results match the SQL form of the recursion.
    */
  private[graft] def normalizedLoss(lossType: String, maxError: Double): Double => Double =
    lossType match {
      case "linear" => e => e / maxError
      case "squared" => e => StrictMath.pow(e / maxError, 2)
      case "exponential" => e => 1.0 - math.exp(-e / maxError)
    }
}

class BoostingRegressionModel(
    override val uid: String,
    val modelWeights: Array[Double],
    val models: Array[EnsemblePredictionModelType])
    extends RegressionModel[Vector, BoostingRegressionModel]
    with BoostingRegressorParams
    with MLWritable {

  /** Weighted median (default) or weighted mean of base predictions
    * (reference: regression/BoostingRegressor.scala:333-347).
    */
  override def predict(features: Vector): Double = {
    val preds = new Array[Double](models.length)
    var i = 0
    while (i < models.length) { preds(i) = models(i).predict(features); i += 1 }
    $(votingStrategy) match {
      case "median" => GraftUtils.weightedMedian(preds, modelWeights)
      case "mean" =>
        var num = 0.0
        var den = 0.0
        i = 0
        while (i < preds.length) { num += modelWeights(i) * preds(i); den += modelWeights(i); i += 1 }
        if (den == 0.0) preds.sum / preds.length else num / den
    }
  }

  override def copy(extra: ParamMap): BoostingRegressionModel =
    copyValues(new BoostingRegressionModel(uid, modelWeights, models), extra).setParent(parent)

  override def write: MLWriter = GraftPersistence.writer(
    this,
    ("numModels" -> models.length) ~ ("modelWeights" -> modelWeights.toSeq),
    GraftPersistence.numbered(models))
}

object BoostingRegressionModel extends GraftReadable[BoostingRegressionModel](s =>
  new BoostingRegressionModel(s.uid, s.doubles("modelWeights"), s.models(s.int("numModels"))))
