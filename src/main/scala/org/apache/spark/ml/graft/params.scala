package org.apache.spark.ml.graft

import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.{HasSeed, HasWeightCol}
import org.apache.spark.ml.util.{DefaultParamsReader, DefaultParamsWriter, MLWritable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.JsonDSL._
import org.json4s._
import org.json4s.jackson.JsonMethods._

/** Shared param traits for the meta-estimators (reference:
  * ensemble/ensembleParams.scala + bagging|boosting|stacking params —
  * re-derived for Spark 4.x).
  */

private[graft] trait HasNumBaseLearners extends Params {

  /** Number of base learners / boosting iterations. */
  final val numBaseLearners: IntParam = new IntParam(
    this, "numBaseLearners", "number of base learners (>0)", ParamValidators.gtEq(1))
  def getNumBaseLearners: Int = $(numBaseLearners)
  setDefault(numBaseLearners -> 10)
}

private[graft] trait HasBaseLearner extends Params {

  /** The base learner fitted on (re-sampled / re-weighted) data. */
  final val baseLearner: Param[EnsemblePredictorType] =
    new Param[EnsemblePredictorType](this, "baseLearner", "base learner")
  def getBaseLearner: EnsemblePredictorType = $(baseLearner)
}

private[graft] trait HasBaseLearners extends Params {

  /** Heterogeneous base learners (stacking). */
  final val baseLearners: Param[Array[EnsemblePredictorType]] =
    new Param[Array[EnsemblePredictorType]](this, "baseLearners", "base learners")
  def getBaseLearners: Array[EnsemblePredictorType] = $(baseLearners)
}

private[graft] trait HasStacker extends Params {

  /** Meta-learner fitted on base-learner predictions (stacking). */
  final val stacker: Param[EnsemblePredictorType] =
    new Param[EnsemblePredictorType](this, "stacker", "meta learner")
  def getStacker: EnsemblePredictorType = $(stacker)
}

/** Bootstrap-rows x random-feature-subspace sampling (reference:
  * ensemble/HasSubBag.scala:33-71). One deliberate fix vs the reference:
  * the row-sample seed is `seed + learnerIndex` (the reference reuses the
  * same seed for every learner's bootstrap — SURVEY.md §2.1 quirks).
  */
private[graft] trait HasSubBag extends Params with HasSeed {

  final val replacement: BooleanParam =
    new BooleanParam(this, "replacement", "sample rows with replacement")
  def getReplacement: Boolean = $(replacement)

  final val subsampleRatio: DoubleParam = new DoubleParam(
    this, "subsampleRatio", "row sample fraction (0,1]", ParamValidators.inRange(0, 1, false, true))
  def getSubsampleRatio: Double = $(subsampleRatio)

  final val subspaceRatio: DoubleParam = new DoubleParam(
    this, "subspaceRatio", "feature subspace fraction (0,1]", ParamValidators.inRange(0, 1, false, true))
  def getSubspaceRatio: Double = $(subspaceRatio)

  setDefault(replacement -> true, subsampleRatio -> 1.0, subspaceRatio -> 1.0)
}

/** Shared fit-time instrumentation: pipeline stage, dataset, and the
  * param JSON. Base-learner params hold estimator objects that have no
  * JSON encoding, so they are excluded — matching how spark.ml's own
  * meta-estimators instrument. One definition for all ten estimators.
  */
private[graft] object GraftInstrumentation {
  def logFit(
      instr: org.apache.spark.ml.util.Instrumentation,
      stage: org.apache.spark.ml.PipelineStage,
      dataset: org.apache.spark.sql.Dataset[_]): Unit = {
    instr.logPipelineStage(stage)
    instr.logDataset(dataset)
    instr.logParams(stage, stage.params.filter(p => stage.get(p).forall {
      case _: Params => false
      case arr: Array[_] => !arr.exists(_.isInstanceOf[Params])
      case _ => true
    }).toIndexedSeq: _*)
  }
}

/** Lets the estimator fit its trees on the bin-once `TreePoint` backend
  * ([[NativeTreeBoost]]; bagging: one `RandomForest.runBagged` pass)
  * instead of re-entering the base learner's `fit` per tree. The backend is
  * chosen from the input, not by this param alone: it is used only when
  * the base learner is a Spark DecisionTree and the binning is provably
  * the same every round (feature binning and candidate splits depend only
  * on feature values and the round-invariant weights, so metadata +
  * findSplits + TreePoint conversion amortize over the whole fit). Both
  * backends run under the same training loop; the param (default on)
  * exists so suites can force the spark.ml `Predictor` backend and pin the
  * two against each other.
  */
private[graft] trait HasNativeTreeFastPath extends Params {

  final val nativeTreeFastPath: BooleanParam = new BooleanParam(
    this, "nativeTreeFastPath",
    "reuse binned tree representation across fits for DecisionTree base learners")
  def getNativeTreeFastPath: Boolean = $(nativeTreeFastPath)
  def setNativeTreeFastPath(value: Boolean): this.type = set(nativeTreeFastPath, value)

  setDefault(nativeTreeFastPath -> true)
}

private[graft] trait HasVotingStrategy extends Params {

  /** hard = majority vote over predicted classes; soft = average of
    * predicted probability vectors.
    */
  final val votingStrategy: Param[String] = new Param[String](
    this, "votingStrategy", "hard|soft", ParamValidators.inArray(Array("hard", "soft")))
  def getVotingStrategy: String = $(votingStrategy)
  setDefault(votingStrategy -> "hard")
}

/** Fit/transform dispatch onto an existentially-typed base learner
  * (reference: ensemble/ensembleParams.scala:64-81 — ParamMap-based column
  * rebinding so shared learner objects are never mutated).
  */
private[graft] object Learners {

  /** `weightRequired = true` marks call sites where the per-row weights
    * carry the ALGORITHM's state (boosting reweighting, Newton hessian
    * weights): a base learner that cannot consume weights would silently
    * degenerate the whole ensemble there, so it is rejected instead.
    */
  def fit(
      learner: EnsemblePredictorType,
      df: DataFrame,
      labelCol: String,
      featuresCol: String,
      weightCol: Option[String] = None,
      weightRequired: Boolean = false): EnsemblePredictionModelType = {
    val pm = ParamMap(
      learner.labelCol.w(labelCol),
      learner.featuresCol.w(featuresCol))
    weightCol.foreach { wc =>
      learner match {
        case w: HasWeightCol => pm.put(w.weightCol.w(wc))
        case _ =>
          require(
            !weightRequired,
            s"base learner ${learner.getClass.getSimpleName} does not support " +
              "instance weights (HasWeightCol), but this algorithm carries its " +
              "state in per-row weights — fitting unweighted would silently " +
              "produce identical models every iteration")
      }
    }
    learner.fit(df, pm).asInstanceOf[EnsemblePredictionModelType]
  }

  /** Fused multi-target fit: K models over the SAME rows in ONE Spark job,
    * for learners whose fit is a single weighted aggregation. The K-dim
    * GBM loop otherwise pays K separate fit actions per iteration — on a
    * few-partition input that is K job-scheduling floors for microseconds
    * of arithmetic each (and under AQE, K× the stage-materialization
    * jobs). Each element of `targets` is that class's (label, weight)
    * expression pair; the fused aggregation computes all 2K sums in one
    * pass, and each per-class weighted mean sum(l·w)/sum(w) accumulates
    * exactly as the standalone `DummyRegressor` fit does, so the models
    * are bit-identical to the unfused path's. Returns None for learners
    * that cannot fuse (real trees etc.) — callers fall back to the
    * concurrent per-class fit pool.
    */
  def fitMulti(
      learner: EnsemblePredictorType,
      df: DataFrame,
      targets: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)])
      : Option[Array[EnsemblePredictionModelType]] = {
    import org.apache.spark.sql.functions.sum
    learner match {
      case d: DummyRegressor if d.getStrategy == "mean" =>
        val aggs = targets.zipWithIndex.flatMap { case ((l, w), k) =>
          Seq(sum(l * w).as(s"lw_$k"), sum(w).as(s"w_$k"))
        }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        Some(targets.indices.map { k =>
          val c = row.getDouble(2 * k) / row.getDouble(2 * k + 1)
          d.constructModel(c).asInstanceOf[EnsemblePredictionModelType]
        }.toArray)
      case d: DummyRegressor if d.getStrategy == "constant" =>
        Some(Array.fill(targets.length)(
          d.constructModel(d.getOrDefault(d.constant))
            .asInstanceOf[EnsemblePredictionModelType]))
      case _ => None
    }
  }

  private type VectorModel = org.apache.spark.ml.PredictionModel[
    org.apache.spark.ml.linalg.Vector,
    M] forSome { type M <: org.apache.spark.ml.PredictionModel[org.apache.spark.ml.linalg.Vector, M] }

  /** Transform with a rebound prediction column, leaving the shared model
    * object untouched.
    */
  def transform(
      model: EnsemblePredictionModelType,
      df: DataFrame,
      predictionCol: String): DataFrame = {
    val m = model.asInstanceOf[VectorModel]
    m.transform(df, ParamMap(m.predictionCol.w(predictionCol)))
  }

  /** Transform with both the features and prediction columns rebound. */
  def transformOn(
      model: EnsemblePredictionModelType,
      df: DataFrame,
      featuresCol: String,
      predictionCol: String): DataFrame = {
    val m = model.asInstanceOf[VectorModel]
    m.transform(df, ParamMap(m.featuresCol.w(featuresCol), m.predictionCol.w(predictionCol)))
  }

  /** Save/load a nested spark.ml writable (base learner or fitted model). */
  def save(stage: Params, path: String): Unit =
    stage.asInstanceOf[MLWritable].write.save(path)

  def loadLearner(path: String, spark: SparkSession): EnsemblePredictorType =
    DefaultParamsReader.loadParamsInstance[EnsemblePredictorType](path, spark)

  def loadModel(path: String, spark: SparkSession): EnsemblePredictionModelType =
    DefaultParamsReader.loadParamsInstance[EnsemblePredictionModelType](path, spark)
}

/** Metadata persistence that skips non-JSON-encodable learner params
  * (reference: ensemble/ensembleParams.scala:85-105 pattern).
  */
private[graft] object GraftPersistence {

  val learnerParamNames: Set[String] = Set("baseLearner", "baseLearners", "stacker")

  def saveMetadata(
      instance: Params,
      path: String,
      spark: SparkSession,
      extraMetadata: Option[JObject] = None): Unit = {
    val jsonParams: JValue = render(
      instance.extractParamMap().toSeq
        .filterNot(p => learnerParamNames.contains(p.param.name))
        .map { case ParamPair(p, v) =>
          p.name -> parse(p.asInstanceOf[Param[Any]].jsonEncode(v))
        }
        .toList)
    DefaultParamsWriter.saveMetadata(instance, path, spark, extraMetadata, Some(jsonParams))
  }

  def loadMetadata(path: String, spark: SparkSession, expectedClassName: String)
      : DefaultParamsReader.Metadata =
    DefaultParamsReader.loadMetadata(path, spark, expectedClassName)
}
