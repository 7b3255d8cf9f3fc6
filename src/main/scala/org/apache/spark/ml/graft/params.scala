package org.apache.spark.ml.graft

import scala.reflect.ClassTag

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.{HasSeed, HasWeightCol}
import org.apache.spark.ml.util._
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
    * that cannot fuse (real trees etc., and subclasses of
    * `DummyRegressor`, whose own `train` fusing would bypass) — callers
    * fall back to the concurrent per-class fit pool.
    */
  def fitMulti(
      learner: EnsemblePredictorType,
      df: DataFrame,
      targets: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)])
      : Option[Array[EnsemblePredictionModelType]] = {
    import org.apache.spark.sql.functions.sum
    learner match {
      case d: DummyRegressor if d.getClass != classOf[DummyRegressor] => None
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
}

/** The one on-disk layout of the ensemble estimators and models
  * (reference: ensemble/ensembleParams.scala:85-105,126-146,168-193). A
  * save writes under its path:
  *  - `metadata/`: the spark.ml metadata JSON plus the fields a model
  *    passes in (counts, weights, subspaces). The learner params hold
  *    estimators, which have no JSON encoding, so they are left out of it;
  *    every other param is written with its value, defaults included.
  *    Classes without learner params (the Dummy models) keep spark.ml's
  *    own paramMap of explicitly set params.
  *  - one directory per learner param: `learner/` for baseLearner,
  *    `learner-i/` per element of baseLearners, and `stacker/`.
  *  - a model's fitted sub-models under the names it gives them:
  *    `model-i/` (or `model-i-k/` per iteration and class), `init/`,
  *    `stack/`.
  * A load sets the params from the metadata and each learner param from
  * its directory; a per-class constructor builds the instance from the
  * saved fields and sub-models.
  */
private[graft] object GraftPersistence {

  /** Learner param -> its directory; baseLearners' elements go to `learner-i`. */
  private val learnerDirs =
    Map("baseLearner" -> "learner", "baseLearners" -> "learner", "stacker" -> "stacker")
  val learnerParamNames: Set[String] = learnerDirs.keySet

  /** Params that older saves wrote and a load skips: `nativeTreeFastPath`
    * (every save before the learner backend was chosen from the input
    * alone) and `aggregationDepth` (the GBM and AdaBoost estimators' saves
    * before the unread param was dropped).
    */
  private val retiredParamNames = List("nativeTreeFastPath", "aggregationDepth")

  private def learnerParams(instance: Params): Seq[Param[Any]] =
    instance.params.toSeq.filter(p => learnerParamNames(p.name)).map(_.asInstanceOf[Param[Any]])

  private def saveStage(stage: Any, path: String): Unit =
    stage.asInstanceOf[MLWritable].write.save(path)

  private def loadLearner(path: String, spark: SparkSession): EnsemblePredictorType =
    DefaultParamsReader.loadParamsInstance[EnsemblePredictorType](path, spark)

  /** `models(i)` under `model-i`. */
  def numbered(models: Array[EnsemblePredictionModelType]): Seq[(String, Params)] =
    models.indices.map(i => s"model-$i" -> models(i))

  def writer(
      instance: Params,
      extraMetadata: JObject = JObject(),
      subModels: Seq[(String, Params)] = Nil): MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val learners = learnerParams(instance)
      val jsonParams =
        if (learners.isEmpty) None
        else Some(render(instance.extractParamMap().toSeq
          .filterNot(p => learnerParamNames(p.param.name))
          .map { case ParamPair(p, v) => p.name -> parse(p.asInstanceOf[Param[Any]].jsonEncode(v)) }
          .toList))
      DefaultParamsWriter.saveMetadata(
        instance, path, sparkSession, Some(extraMetadata), jsonParams)
      learners.foreach { p =>
        val dir = s"$path/${learnerDirs(p.name)}"
        instance.getOrDefault(p) match {
          case stages: Array[_] =>
            stages.zipWithIndex.foreach { case (s, i) => saveStage(s, s"$dir-$i") }
          case stage => saveStage(stage, dir)
        }
      }
      subModels.foreach { case (dir, m) => saveStage(m, s"$path/$dir") }
    }
  }

  /** What a load hands a class's constructor: the saved uid, the extra
    * metadata fields and the sub-models.
    */
  final class Saved(metadata: DefaultParamsReader.Metadata, path: String, spark: SparkSession) {
    def uid: String = metadata.uid
    def get[V: Manifest](key: String): V =
      (metadata.metadata \ key).extract[V](DefaultFormats, manifest)
    def int(key: String): Int = get[Int](key)
    def doubles(key: String): Array[Double] = get[Seq[Double]](key).toArray
    def subspaces: Array[Array[Int]] = get[Seq[Seq[Int]]]("subspaces").map(_.toArray).toArray
    def model(dir: String): EnsemblePredictionModelType =
      DefaultParamsReader.loadParamsInstance[EnsemblePredictionModelType](s"$path/$dir", spark)
    /** The `n` sub-models written by [[numbered]]. */
    def models(n: Int): Array[EnsemblePredictionModelType] =
      Array.tabulate(n)(i => model(s"model-$i"))
  }

  def reader[T <: Params](construct: Saved => T)(implicit cls: ClassTag[T]): MLReader[T] =
    new MLReader[T] {
      override def load(path: String): T = {
        val metadata =
          DefaultParamsReader.loadMetadata(path, sparkSession, cls.runtimeClass.getName)
        val instance = construct(new Saved(metadata, path, sparkSession))
        metadata.getAndSetParams(instance, Some(retiredParamNames))
        val fs = new Path(path).getFileSystem(sparkSession.sparkContext.hadoopConfiguration)
        learnerParams(instance).foreach { p =>
          val dir = s"$path/${learnerDirs(p.name)}"
          instance.set(p,
            if (p.name != "baseLearners") loadLearner(dir, sparkSession)
            else Iterator.from(0).map(i => s"$dir-$i").takeWhile(d => fs.exists(new Path(d)))
              .map(loadLearner(_, sparkSession)).toArray)
        }
        instance
      }
    }
}

/** Companion of a class saved by [[GraftPersistence.writer]]. */
private[graft] abstract class GraftReadable[T <: Params: ClassTag](
    construct: GraftPersistence.Saved => T) extends MLReadable[T] {
  override def read: MLReader[T] = GraftPersistence.reader(construct)
}
