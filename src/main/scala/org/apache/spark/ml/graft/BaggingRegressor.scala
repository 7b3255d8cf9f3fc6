package org.apache.spark.ml.graft

import scala.concurrent.{ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.ml.PredictorParams
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
import org.apache.spark.util.ThreadUtils
import org.json4s.JsonDSL._

private[graft] trait BaggingParams
    extends PredictorParams
    with HasNumBaseLearners
    with HasSubBag
    with HasBaseLearner
    with HasWeightCol
    with HasParallelism

/** Shared bootstrap-rows x feature-subspace fit loop (reference:
  * regression/BaggingRegressor.scala:117-172 /
  * classification/BaggingClassifier.scala:149-207). Spark-first shape: the
  * per-learner pipeline is `df.sample` (a Catalyst Sample node, pushed to
  * the cached scan) -> optional vector-slice projection -> nested spark.ml
  * fit; K fits run concurrently from a driver pool, each its own Spark
  * jobs, so `parallelism` trades driver scheduling against cluster slots.
  */
private[graft] object SubBagFit {

  def run(
      instances: DataFrame,
      learner: EnsemblePredictorType,
      numLearners: Int,
      replacement: Boolean,
      subsampleRatio: Double,
      subspaceRatio: Double,
      seed: Long,
      ec: ExecutionContext): Array[(Array[Int], EnsemblePredictionModelType)] = {
    val nf = GraftUtils.numFeatures(instances, "features")
    val futures = Array.tabulate(numLearners) { i =>
      Future {
        val indices = GraftUtils.subspace(subspaceRatio, nf, seed + i)
        val prepared = sliceFeatures(
          sample(instances, replacement, subsampleRatio, seed + i), indices, nf, "features")
        (indices, Learners.fit(learner, prepared, "label", "features", Some("weight")))
      }(ec)
    }
    futures.map(ThreadUtils.awaitResult(_, Duration.Inf))
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

  /** Native-tree fast path: bagging K DecisionTrees over the same dataset
    * IS one RandomForest pass — metadata, candidate splits, and the binned
    * TreePoint table are built once, the K bootstrap draws live in one
    * BaggedPoint RDD (one int[K] count vector per row instead of K sampled
    * copies), and `RandomForest.runBagged(numTrees = K)` grows all K trees
    * in shared passes over the data (each split-finding job aggregates
    * stats for every tree's open nodes at once). The generic path pays K
    * full binning passes plus K inductions; at 1000 executors this is the
    * difference between ~3 and ~3K barriers. Returns None when the base
    * learner is not a Spark DecisionTree — callers fall back to the
    * generic loop. Feature subspacing (subspaceRatio < 1) stays generic:
    * our contract draws the subspace per TREE, while RandomForest's
    * featureSubsetStrategy draws per NODE — different semantics.
    */
  def runNativeTrees(
      instances: DataFrame,
      learner: EnsemblePredictorType,
      numLearners: Int,
      replacement: Boolean,
      subsampleRatio: Double,
      seed: Long,
      numClasses: Option[Int] = None): Option[Array[(Array[Int], EnsemblePredictionModelType)]] = {
    import org.apache.spark.ml.classification.DecisionTreeClassifier
    import org.apache.spark.ml.feature.Instance
    import org.apache.spark.ml.regression.DecisionTreeRegressor
    import org.apache.spark.ml.tree.impl.{
      BaggedPoint, DecisionTreeMetadata, GraftTreeShim, RandomForest, TreePoint
    }

    val cfg: Option[(org.apache.spark.mllib.tree.configuration.Strategy, Long)] =
      learner match {
        case dt: DecisionTreeRegressor => Some((dt.getOldStrategy(
          org.apache.spark.ml.util.MetadataUtils
            .getCategoricalFeatures(instances.schema("features"))), dt.getSeed))
        case dt: DecisionTreeClassifier =>
          // the caller MUST resolve numClasses (label metadata aware);
          // deriving it here from max(label)+1 would disagree with the
          // model's numClasses whenever metadata declares classes absent
          // from the training rows
          val k = numClasses.getOrElse(throw new IllegalArgumentException(
            "runNativeTrees with a DecisionTreeClassifier requires the " +
              "caller's metadata-resolved numClasses"))
          Some((dt.getOldStrategy(
            org.apache.spark.ml.util.MetadataUtils
              .getCategoricalFeatures(instances.schema("features")), k), dt.getSeed))
        case _ => None
      }
    cfg.map { case (strategy, treeSeed) =>
      val sc = instances.sparkSession.sparkContext
      val (train, trainBlocks) = NativeTreeBoost.cacheBlocks(
        instances.select("label", "weight", "features").rdd
          .map(r => Instance(r.getDouble(0), r.getDouble(1), r.getAs[Vector](2))))
      try {
        val metadata =
          DecisionTreeMetadata.buildMetadata(train, strategy, numLearners, "all")
        val splits = GraftTreeShim.findSplits(train, metadata, treeSeed)
        val bcSplits = sc.broadcast(splits)
        val (treePoints, treeBlocks) =
          NativeTreeBoost.cacheBlocks(TreePoint.convertToTreeRDD(train, splits, metadata))
        val (bagged, baggedBlocks) = NativeTreeBoost.cacheBlocks(BaggedPoint.convertToBaggedRDD(
          treePoints, subsampleRatio, numLearners, replacement,
          (tp: TreePoint) => tp.weight, seed))
        try {
          val full = Array.range(0, metadata.numFeatures)
          RandomForest.runBagged(
              bagged, metadata, bcSplits, strategy, numLearners, "all", treeSeed, None)
            .map(m => (full, m.asInstanceOf[EnsemblePredictionModelType]))
        } finally {
          baggedBlocks.unpersist(blocking = false)
          treeBlocks.unpersist(blocking = false)
          bcSplits.destroy()
        }
      } finally trainBlocks.unpersist(blocking = false)
    }
  }

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
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): BaggingRegressionModel = {
    val instances = SubBagFit.instances(this, dataset)
    val handlePersist = dataset.storageLevel == StorageLevel.NONE
    if (handlePersist) instances.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val bags = {
        val native =
          if ($(subspaceRatio) >= 1.0)
            SubBagFit.runNativeTrees(
              instances, $(baseLearner), $(numBaseLearners), $(replacement),
              $(subsampleRatio), $(seed))
          else None
        native.getOrElse(SubBagFit.run(
          instances, $(baseLearner), $(numBaseLearners), $(replacement),
          $(subsampleRatio), $(subspaceRatio), $(seed), getExecutionContext))
      }
      new BaggingRegressionModel(uid, bags.map(_._1), bags.map(_._2)).setParent(this)
    } finally if (handlePersist) instances.unpersist()
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
