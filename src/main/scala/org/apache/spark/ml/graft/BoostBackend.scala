package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.ml.classification.ProbabilisticClassificationModel
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.tree.DecisionTreeModel
import org.apache.spark.ml.tree.impl.{BaggedPoint, TreePoint}
import org.apache.spark.rdd.RDD
import org.apache.spark.rdd.util.PeriodicRDDCheckpointer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, lit}
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** A boosting fit's per-row loop state, one RDD value per round, each
  * derived from the values before it. Every value is cached as blocks
  * ([[NativeTreeBoost.cacheBlocks]]); `set` runs no job, so the next job
  * that reads `rdd` materializes the value, and the caller keeps the new
  * value's parents cached until that job has run. A `PeriodicRDDCheckpointer`
  * keeps the last three values cached, so the value before is one of them.
  * Every `checkpointInterval` values it cuts the lineage, which would
  * otherwise grow by a round each round: with a checkpoint directory set,
  * by a reliable checkpoint (the data survives executor loss, and the
  * files of older checkpoints are deleted); without one, by a local
  * checkpoint of the cached blocks.
  */
private[graft] final class State[T: ClassTag](initial: RDD[T], checkpointInterval: Int) {
  private val sc = initial.sparkContext
  private val ck = new PeriodicRDDCheckpointer[Array[T]](checkpointInterval, sc)
  private var values = 0
  var rdd: RDD[T] = _
  set(initial)

  def set(next: RDD[T]): Unit = {
    val (rows, handle) = NativeTreeBoost.cacheBlocks(next)
    values += 1
    if (sc.getCheckpointDir.isEmpty && checkpointInterval > 0 && values % checkpointInterval == 0) {
      handle.localCheckpoint()
    }
    // already persisted, so the checkpointer keeps its storage level
    ck.update(handle)
    rdd = rows
  }

  /** Frees the cached values and the checkpoint files: Spark's
    * ContextCleaner never deletes reliable checkpoint directories.
    */
  def close(): Unit = {
    ck.unpersistDataSet()
    ck.deleteAllCheckpoints()
  }
}

/** The rows of a boosting fit and how its base models meet them: the one
  * seam between the base learner and the learner of each boosting
  * algorithm ([[AdaBoostLearner]], [[GBMLearner]]), which are written once
  * over it. Each row is stored as `R` and carries its loop state with it,
  * in one [[State]] of (row, validation flag, state) values. Three things
  * differ between the two backends:
  *  - how a row is stored: an `Instance` ([[PredictorRows]]) or a binned
  *    `TreePoint` ([[BinnedRows]]);
  *  - how a round's base models are fit (`fitWeighted`, `fitGradients`);
  *  - how a model predicts one row (`predictor`, `byProbability`).
  * The backend owns every cache of the fit, the state included; `close`
  * frees them all, and the learners call it from `finally`, so a failed
  * fit leaks no checkpoint directory or corpus-sized cache into the
  * surviving session. Functions it hands out go into task closures, so
  * they capture only what they use, never the backend.
  */
private[graft] sealed abstract class BoostBackend[R](instances: DataFrame) {
  val spark: SparkSession = instances.sparkSession
  val label: R => Double
  val weight: R => Double
  private val blocks = ArrayBuffer.empty[RDD[_]]
  private var roundBlocks: RDD[_] = _
  private var state: State[_] = _

  protected def cache[T: ClassTag](rdd: RDD[T]): RDD[T] = {
    val (rows, handle) = NativeTreeBoost.cacheBlocks(rdd)
    blocks += handle
    rows
  }

  /** Every row of the fit in input order, its validation flag and its
    * first state `s0` of its instance (on the weight scale the backend
    * fits on).
    */
  protected def rows[S: ClassTag](s0: Instance => S): RDD[(R, Boolean, S)]

  /** The fit's one loop state, starting from `s0`. */
  def start[S: ClassTag](s0: Instance => S, checkpointInterval: Int): State[(R, Boolean, S)] = {
    val s = new State(rows(s0), checkpointInterval)
    state = s
    s
  }

  /** `rdd` cached as blocks in place of the previous round's rows, which
    * the caller no longer needs: a round's rows are derived from the state
    * and the next state from them, and the next round's rows are cached
    * only once a job has read that next state.
    */
  def cacheRound[T: ClassTag](rdd: RDD[T]): RDD[T] = {
    if (roundBlocks != null) roundBlocks.unpersist(blocking = false)
    val (rows, handle) = NativeTreeBoost.cacheBlocks(rdd)
    roundBlocks = handle
    rows
  }

  /** The base model of an AdaBoost round on (row, weight) training rows. */
  def fitWeighted(rows: RDD[(R, Double)], round: Int): EnsemblePredictionModelType

  /** The `dim` base regressors of a GBM round, one per component of the
    * negative gradient `r` of each (row, r, hessian) training row, on one
    * row sample drawn with `sampleSeed` for all of them and the features
    * in `indices` (of `nf`). Under `newton` each fits -grad/hess with
    * weight x hess (the hessians are null otherwise).
    */
  def fitGradients(
      rows: RDD[(R, Array[Double], Array[Double])],
      dim: Int,
      est: GBMParams,
      nf: Int,
      indices: Array[Int],
      sampleSeed: Long,
      newton: Boolean,
      ec: ExecutionContext): Array[EnsemblePredictionModelType]

  /** `model`'s prediction of a row, the model fit on the features in
    * `indices` (all of them when null).
    */
  def predictor(model: EnsemblePredictionModelType, indices: Array[Int]): R => Double

  /** For each task, a function of a row: `f` of the class probabilities
    * `model` gives it.
    */
  def byProbability(
      model: EnsemblePredictionModelType,
      f: Array[Double] => Array[Double]): () => R => Array[Double]

  def close(): Unit = {
    if (state != null) state.close()
    if (roundBlocks != null) roundBlocks.unpersist(blocking = false)
    blocks.foreach(_.unpersist(blocking = false))
  }
}

private[graft] object BoostBackend {

  /** The backend of a boosting fit of `learner` over `instances` (label,
    * weight, features and, with `hasVal`, the validation flag `__val`):
    * [[BinnedRows]] where `binnable` holds and [[NativeTreeBoost.apply]]
    * takes the learner, else [[PredictorRows]]. `numClasses` is as in
    * [[NativeTreeBoost.apply]], `sumOneWeights` as in [[NativeTreeBoost]].
    */
  def apply(
      learner: EnsemblePredictorType,
      instances: DataFrame,
      numClasses: Int,
      binnable: Boolean = true,
      sumOneWeights: Boolean = false,
      hasVal: Boolean = false): BoostBackend[_] = {
    val rows = instances
      .select(col("label"), col("weight"), col("features"), if (hasVal) col("__val") else lit(false))
      .rdd
      .map(r => (Instance(r.getDouble(0), r.getDouble(1), r.getAs[Vector](2)), r.getBoolean(3)))
    NativeTreeBoost(learner, instances.schema("features"), numClasses, sumOneWeights = sumOneWeights)
      .filter(_ => binnable)
      .map(new BinnedRows(instances, rows, _))
      .getOrElse(new PredictorRows(instances, rows, learner))
  }
}

/** Any spark.ml predictor as the base learner: rows are `Instance`s, and
  * every round re-enters the learner's own `fit` on a DataFrame built from
  * the state under the input's schema, so the features metadata is kept.
  * Its rows are those of the input in its partitioning and order, so the
  * row sample `SubBagFit.sample` draws is the one it draws from the input.
  * A model predicts a row with `predict` / `predictProbability`.
  */
private[graft] final class PredictorRows(
    instances: DataFrame,
    input: RDD[(Instance, Boolean)],
    learner: EnsemblePredictorType) extends BoostBackend[Instance](instances) {
  val label: Instance => Double = _.label
  val weight: Instance => Double = _.weight
  private val columns = Seq("label", "weight", "features").map(instances.schema(_))

  protected def rows[S: ClassTag](s0: Instance => S): RDD[(Instance, Boolean, S)] =
    input.map { case (i, v) => (i, v, s0(i)) }

  /** A DataFrame of each instance's label, weight and features under the
    * input's schema, followed by its values `x` as the `extra` columns.
    */
  private def frame(data: RDD[(Instance, Seq[Any])], extra: StructField*): DataFrame =
    spark.createDataFrame(
      data.map { case (i, x) => Row.fromSeq(Seq(i.label, i.weight, i.features) ++ x) },
      StructType(columns ++ extra))

  def fitWeighted(rows: RDD[(Instance, Double)], round: Int): EnsemblePredictionModelType =
    Learners.fit(
      learner, frame(rows.map { case (i, w) => (i, Seq(w)) }, StructField("__bwn", DoubleType)),
      "label", "features", Some("__bwn"), weightRequired = true)

  def fitGradients(
      rows: RDD[(Instance, Array[Double], Array[Double])],
      dim: Int,
      est: GBMParams,
      nf: Int,
      indices: Array[Int],
      sampleSeed: Long,
      newton: Boolean,
      ec: ExecutionContext): Array[EnsemblePredictionModelType] = {
    val vec = ArrayType(DoubleType, containsNull = false)
    val df =
      if (newton) {
        frame(rows.map { case (i, r, h) => (i, Seq(r.toSeq, h.toSeq)) },
          StructField("__r", vec), StructField("__h", vec))
      } else frame(rows.map { case (i, r, _) => (i, Seq(r.toSeq)) }, StructField("__r", vec))
    val fitBase = SubBagFit.sliceFeatures(
      SubBagFit.sample(df, est.getReplacement, est.getSubsampleRatio, sampleSeed),
      indices, nf, "__sf")
    val featCol = if (indices.length == nf) "features" else "__sf"
    // fused multi-target fit first: one job for all K dimensions when the
    // base learner's fit is a single aggregation (K separate fit actions
    // are K job floors on a small-partition input); the same
    // per-dimension (label, weight) expressions feed both paths
    val targets = IndexedSeq.tabulate(dim) { k =>
      val rk = element_at(col("__r"), k + 1)
      if (newton) {
        val hk = element_at(col("__h"), k + 1)
        (rk / hk, col("weight") * hk)
      } else (rk, col("weight"))
    }
    Learners.fitMulti(learner, fitBase, targets).getOrElse {
      fitBase.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val futures = Array.tabulate(dim) { k =>
          Future {
            Learners.fit(
              learner,
              fitBase.withColumn("__rk", targets(k)._1).withColumn("__wk", targets(k)._2),
              "__rk", featCol, Some("__wk"), weightRequired = newton)
          }(ec)
        }
        // a failed fit rethrows its own exception (ThreadUtils.awaitResult
        // would wrap it in a SparkException)
        futures.map(Await.result(_, Duration.Inf))
      } finally fitBase.unpersist()
    }
  }

  def predictor(model: EnsemblePredictionModelType, indices: Array[Int]): Instance => Double = {
    i =>
      val x = i.features
      model.predict(
        if (indices == null || indices.length == x.size) x else GraftUtils.sliceVector(x, indices))
  }

  def byProbability(
      model: EnsemblePredictionModelType,
      f: Array[Double] => Array[Double]): () => Instance => Array[Double] = {
    val m = model.asInstanceOf[ProbabilisticClassificationModel[Vector, _]]
    () => i => f(m.predictProbability(i.features).toArray)
  }
}

/** A Spark DecisionTree as the base learner over the bin-once
  * [[NativeTreeBoost]]: rows are `TreePoint`s binned once per fit with
  * the training splits (validation rows too, which never reach the
  * induction), shared by all rounds and by the K per-dimension fits of a
  * GBM round, where the `Predictor` backend re-pays the binning i*K times.
  * A round's trees are a relabeling or reweighting map and the core
  * induction; an AdaBoost tree is Spark's fit of the same weights, and a
  * GBM round's trees equal the `Predictor` backend's at subsampleRatio 1
  * because candidate splits depend on feature values and the constant
  * gradient-update weights only, never on the residual labels (pinned by
  * GBMSuite). A tree predicts a row by its binned leaf lookup, exact for
  * points binned with the fitted splits, with no per-row Vector boxing.
  */
private[graft] final class BinnedRows(
    instances: DataFrame,
    input: RDD[(Instance, Boolean)],
    induction: RDD[Instance] => NativeTreeBoost) extends BoostBackend[TreePoint](instances) {
  val label: TreePoint => Double = _.label
  val weight: TreePoint => Double = _.weight
  private val cached = cache(input)
  private val boost =
    try induction(cached.filter(!_._2).map(_._1))
    catch { case e: Throwable => close(); throw e }

  /** The one zip of the fit: a binned point has no features left to start
    * the state from.
    */
  protected def rows[S: ClassTag](s0: Instance => S): RDD[(TreePoint, Boolean, S)] = {
    val tw = boost.weightScale
    val scaled = cached.map { case (i, v) => (Instance(i.label, i.weight / tw, i.features), v) }
    NativeTreeBoost.zip(boost.bin(scaled.map(_._1)), scaled).map { case (tp, (i, v)) =>
      (tp, v, s0(i))
    }
  }

  def fitWeighted(rows: RDD[(TreePoint, Double)], round: Int): EnsemblePredictionModelType =
    boost.fitTrees(
      rows.map { case (tp, w) => new TreePoint(tp.label, tp.binnedFeatures, w) },
      1.0, replacement = false, boost.dtSeed + round).head.asInstanceOf[EnsemblePredictionModelType]

  /** The joint subsample of all dimensions is one `BaggedPoint` pass (the
    * `Predictor` backend samples once and shares its frame the same way),
    * and each dimension's tree a relabeling map and the induction, on `ec`.
    */
  def fitGradients(
      rows: RDD[(TreePoint, Array[Double], Array[Double])],
      dim: Int,
      est: GBMParams,
      nf: Int,
      indices: Array[Int],
      sampleSeed: Long,
      newton: Boolean,
      ec: ExecutionContext): Array[EnsemblePredictionModelType] = {
    val (bagged, handle) = NativeTreeBoost.cacheBlocks(BaggedPoint.convertToBaggedRDD(
      rows, est.getSubsampleRatio, 1, est.getReplacement,
      (t: (TreePoint, Array[Double], Array[Double])) => t._1.weight, sampleSeed))
    try {
      val futures = Array.tabulate(dim) { k =>
        Future {
          boost.grow(bagged.map { bp =>
            new BaggedPoint(
              new TreePoint(bp.datum._2(k), bp.datum._1.binnedFeatures, bp.datum._1.weight),
              bp.subsampleCounts, bp.sampleWeight)
          }).head.asInstanceOf[EnsemblePredictionModelType]
        }(ec)
      }
      futures.map(Await.result(_, Duration.Inf))
    } finally handle.unpersist(blocking = false)
  }

  def predictor(model: EnsemblePredictionModelType, indices: Array[Int]): TreePoint => Double = {
    val (root, splits) = (model.asInstanceOf[DecisionTreeModel].rootNode, boost.bcSplits)
    tp => root.predictBinned(tp.binnedFeatures, splits.value).prediction
  }

  /** `f` depends only on the leaf, so it is computed once per leaf in a
    * per-task identity cache instead of once per row — trees have tens of
    * leaves, rows are millions. Identity keying is safe here: within one
    * task the deserialized tree is a single object graph, so equal leaves
    * ARE the same reference.
    */
  def byProbability(
      model: EnsemblePredictionModelType,
      f: Array[Double] => Array[Double]): () => TreePoint => Array[Double] = {
    val (root, splits) = (model.asInstanceOf[DecisionTreeModel].rootNode, boost.bcSplits)
    () => {
      val cache = new java.util.IdentityHashMap[AnyRef, Array[Double]]()
      tp => {
        val leaf = root.predictBinned(tp.binnedFeatures, splits.value)
        var p = cache.get(leaf)
        if (p == null) {
          val stats = leaf.impurityStats.stats
          val tot = stats.sum
          p = f(stats.map(_ / tot))
          cache.put(leaf, p)
        }
        p
      }
    }
  }

  override def close(): Unit = {
    super.close()
    if (boost != null) boost.bcSplits.destroy()
  }
}
