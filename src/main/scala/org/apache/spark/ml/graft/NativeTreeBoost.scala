package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.tree.{DecisionTreeModel, Split}
import org.apache.spark.ml.tree.impl.{
  BaggedPoint, DecisionTreeMetadata, GraftTreeShim, RandomForest, TreePoint
}
import org.apache.spark.mllib.tree.configuration.{Strategy => OldStrategy}
import org.apache.spark.rdd.RDD
import org.apache.spark.rdd.util.PeriodicRDDCheckpointer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

/** Bin-once state of the DecisionTree learner backend that the GBM and
  * AdaBoost loops share: metadata, candidate splits and the binned
  * `TreePoint` table are built ONCE per fit (the native GBT/RandomForest
  * trick), and each round only relabels or reweights the binned points and
  * runs the core induction (`RandomForest.runBagged`). The other backend
  * re-enters the base learner's own `fit` every round and so re-pays the
  * binning per round.
  *
  * The estimators pick this backend from the input alone, with no option
  * to override it: the base learner is a Spark DecisionTree and the
  * round's binning is provably the generic fit's (any other predictor,
  * including one that wraps a tree, takes the `Predictor` backend).
  * Candidate splits are quantiles of the feature values under the
  * instance weights, so they are round-invariant only while the weights
  * that shape them are: GBM with gradient
  * updates and the full feature space (newton reweights rows by the
  * hessian, a subspace changes the feature set) and AdaBoost, whose fixed
  * grid is computed once from the sum-1 instance weights (the
  * hist-gradient-boosting convention) while each round's tree still fits the
  * exact current boost weights through the `TreePoint` weights.
  *
  * Weight scale (`sumOneWeights`, AdaBoost): the instance weights are
  * normalized to SUM 1 before metadata/split building, because
  * `DecisionTreeMetadata` bakes `minWeightPerNode =
  * minWeightFractionPerNode * weightedNumExamples` at build time and every
  * AdaBoost round trains on weights re-normalized to sum 1 — the raw scale
  * would make the fraction threshold unsatisfiable. Split candidates are
  * weighted quantiles and therefore scale-invariant, and so are all AdaBoost
  * statistics. GBM keeps the raw weights its generic fit sees.
  *
  * Rows with `__val` set (GBM validation) are binned with the training
  * splits into `valPoints` and never reach the induction.
  */
private[graft] final class NativeTreeBoost(
    instances: DataFrame,
    strategy: OldStrategy,
    val dtSeed: Long,
    checkpointInterval: Int,
    sumOneWeights: Boolean,
    hasVal: Boolean) {

  private val sc = instances.sparkSession.sparkContext

  private val rows: RDD[(Instance, Boolean)] = instances
    .select(col("label"), col("weight"), col("features"), if (hasVal) col("__val") else lit(false))
    .rdd
    .map(r => (Instance(r.getDouble(0), r.getDouble(1), r.getAs[Vector](2)), r.getBoolean(3)))
  rows.persist(StorageLevel.MEMORY_AND_DISK)

  /** Training instances on the scale the induction sees. */
  val train: RDD[Instance] = {
    val fit = rows.filter(!_._2).map(_._1)
    if (!sumOneWeights) fit
    else {
      val tw = NativeTreeBoost.orderedSum(fit.map(_.weight))
      require(tw > 0.0, s"boosting needs positive total instance weight, got $tw")
      fit.map(i => Instance(i.label, i.weight / tw, i.features))
    }
  }
  val valid: RDD[Instance] = rows.filter(_._2).map(_._1)

  private val metadata = DecisionTreeMetadata.buildMetadata(train, strategy, numTrees = 1, "all")
  private val splits = GraftTreeShim.findSplits(train, metadata, dtSeed)
  val bcSplits: Broadcast[Array[Array[Split]]] = sc.broadcast(splits)
  val treePoints: RDD[TreePoint] = TreePoint.convertToTreeRDD(train, splits, metadata)
    .persist(StorageLevel.MEMORY_AND_DISK)
  val valPoints: RDD[TreePoint] =
    if (hasVal) TreePoint.convertToTreeRDD(valid, splits, metadata)
      .persist(StorageLevel.MEMORY_AND_DISK)
    else null

  private val checkpointers = ArrayBuffer.empty[PeriodicRDDCheckpointer[_]]

  /** Per-row loop state (boost weights, running scores) aligned with the
    * RDD it is derived from. Every value is registered with its own
    * checkpointer, which bounds the lineage, and materialized at once.
    */
  final class State[T](initial: RDD[T]) {
    private val ck = new PeriodicRDDCheckpointer[T](checkpointInterval, sc)
    checkpointers += ck
    var rdd: RDD[T] = _
    set(initial)

    def set(next: RDD[T]): Unit = {
      ck.update(next)
      next.count()
      rdd = next
    }
  }

  /** One tree on `points` (the binned table reweighted for the round),
    * row-sampled like the generic fit.
    */
  def fitTree(
      points: RDD[TreePoint],
      rate: Double,
      replacement: Boolean,
      sampleSeed: Long): DecisionTreeModel = {
    val bagged = BaggedPoint.convertToBaggedRDD(
      points, rate, 1, replacement, (tp: TreePoint) => tp.weight, sampleSeed)
    bagged.persist(StorageLevel.MEMORY_AND_DISK)
    try grow(bagged)
    finally bagged.unpersist(blocking = false)
  }

  /** The core induction over an already-sampled binned table. */
  def grow(bagged: RDD[BaggedPoint[TreePoint]]): DecisionTreeModel =
    RandomForest.runBagged(bagged, metadata, bcSplits, strategy, 1, "all", dtSeed, None).head

  /** Always runs (the loops call it from `finally`): frees the state caches
    * and checkpoint files, the binned tables, the instance cache and the
    * splits broadcast — a failed fit must not leak reliable checkpoint
    * directories (ContextCleaner never deletes them) or corpus-sized cached
    * RDDs into the surviving session.
    */
  def close(): Unit = {
    checkpointers.foreach { ck => ck.unpersistDataSet(); ck.deleteAllCheckpoints() }
    treePoints.unpersist(blocking = false)
    if (valPoints != null) valPoints.unpersist(blocking = false)
    rows.unpersist(blocking = false)
    bcSplits.destroy()
  }
}

private[graft] object NativeTreeBoost {

  /** Deterministic distributed double sum: per-partition sums combined in
    * PARTITION ORDER on the driver. `RDD.sum` folds partition results in
    * task-completion order, which perturbs float sums by ulps run-to-run —
    * enough to flip a split choice and break the backend's
    * same-seed-same-model guarantee.
    */
  def orderedSum(rdd: RDD[Double]): Double =
    rdd.mapPartitionsWithIndex { (i, it) =>
        var s = 0.0
        it.foreach(s += _)
        Iterator.single((i, s))
      }
      .collect()
      .sortBy(_._1)
      .foldLeft(0.0)(_ + _._2)
}
