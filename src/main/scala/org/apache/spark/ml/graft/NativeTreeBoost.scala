package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

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
  private val blocks = ArrayBuffer.empty[RDD[_]]

  private def cache[T: ClassTag](rdd: RDD[T]): RDD[T] = {
    val (rows, handle) = NativeTreeBoost.cacheBlocks(rdd)
    blocks += handle
    rows
  }

  private val rows: RDD[(Instance, Boolean)] = cache(instances
    .select(col("label"), col("weight"), col("features"), if (hasVal) col("__val") else lit(false))
    .rdd
    .map(r => (Instance(r.getDouble(0), r.getDouble(1), r.getAs[Vector](2)), r.getBoolean(3))))

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
  val treePoints: RDD[TreePoint] = cache(TreePoint.convertToTreeRDD(train, splits, metadata))
  val valPoints: RDD[TreePoint] =
    if (hasVal) cache(TreePoint.convertToTreeRDD(valid, splits, metadata)) else null

  private val checkpointers = ArrayBuffer.empty[PeriodicRDDCheckpointer[_]]

  /** Per-row loop state (boost weights, running scores) aligned with the
    * RDD it is derived from. Every value is cached as blocks and registered
    * with its own checkpointer, which bounds the lineage. `set` runs no
    * job: the next job that reads `rdd` materializes the value (and
    * checkpoints it when due), so the caller keeps the new value's parents
    * cached until that job has run. The checkpointer keeps the last three
    * values cached, so the value before is one of them.
    */
  final class State[T: ClassTag](initial: RDD[T]) {
    private val ck = new PeriodicRDDCheckpointer[Array[T]](checkpointInterval, sc)
    checkpointers += ck
    var rdd: RDD[T] = _
    set(initial)

    def set(next: RDD[T]): Unit = {
      val (rows, handle) = NativeTreeBoost.cacheBlocks(next)
      // already persisted, so the checkpointer keeps its storage level
      ck.update(handle)
      rdd = rows
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
    val (bagged, handle) = NativeTreeBoost.cacheBlocks(BaggedPoint.convertToBaggedRDD(
      points, rate, 1, replacement, (tp: TreePoint) => tp.weight, sampleSeed))
    try grow(bagged)
    finally handle.unpersist(blocking = false)
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
    blocks.foreach(_.unpersist(blocking = false))
    bcSplits.destroy()
  }
}

private[graft] object NativeTreeBoost {

  /** `rdd` cached as ONE array per partition at `MEMORY_AND_DISK`: returns
    * the row view (the same rows, in the same order and partitioning) and
    * the block RDD, the handle whose `unpersist` frees the cache. Nothing
    * runs here; the first job that reads the view materializes the blocks.
    * A row-wise cache is sized by Spark's `SizeTracker`, which walks a
    * sample of the growing row vector every few rows; a block is sized
    * once. The price: a block holds its whole partition on the heap while
    * it is built, where the row-wise cache could stream a partition that
    * does not fit in memory to disk.
    */
  def cacheBlocks[T: ClassTag](rdd: RDD[T]): (RDD[T], RDD[Array[T]]) = {
    val blocks = rdd
      .mapPartitions(it => Iterator.single(it.toArray), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    (blocks.mapPartitions(_.flatMap(_.iterator), preservesPartitioning = true), blocks)
  }

  /** Deterministic distributed aggregate: per-partition partials, folded
    * with `combOp` in PARTITION ORDER on the driver. `RDD.treeAggregate`
    * and `RDD.sum` fold partition results in task-completion order, which
    * perturbs float sums by ulps from run to run — enough to flip a split
    * choice or send a line search down another path. One job, like the
    * `treeAggregate` it replaces. Each task gets its own copy of `zero`,
    * and the driver folds into `zero` itself, so a mutable accumulator may
    * be updated in place.
    */
  def orderedAggregate[T, U: ClassTag](rdd: RDD[T], zero: U)(
      seqOp: (U, T) => U,
      combOp: (U, U) => U): U =
    rdd.mapPartitions(it => Iterator.single(it.foldLeft(zero)(seqOp)))
      .collect()
      .foldLeft(zero)(combOp)

  def orderedSum(rdd: RDD[Double]): Double = orderedAggregate(rdd, 0.0)(_ + _, _ + _)
}
