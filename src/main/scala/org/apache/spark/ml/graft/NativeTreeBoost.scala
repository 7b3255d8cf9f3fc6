package org.apache.spark.ml.graft

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.errors.SparkCoreErrors
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.ml.tree.{DecisionTreeModel, DecisionTreeParams, Split}
import org.apache.spark.ml.tree.impl.{BaggedPoint, DecisionTreeMetadata, GraftTreeShim, TreePoint}
import org.apache.spark.ml.util.MetadataUtils
import org.apache.spark.mllib.tree.configuration.{Algo => OldAlgo, Strategy => OldStrategy}
import org.apache.spark.mllib.tree.impurity.{Impurity => OldImpurity}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.types.StructField
import org.apache.spark.storage.StorageLevel

/** The bin-once DecisionTree backend's binning and induction, which the
  * GBM, AdaBoost and bagging fits share: metadata, candidate splits and
  * the binned `TreePoint`s are built ONCE per fit (the native
  * GBT/RandomForest trick), and each boosting round only relabels or
  * reweights the binned points and runs the core induction; bagging runs
  * one induction of all its trees. The `Predictor` backend
  * ([[PredictorRows]]) re-enters the base learner's own `fit` every round
  * (every bag) and so re-pays the binning each time. The rows, their loop
  * state and their caches belong to the caller ([[BinnedRows]], bagging).
  *
  * The induction is graft's level loop, [[GraftTreeShim.grow]], with the
  * node groups, histograms and node updates of Spark's
  * `RandomForest.runBagged` at featureSubsetStrategy "all". The size of
  * the input picks where the histograms are filled and merged: up to
  * [[GraftTreeShim.OneTaskCells]] (about 2.1M) rows x features x trees,
  * the whole induction runs in one single-task job, which merges the
  * partitions' histograms in partition order; above it, each node group
  * is one two-stage job whose per-partition histograms are merged by node
  * on the executors, the best split chosen there, and only the chosen
  * splits sent to the driver. The bound is the size at which one level's
  * fill in one task costs what a level job costs (23 ms per level job,
  * 11 ns of fill per row, feature and tree, measured on 4 cores). Either
  * way the trees are Spark's, tree for tree (BaggingSuite), and callers
  * need not know which path ran. The learner's `cacheNodeIds` is ignored:
  * the node-id cache changes how a point finds its node, not which node,
  * so it cannot change a tree.
  *
  * [[NativeTreeBoost.apply]] picks this backend from the input alone, with
  * no option to override it: the base learner is a Spark DecisionTree and
  * the round's binning is provably the generic fit's (any other predictor,
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
  * divided by their sum ([[weightScale]]) before metadata/split building,
  * because `DecisionTreeMetadata` bakes `minWeightPerNode =
  * minWeightFractionPerNode * weightedNumExamples` at build time and every
  * AdaBoost round trains on weights re-normalized to sum 1 — the raw scale
  * would make the fraction threshold unsatisfiable. Split candidates are
  * weighted quantiles and therefore scale-invariant, and so are all AdaBoost
  * statistics. GBM keeps the raw weights its generic fit sees.
  */
private[graft] final class NativeTreeBoost private (
    train: RDD[Instance],
    strategy: OldStrategy,
    val dtSeed: Long,
    numTrees: Int,
    sumOneWeights: Boolean) {

  /** What the instance weights are divided by before binning: their sum
    * under `sumOneWeights`, else 1 (which leaves every weight as it is).
    */
  val weightScale: Double =
    if (!sumOneWeights) 1.0
    else {
      val tw = NativeTreeBoost.orderedSum(train.map(_.weight))
      require(tw > 0.0, s"boosting needs positive total instance weight, got $tw")
      tw
    }

  private val scaled =
    if (!sumOneWeights) train
    else {
      val tw = weightScale
      train.map(i => Instance(i.label, i.weight / tw, i.features))
    }
  private val metadata = DecisionTreeMetadata.buildMetadata(scaled, strategy, numTrees, "all")
  private val splits = GraftTreeShim.findSplits(scaled, metadata, dtSeed)
  val bcSplits: Broadcast[Array[Array[Split]]] = scaled.sparkContext.broadcast(splits)

  /** `instances`, their weights already divided by [[weightScale]], binned
    * with the training splits, row for row.
    */
  def bin(instances: RDD[Instance]): RDD[TreePoint] =
    TreePoint.convertToTreeRDD(instances, splits, metadata)

  /** The induction's `numTrees` trees on `points` (the binned table,
    * reweighted for the round), each on its own row sample drawn from one
    * `BaggedPoint` table: one count per tree and row, with `rate` and
    * `replacement` as the generic fit samples.
    */
  def fitTrees(
      points: RDD[TreePoint],
      rate: Double,
      replacement: Boolean,
      sampleSeed: Long): Array[DecisionTreeModel] = {
    val (bagged, handle) = NativeTreeBoost.cacheBlocks(BaggedPoint.convertToBaggedRDD(
      points, rate, numTrees, replacement, (tp: TreePoint) => tp.weight, sampleSeed))
    try grow(bagged)
    finally handle.unpersist(blocking = false)
  }

  /** The core induction over an already-sampled binned table: all
    * `numTrees` trees, in one job on a small input and one job per group
    * of open nodes on a large one ([[GraftTreeShim.grow]]).
    */
  def grow(bagged: RDD[BaggedPoint[TreePoint]]): Array[DecisionTreeModel] =
    GraftTreeShim.grow(bagged, metadata, bcSplits, strategy, numTrees, dtSeed)
}

private[graft] object NativeTreeBoost {

  /** The bin-once backend for `learner`, or None when the learner takes
    * the `Predictor` backend: the one place that decides. It takes a Spark
    * DecisionTreeRegressor, and a DecisionTreeClassifier when `numClasses`
    * > 0, the class count the caller resolved from the label metadata;
    * callers whose labels are not classes (a regressor's targets, GBM's
    * gradients) pass 0. The tree strategy is the one Spark's own fit of
    * that learner builds over the `features` column, the seed the
    * learner's. `numTrees` is the tree count of every induction. The
    * result builds the binning from the training instances, which the
    * caller caches: it reads them several times.
    */
  def apply(
      learner: EnsemblePredictorType,
      features: StructField,
      numClasses: Int,
      numTrees: Int = 1,
      sumOneWeights: Boolean = false): Option[RDD[Instance] => NativeTreeBoost] = {
    val tree: Option[(DecisionTreeParams, Int, OldAlgo.Algo, OldImpurity)] = learner match {
      case dt: DecisionTreeRegressor => Some((dt, 0, OldAlgo.Regression, dt.getOldImpurity))
      case dt: DecisionTreeClassifier if numClasses > 0 =>
        Some((dt, numClasses, OldAlgo.Classification, dt.getOldImpurity))
      case _ => None
    }
    tree.map { case (dt, k, algo, impurity) =>
      val strategy = dt.getOldStrategy(
        MetadataUtils.getCategoricalFeatures(features), k, algo, impurity, 1.0)
      train => new NativeTreeBoost(train, strategy, dt.getSeed, numTrees, sumOneWeights)
    }
  }

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
    * `treeAggregate` it replaces, through [[GraftTreeShim.runPartitions]]:
    * Spark cleans one small closure where `collect` has it parse `RDD`'s
    * and `SparkContext`'s bytecode. Each task gets its own copy of `zero`,
    * and the driver folds into `zero` itself, so a mutable accumulator may
    * be updated in place.
    */
  def orderedAggregate[T, U: ClassTag](rdd: RDD[T], zero: U)(
      seqOp: (U, T) => U,
      combOp: (U, U) => U): U =
    GraftTreeShim.runPartitions(rdd)(_.foldLeft(zero)(seqOp)).foldLeft(zero)(combOp)

  def orderedSum(rdd: RDD[Double]): Double = orderedAggregate(rdd, 0.0)(_ + _, _ + _)

  /** `a` and `b` row by row, as `RDD.zip` pairs them: the same partitions
    * (which must be as many on both sides), and a partition whose two
    * sides differ in length fails with `RDD.zip`'s exception. `RDD.zip`'s
    * own closure lives in `RDD`, whose bytecode Spark re-parses at every
    * call; this one lives in this small object.
    */
  def zip[A, B: ClassTag](a: RDD[A], b: RDD[B]): RDD[(A, B)] =
    a.zipPartitions(b) { (ia, ib) =>
      new Iterator[(A, B)] {
        def hasNext: Boolean = (ia.hasNext, ib.hasNext) match {
          case (true, true) => true
          case (false, false) => false
          case _ => throw SparkCoreErrors.canOnlyZipRDDsWithSamePartitionSizeError()
        }
        def next(): (A, B) = (ia.next(), ib.next())
      }
    }

}
