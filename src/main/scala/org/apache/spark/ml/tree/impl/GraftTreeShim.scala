package org.apache.spark.ml.tree.impl

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.util.Random

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.classification.DecisionTreeClassificationModel
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.impl.Utils
import org.apache.spark.ml.regression.DecisionTreeRegressionModel
import org.apache.spark.ml.tree.{DecisionTreeModel, LearningNode, Split}
import org.apache.spark.ml.tree.impl.RandomForest.NodeIndexInfo
import org.apache.spark.mllib.tree.configuration.{Algo => OldAlgo, Strategy => OldStrategy}
import org.apache.spark.mllib.tree.model.ImpurityStats
import org.apache.spark.rdd.RDD

/** The tree induction of graft's bin-once backend, `NativeTreeBoost`
  * (package ml.graft), in the package whose `private[tree]` members it
  * needs ([[RandomForest.findSplits]], `selectNodesToSplit`,
  * `binsToBestSplit`).
  *
  * [[grow]] is graft's own level loop with the node groups, histograms,
  * best splits, node updates and model classes of Spark's
  * `RandomForest.runBagged` (featureSubsetStrategy "all", no node-id
  * cache), so its trees are Spark's, tree for tree. The loop is written
  * once; only the source of a group's merged histograms depends on the
  * size of the input:
  *
  *  - up to [[OneTaskCells]] rows x features x trees, the whole induction
  *    runs in ONE single-stage job with one task, which sees every
  *    partition's rows, fills one histogram set per partition and merges
  *    the sets in partition order. In local mode the level loop's shuffle
  *    merges its partials in that order too, so the trees are the same;
  *    off local mode the order is still deterministic. No shuffle, and the
  *    driver gets the finished trees.
  *  - above it, one two-stage job per node group, `runBagged`'s dataflow:
  *    per-partition histograms merged by node in an executor-side shuffle,
  *    the best split chosen there, and only the chosen `(split, stats)`
  *    pairs sent to the driver.
  *
  * PLANET (Panda et al., VLDB 2009) finishes a node on one machine once
  * its rows fit there; here the choice is made once per induction, for
  * all of it. Growing the upper levels distributed and the subtrees in
  * one task needs a shuffle of rows by node and is not done.
  *
  * Every closure lives in this small object and results return through the
  * four-argument `SparkContext.runJob`: Spark cleans every closure it is
  * handed by re-reading and parsing the bytecode of the class that defines
  * it, and `runBagged`'s closures live in `RandomForest`,
  * `PairRDDFunctions`, `RDD` and `SparkContext`, Spark's largest classes.
  * With all features at every node there is no per-level broadcast of
  * node feature subsets either.
  *
  * `cacheNodeIds` is not ported: it changes how a point finds its node,
  * not which node it finds, so it has no effect on the trees, and each
  * point walks from its tree's root as Spark does without the cache.
  */
private[spark] object GraftTreeShim {

  /** Wall time of one level job (a 15 ms map stage, most of it task
    * deserialization, and a 7 ms merge stage): the median over the level
    * jobs of `perfbench` `ensemble-fit` on `local[4]` (4 cores).
    */
  private val LevelJobNanos = 23000000L

  /** Histogram fill per row, feature and tree, from JFR on the same host
    * and runs: about 1.8 ms of level-fill CPU per level job over
    * 20k x 8 cells. The one task's own fill, timed on that host, reads
    * 10.8-11.1 ns at 1.6M rows x 8 features.
    */
  private val FillNanosPerCell = 11L

  /** The largest input, in rows x features x trees, whose induction runs
    * in one task (about 2.1M). At this size one level's fill in one task
    * costs about the level job it replaces; below it the one task wins
    * at every level. A property of the input, not a setting.
    */
  val OneTaskCells: Long = LevelJobNanos / FillNanosPerCell

  /** Candidate split thresholds per feature — computed ONCE per fit and
    * reused across boosting rounds and bagged trees (splits depend on
    * feature values and weights only, never on the labels being fit).
    */
  def findSplits(
      input: RDD[Instance],
      metadata: DecisionTreeMetadata,
      seed: Long): Array[Array[Split]] =
    RandomForest.findSplits(input, metadata, seed)

  /** `f` of every partition of `rdd`, in partition order: one job, whose
    * only cleaned closure is the wrapper below (this object's bytecode is
    * a small fraction of `RDD`'s and `SparkContext`'s, which `collect`
    * makes Spark parse).
    */
  def runPartitions[T, U: ClassTag](rdd: RDD[T])(f: Iterator[T] => U): Array[U] = {
    val out = new Array[U](rdd.partitions.length)
    rdd.sparkContext.runJob(
      rdd, (_: TaskContext, it: Iterator[T]) => f(it), out.indices, (i: Int, u: U) => out(i) = u)
    out
  }

  /** `numTrees` trees over the sampled binned table `input`, each on its
    * own counts in `BaggedPoint.subsampleCounts`: one job in all when
    * `numExamples x numFeatures x numTrees` is at most [[OneTaskCells]],
    * else one job per group of nodes that `RandomForest.selectNodesToSplit`
    * picks under `maxMemoryInMB`. Reentrant (all state is local), so
    * several inductions may run at once on one context.
    */
  def grow(
      input: RDD[BaggedPoint[TreePoint]],
      metadata: DecisionTreeMetadata,
      bcSplits: Broadcast[Array[Array[Split]]],
      strategy: OldStrategy,
      numTrees: Int,
      seed: Long): Array[DecisionTreeModel] = {
    val maxDepth = strategy.maxDepth
    require(maxDepth <= 30,
      s"DecisionTree currently only supports maxDepth <= 30, but was given maxDepth = $maxDepth.")
    require(!metadata.subsamplingFeatures, "the level loop grows on all features at every node")
    val maxMemoryUsage = strategy.maxMemoryInMB * 1024L * 1024L
    val topNodes =
      if (metadata.numExamples * metadata.numFeatures * numTrees <= OneTaskCells) {
        // one task, which must see where each partition ends: coalesce
        // does not promise its parents' order, the index does
        val parts = input.mapPartitionsWithIndex((i, it) => Iterator((i, it.toArray))).coalesce(1)
        runPartitions(parts) { it =>
          val rows = it.toArray.sortBy(_._1).map(_._2)
          val splits = bcSplits.value
          levelLoop(metadata, maxMemoryUsage, numTrees, seed)(
            localBestSplits(rows, metadata, splits))
        }.head
      } else {
        levelLoop(metadata, maxMemoryUsage, numTrees, seed)(
          distributedBestSplits(input, metadata, bcSplits))
      }
    val numFeatures = metadata.numFeatures
    topNodes.map { root =>
      val node = root.toNode(true)
      if (strategy.algo == OldAlgo.Classification) {
        new DecisionTreeClassificationModel(node, numFeatures, strategy.getNumClasses())
      } else new DecisionTreeRegressionModel(node, numFeatures)
    }
  }

  /** The open nodes of one level step, as the histogram fill reads them:
    * `nodes` by slot (the node's `nodeIndexInGroup`), and for each tree
    * with a node in the group its index, its root, and its nodes' ids in
    * ascending order beside their slots. Node ids reach 2^31 at depth 30,
    * so the lookup searches the sorted ids rather than indexing by id.
    */
  private final class Group(
      val nodes: Array[LearningNode],
      val trees: Array[Int],
      val roots: Array[LearningNode],
      ids: Array[Array[Int]],
      slots: Array[Array[Int]]) extends Serializable {

    /** The slot of node `id` of the group's `g`-th tree, or -1. */
    def slot(g: Int, id: Int): Int = {
      val k = java.util.Arrays.binarySearch(ids(g), id)
      if (k >= 0) slots(g)(k) else -1
    }
  }

  private object Group {
    def apply(
        topNodes: Array[LearningNode],
        nodesForGroup: Map[Int, Array[LearningNode]],
        treeToNodeToIndexInfo: Map[Int, Map[Int, NodeIndexInfo]]): Group = {
      val nodes = new Array[LearningNode](nodesForGroup.values.map(_.length).sum)
      nodesForGroup.foreach { case (t, nodesForTree) =>
        nodesForTree.foreach(n => nodes(treeToNodeToIndexInfo(t)(n.id).nodeIndexInGroup) = n)
      }
      val trees = nodesForGroup.keys.toArray.sorted
      val byId = trees.map(t => treeToNodeToIndexInfo(t).toArray.sortBy(_._1))
      new Group(nodes, trees, trees.map(topNodes), byId.map(_.map(_._1)),
        byId.map(_.map(_._2.nodeIndexInGroup)))
    }
  }

  /** The level loop: the trees' open nodes on a stack, taken off in groups
    * under `maxMemoryUsage`; `bestSplits` gives the best split of every
    * node of a group by slot, and the nodes are updated and their children
    * still to split pushed. Returns the roots.
    */
  private def levelLoop(
      metadata: DecisionTreeMetadata,
      maxMemoryUsage: Long,
      numTrees: Int,
      seed: Long)(bestSplits: Group => Array[(Split, ImpurityStats)]): Array[LearningNode] = {
    val rng = new Random(seed)
    val topNodes = Array.fill(numTrees)(LearningNode.emptyNode(1))
    // a stack, as in Spark: children are pushed on top, so one tree is
    // finished before the next and each group holds fewer trees
    val nodeStack = mutable.ListBuffer.empty[(Int, LearningNode)]
    topNodes.indices.foreach(t => nodeStack.prepend((t, topNodes(t))))
    while (nodeStack.nonEmpty) {
      val (nodesForGroup, treeToNodeToIndexInfo) =
        RandomForest.selectNodesToSplit(nodeStack, maxMemoryUsage, metadata, rng)
      val best = bestSplits(Group(topNodes, nodesForGroup, treeToNodeToIndexInfo))
      nodesForGroup.foreach { case (t, nodesForTree) =>
        nodesForTree.foreach { node =>
          val (split, stats) = best(treeToNodeToIndexInfo(t)(node.id).nodeIndexInGroup)
          val level = LearningNode.indexToLevel(node.id)
          node.isLeaf = stats.gain <= 0 || level == metadata.maxDepth
          node.stats = stats
          if (!node.isLeaf) {
            node.split = Some(split)
            val childIsLeaf = level + 1 == metadata.maxDepth
            val leftIsLeaf = childIsLeaf || math.abs(stats.leftImpurity) < Utils.EPSILON
            val rightIsLeaf = childIsLeaf || math.abs(stats.rightImpurity) < Utils.EPSILON
            node.leftChild = Some(LearningNode(LearningNode.leftChildIndex(node.id), leftIsLeaf,
              ImpurityStats.getEmptyImpurityStats(stats.leftImpurityCalculator)))
            node.rightChild = Some(LearningNode(LearningNode.rightChildIndex(node.id), rightIsLeaf,
              ImpurityStats.getEmptyImpurityStats(stats.rightImpurityCalculator)))
            if (!leftIsLeaf) nodeStack.prepend((t, node.leftChild.get))
            if (!rightIsLeaf) nodeStack.prepend((t, node.rightChild.get))
          }
        }
      }
    }
    topNodes
  }

  /** One level job: every partition's histograms, merged by node in a
    * shuffle (`reduceByKey` with this object's closures: the same
    * partitioner and map-side combine), and the best split of each node
    * chosen on the executors.
    */
  private def distributedBestSplits(
      input: RDD[BaggedPoint[TreePoint]],
      metadata: DecisionTreeMetadata,
      bcSplits: Broadcast[Array[Array[Split]]])(group: Group): Array[(Split, ImpurityStats)] = {
    val partitionAggregates = input.mapPartitions { points =>
      fill(points, group, metadata, bcSplits.value).iterator.zipWithIndex.map(_.swap)
    }
    val merge = (a: DTStatsAggregator, b: DTStatsAggregator) => a.merge(b)
    val merged = partitionAggregates.combineByKeyWithClassTag((a: DTStatsAggregator) => a,
      merge, merge, Partitioner.defaultPartitioner(partitionAggregates))
    val best = new Array[(Split, ImpurityStats)](group.nodes.length)
    runPartitions(merged) { aggs =>
      val splits = bcSplits.value
      aggs.map { case (i, agg) =>
        i -> RandomForest.binsToBestSplit(agg, splits, None, group.nodes(i))
      }.toArray
    }.foreach(_.foreach { case (i, b) => best(i) = b })
    best
  }

  /** The same in the one task: a histogram set per partition, each merged
    * into the first in partition order as soon as it is filled, so that
    * at most two sets are held, each the size the level loop bounds.
    */
  private def localBestSplits(
      partitions: Array[Array[BaggedPoint[TreePoint]]],
      metadata: DecisionTreeMetadata,
      splits: Array[Array[Split]])(group: Group): Array[(Split, ImpurityStats)] = {
    val merged = partitions.iterator.map(rows => fill(rows.iterator, group, metadata, splits))
      .reduceLeft { (a, b) => a.indices.foreach(i => a(i).merge(b(i))); a }
    Array.tabulate(merged.length)(i =>
      RandomForest.binsToBestSplit(merged(i), splits, None, group.nodes(i)))
  }

  /** One partition's histograms of `group`, by slot: every point walks each
    * of the group's trees from its root, and adds to the node it reaches
    * when that node is in the group. Each histogram takes its points in
    * row order, as Spark's `findBestSplits` adds them.
    */
  private def fill(
      points: Iterator[BaggedPoint[TreePoint]],
      group: Group,
      metadata: DecisionTreeMetadata,
      splits: Array[Array[Split]]): Array[DTStatsAggregator] = {
    val unordered = Array.tabulate(metadata.numFeatures)(metadata.isUnordered)
    val aggs = Array.fill(group.nodes.length)(new DTStatsAggregator(metadata, None))
    points.foreach { point =>
      var g = 0
      while (g < group.trees.length) {
        val slot = group.slot(g, group.roots(g).predictImpl(point.datum.binnedFeatures, splits))
        if (slot >= 0) binSeqOp(aggs(slot), point, group.trees(g), splits, unordered)
        g += 1
      }
    }
    aggs
  }

  /** Adds tree `t`'s copies of `point` to its node's histograms (Spark's
    * `nodeBinSeqOp` over all features): an ordered feature's bin is its
    * value; an unordered feature (a multiclass categorical of low arity)
    * adds to the left-side bin of every subset split that sends its value
    * left.
    */
  private def binSeqOp(
      agg: DTStatsAggregator,
      point: BaggedPoint[TreePoint],
      t: Int,
      splits: Array[Array[Split]],
      unordered: Array[Boolean]): Unit = {
    // plain vals: a tuple pattern allocates and boxes per point and tree
    val tp = point.datum
    val numSamples = point.subsampleCounts(t)
    val sampleWeight = point.sampleWeight
    var f = 0
    while (f < unordered.length) {
      val bin = tp.binnedFeatures(f)
      if (unordered(f)) {
        val offset = agg.getFeatureOffset(f)
        val featureSplits = splits(f)
        val numSplits = agg.metadata.numSplits(f)
        var s = 0
        while (s < numSplits) {
          if (featureSplits(s).shouldGoLeft(bin, featureSplits)) {
            agg.featureUpdate(offset, s, tp.label, numSamples, sampleWeight)
          }
          s += 1
        }
      } else agg.update(f, bin, tp.label, numSamples, sampleWeight)
      f += 1
    }
    agg.updateParent(tp.label, numSamples, sampleWeight)
  }
}
