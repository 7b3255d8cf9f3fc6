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
  * [[grow]] is graft's own level loop with the dataflow of Spark's
  * `RandomForest.runBagged` (featureSubsetStrategy "all", no node-id
  * cache): the same node groups, per-partition histograms, executor-side
  * merge by node, best split per node on the executors, and the same
  * node updates and model classes, so its trees are Spark's, tree for
  * tree. Only the chosen `(split, stats)` pairs reach the driver. What
  * differs is the driver's work per level: Spark cleans every closure it
  * is handed by re-reading and parsing the bytecode of the class that
  * defines it, and `runBagged`'s level step keeps its closures in
  * `RandomForest`, `PairRDDFunctions`, `RDD` and `SparkContext`, Spark's
  * largest classes. Here every closure lives in this small object and the
  * results return through the four-argument `SparkContext.runJob`, which
  * cleans only the function it is given; with all features at every node
  * there is no per-level broadcast of node feature subsets either.
  *
  * `cacheNodeIds` is not ported: it changes how a point finds its node,
  * not which node it finds, so it has no effect on the trees, and each
  * point walks from its tree's root as Spark does without the cache.
  */
private[spark] object GraftTreeShim {

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
    * own counts in `BaggedPoint.subsampleCounts`: one job per group of
    * nodes that `RandomForest.selectNodesToSplit` picks under
    * `maxMemoryInMB`. Reentrant (all state is local), so several trees
    * may grow at once on one context.
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
    val rng = new Random(seed)
    val topNodes = Array.fill(numTrees)(LearningNode.emptyNode(1))
    // a stack, as in Spark: children are pushed on top, so one tree is
    // finished before the next and each job ships fewer trees
    val nodeStack = mutable.ListBuffer.empty[(Int, LearningNode)]
    topNodes.indices.foreach(t => nodeStack.prepend((t, topNodes(t))))
    while (nodeStack.nonEmpty) {
      val (nodesForGroup, treeToNodeToIndexInfo) =
        RandomForest.selectNodesToSplit(nodeStack, maxMemoryUsage, metadata, rng)
      splitGroup(input, metadata, bcSplits, topNodes, nodesForGroup, treeToNodeToIndexInfo,
        nodeStack)
    }
    val numFeatures = metadata.numFeatures
    topNodes.map { root =>
      val node = root.toNode(true)
      if (strategy.algo == OldAlgo.Classification) {
        new DecisionTreeClassificationModel(node, numFeatures, strategy.getNumClasses())
      } else new DecisionTreeRegressionModel(node, numFeatures)
    }
  }

  /** One level step: the best split of every node in the group, then the
    * node updates and the children still to split pushed on the stack.
    */
  private def splitGroup(
      input: RDD[BaggedPoint[TreePoint]],
      metadata: DecisionTreeMetadata,
      bcSplits: Broadcast[Array[Array[Split]]],
      topNodes: Array[LearningNode],
      nodesForGroup: Map[Int, Array[LearningNode]],
      treeToNodeToIndexInfo: Map[Int, Map[Int, NodeIndexInfo]],
      nodeStack: mutable.ListBuffer[(Int, LearningNode)]): Unit = {
    val nodes = new Array[LearningNode](nodesForGroup.values.map(_.length).sum)
    nodesForGroup.foreach { case (t, nodesForTree) =>
      nodesForTree.foreach(n => nodes(treeToNodeToIndexInfo(t)(n.id).nodeIndexInGroup) = n)
    }
    // only the trees with a node in the group are shipped
    val topNodesForGroup = nodesForGroup.keys.map(t => t -> topNodes(t)).toMap
    val numNodes = nodes.length

    val partitionAggregates = input.mapPartitions { points =>
      val splits = bcSplits.value
      val unordered = Array.tabulate(metadata.numFeatures)(metadata.isUnordered)
      val aggs = Array.fill(numNodes)(new DTStatsAggregator(metadata, None))
      points.foreach { point =>
        treeToNodeToIndexInfo.foreach { case (t, nodeToInfo) =>
          val node = topNodesForGroup(t).predictImpl(point.datum.binnedFeatures, splits)
          nodeToInfo.get(node).foreach { info =>
            binSeqOp(aggs(info.nodeIndexInGroup), point, t, splits, unordered)
          }
        }
      }
      aggs.iterator.zipWithIndex.map(_.swap)
    }
    // `reduceByKey` with this object's closures: the same partitioner,
    // map-side combine and shuffle
    val merge = (a: DTStatsAggregator, b: DTStatsAggregator) => a.merge(b)
    val merged = partitionAggregates.combineByKeyWithClassTag((a: DTStatsAggregator) => a,
      merge, merge, Partitioner.defaultPartitioner(partitionAggregates))
    val best: Map[Int, (Split, ImpurityStats)] = runPartitions(merged) { aggs =>
      val splits = bcSplits.value
      aggs.map { case (i, agg) => i -> RandomForest.binsToBestSplit(agg, splits, None, nodes(i)) }
        .toArray
    }.iterator.flatten.toMap

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
