package org.apache.spark.ml.tree.impl

import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.tree.Split
import org.apache.spark.rdd.RDD

/** Access shim: [[RandomForest.findSplits]] is `protected[tree]`, so
  * graft's bin-once tree backend, `NativeTreeBoost` (package ml.graft),
  * cannot call it directly. Everything else it needs (TreePoint /
  * BaggedPoint / runBagged / DecisionTreeMetadata) is `private[spark]`
  * and reachable.
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
}
