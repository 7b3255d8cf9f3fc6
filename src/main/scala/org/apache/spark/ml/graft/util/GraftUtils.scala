package org.apache.spark.ml.graft.util

import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector, Vectors}
import org.apache.spark.ml.util.MetadataUtils
import org.apache.spark.util.random.XORShiftRandom

/** Small numeric / vector helpers shared by every meta-estimator.
  * Semantics match the reference (cited per method) but are written fresh
  * against the public contract.
  */
private[graft] object GraftUtils {

  /** Weighted median: smallest v whose cumulative weight reaches half the
    * total (reference: ensemble/Utils.scala:26-40 — same tie/ordering
    * behaviour: stable sort by value, `>= 0.5 * total`).
    */
  def weightedMedian(values: Array[Double], weights: Array[Double]): Double = {
    require(values.length == weights.length && values.nonEmpty)
    val order = values.indices.sortBy(values(_))
    val total = weights.sum
    var cum = 0.0
    var i = 0
    while (i < order.length) {
      cum += weights(order(i))
      if (cum >= 0.5 * total) return values(order(i))
      i += 1
    }
    values(order.last)
  }

  /** Random feature subspace: Bernoulli(ratio) over feature indices with a
    * seeded XORShift stream; sorted, never empty (reference:
    * ensemble/HasSubBag.scala:73-79 draws the same way; the non-empty guard
    * is ours — an empty subspace makes every base learner degenerate).
    */
  def subspace(ratio: Double, numFeatures: Int, seed: Long): Array[Int] = {
    require(numFeatures > 0)
    if (ratio >= 1.0) Array.range(0, numFeatures)
    else {
      val rng = new XORShiftRandom(seed)
      val picked = Array.range(0, numFeatures).filter(_ => rng.nextDouble() < ratio)
      if (picked.isEmpty) Array(rng.nextInt(numFeatures)) else picked
    }
  }

  /** Gather `indices` (sorted) out of a vector. Dense: direct gather;
    * sparse: per-index binary search then re-compress (reference:
    * ensemble/HasSubBag.scala:81-84 uses private SparseVector.slice; the
    * public `apply` path below is equivalent).
    */
  def sliceVector(v: Vector, indices: Array[Int]): Vector = v match {
    case d: DenseVector =>
      val out = new Array[Double](indices.length)
      var i = 0
      while (i < indices.length) { out(i) = d.values(indices(i)); i += 1 }
      Vectors.dense(out)
    case s: SparseVector =>
      val out = new Array[Double](indices.length)
      var i = 0
      while (i < indices.length) { out(i) = s(indices(i)); i += 1 }
      Vectors.dense(out).compressed
  }

  /** Metadata for a features column of known width — enough for
    * MetadataUtils.getNumFeatures on nested fits (reference:
    * ensemble/Utils.scala:42-61 rebuilds full per-feature attributes; only
    * the group size is ever consumed downstream).
    */
  def featuresMetadata(numFeatures: Int, featuresCol: String): org.apache.spark.sql.types.Metadata =
    new AttributeGroup(featuresCol, numFeatures).toMetadata()

  /** numFeatures from column metadata when present (the group's size, which
    * a group that lists its attributes, as `VectorAssembler`'s output does,
    * carries without `numAttributes`), else from one row.
    */
  def numFeatures(dataset: org.apache.spark.sql.Dataset[_], featuresCol: String): Int =
    MetadataUtils.getNumFeatures(dataset.schema(featuresCol)).getOrElse {
      dataset.select(featuresCol).head().getAs[Vector](0).size
    }
}
