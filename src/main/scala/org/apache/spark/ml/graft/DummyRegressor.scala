package org.apache.spark.ml.graft

import org.apache.spark.ml.PredictorParams
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.HasWeightCol
import org.apache.spark.ml.regression.{RegressionModel, Regressor}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.json4s.JsonDSL._

private[graft] trait DummyRegressorParams extends PredictorParams with HasWeightCol {

  /** mean | median | quantile | constant (reference:
    * regression/DummyRegressor.scala:35-86).
    */
  final val strategy: Param[String] = new Param[String](
    this, "strategy", "mean|median|quantile|constant",
    ParamValidators.inArray(Array("mean", "median", "quantile", "constant")))
  def getStrategy: String = $(strategy)

  final val constant: DoubleParam = new DoubleParam(this, "constant", "constant prediction")

  final val quantile: DoubleParam = new DoubleParam(
    this, "quantile", "quantile in [0,1]", ParamValidators.inRange(0, 1))

  final val tol: DoubleParam = new DoubleParam(
    this, "tol", "approxQuantile relative error", ParamValidators.gtEq(0))

  setDefault(strategy -> "mean", constant -> 0.0, quantile -> 0.5, tol -> 1e-2)
}

/** Constant-prediction baseline regressor; also the GBM `constant` init
  * strategy provider (reference: regression/DummyRegressor.scala).
  * Aggregation is a single DataFrame agg / quantile sketch — already the
  * scalable plan (one pass, no shuffle beyond partial aggregation).
  */
class DummyRegressor(override val uid: String)
    extends Regressor[Vector, DummyRegressor, DummyRegressionModel]
    with DummyRegressorParams
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("DummyRegressor"))

  def setStrategy(value: String): this.type = set(strategy, value)
  def setConstant(value: Double): this.type = set(constant, value)
  def setQuantile(value: Double): this.type = set(quantile, value)
  def setTol(value: Double): this.type = set(tol, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)

  override protected def train(dataset: Dataset[_]): DummyRegressionModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): DummyRegressionModel = {
    val labels = dataset.select(col($(labelCol)).cast(DoubleType).as("label"))
    val c = $(strategy) match {
      case "mean" =>
        if (isDefined(weightCol) && $(weightCol).nonEmpty) {
          val r = dataset
            .select(col($(labelCol)).cast(DoubleType).as("l"), col($(weightCol)).cast(DoubleType).as("w"))
            .agg(sum(col("l") * col("w")).as("lw"), sum("w").as("w"))
            .head()
          r.getDouble(0) / r.getDouble(1)
        } else labels.agg(avg("label")).head().getDouble(0)
      case "median" => quantileValue(dataset, 0.5)
      case "quantile" => quantileValue(dataset, $(quantile))
      case "constant" => $(constant)
    }
    new DummyRegressionModel(uid, c).setParent(this)
  }

  /** Construct a fitted model the way `fit` would: same uid, params
    * copied, parent set. The fused multi-target path
    * ([[Learners.fitMulti]]) bypasses `Predictor.fit` and so must
    * replicate its metadata contract (`fit` does
    * `copyValues(train(...).setParent(this))`) — otherwise fused-path
    * models carry only default params, a metadata-only divergence (e.g.
    * in saved-model params) from the unfused fallback.
    */
  private[graft] def constructModel(constantValue: Double): DummyRegressionModel =
    copyValues(new DummyRegressionModel(uid, constantValue).setParent(this))

  /** Unweighted: exact/approx Greenwald-Khanna sketch. Weighted: the exact
    * weighted quantile via [[DummyRegressor.weightedQuantile]] — range
    * partition + per-partition prefix sums, so no task ever sorts more
    * than its own range slice (the previous global ordered window funneled
    * the full table through one task — a scale killer for GBM's weighted
    * huber/quantile constant init).
    */
  private def quantileValue(dataset: Dataset[_], q: Double): Double = {
    if (isDefined(weightCol) && $(weightCol).nonEmpty) {
      // null labels/weights would NPE deep inside the partition scans;
      // drop them here and let weightedQuantile's total-weight require
      // surface the empty/degenerate case with a real message
      val lw = dataset.select(
          col($(labelCol)).cast(DoubleType).as("l"),
          col($(weightCol)).cast(DoubleType).as("wt"))
        .filter(col("l").isNotNull && col("wt").isNotNull)
      DummyRegressor.weightedQuantile(lw, q)
    } else {
      dataset.select(col($(labelCol)).cast(DoubleType).as("label"))
        .stat.approxQuantile("label", Array(q), $(tol)).head
    }
  }

  override def copy(extra: ParamMap): DummyRegressor = defaultCopy(extra)
}

object DummyRegressor extends DefaultParamsReadable[DummyRegressor] {

  /** Exact distributed weighted quantile: the smallest label whose
    * cumulative weight reaches q * totalWeight.
    *
    * Plan: range-partition by label (a distributed sort whose slices each
    * fit one task), stream each partition once for its weight subtotal,
    * prefix-sum the P subtotals on the driver (P values, not rows), then
    * scan ONLY the partition containing the crossing. Two jobs over a
    * cached projection; no single-partition Sort anywhere — at 100x data
    * each task still sees ~rows/P labels, vs the global ordered window
    * this replaces (every row through one task).
    *
    * Reference semantics (regression/DummyRegressor.scala:63-76 in
    * /root/reference): identical crossing rule, verified by DummySuite.
    */
  def weightedQuantile(lw: org.apache.spark.sql.DataFrame, q: Double): Double = {
    val spark = lw.sparkSession
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val sorted = lw
      .repartitionByRange(parts, col("l"))
      .sortWithinPartitions("l")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partWeights = sorted.rdd
        .mapPartitionsWithIndex { (i, it) =>
          var s = 0.0
          it.foreach(r => s += r.getDouble(1))
          Iterator.single((i, s))
        }
        .collect()
        .sortBy(_._1)
        .map(_._2)
      val total = partWeights.sum
      // fail with the actual problem here rather than a bare
      // NoSuchElementException from the crossing-scan fallback
      require(total > 0.0,
        s"weightedQuantile needs positive total weight over a non-empty " +
          s"input, got total=$total (empty dataset, all-zero weights, or " +
          "null labels/weights upstream)")
      val target = q * total
      // first partition whose running total reaches the target
      var p = 0
      var before = 0.0
      while (p < partWeights.length - 1 && before + partWeights(p) < target) {
        before += partWeights(p); p += 1
      }
      val pIdx = p
      val base = before
      val hit = sorted.rdd
        .mapPartitionsWithIndex { (i, it) =>
          if (i != pIdx) Iterator.empty
          else {
            var cum = base
            var res = Option.empty[Double]
            while (res.isEmpty && it.hasNext) {
              val r = it.next()
              cum += r.getDouble(1)
              if (cum >= target) res = Some(r.getDouble(0))
            }
            res.iterator
          }
        }
        .collect()
      // target can exceed the partition's mass by float round-off on the
      // driver-side prefix; fall back to the partition's max label.
      if (hit.nonEmpty) hit.head
      else sorted.rdd
        .mapPartitionsWithIndex { (i, it) =>
          if (i != pIdx) Iterator.empty
          else it.map(_.getDouble(0)).reduceOption((a, b) => math.max(a, b)).iterator
        }
        .collect()
        .head
    } finally sorted.unpersist()
  }
}

class DummyRegressionModel(override val uid: String, val constantValue: Double)
    extends RegressionModel[Vector, DummyRegressionModel]
    with DummyRegressorParams
    with MLWritable {

  override def predict(features: Vector): Double = constantValue

  override def numFeatures: Int = -1

  override def copy(extra: ParamMap): DummyRegressionModel =
    copyValues(new DummyRegressionModel(uid, constantValue), extra).setParent(parent)

  override def write: MLWriter =
    GraftPersistence.writer(this, "constantValue" -> constantValue)
}

object DummyRegressionModel extends GraftReadable[DummyRegressionModel](s =>
  new DummyRegressionModel(s.uid, s.get[Double]("constantValue")))
