package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.math3.optim.MaxEval
import org.apache.commons.math3.optim.nonlinear.scalar.GoalType
import org.apache.commons.math3.optim.univariate.{
  BrentOptimizer, SearchInterval, UnivariateObjectiveFunction
}
import org.apache.spark.ml.PredictorParams
import org.apache.spark.ml.graft.loss._
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.{
  HasAggregationDepth, HasCheckpointInterval, HasMaxIter, HasWeightCol
}
import org.apache.spark.ml.regression.{RegressionModel, Regressor}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s.JsonDSL._

/** Params shared by GBMRegressor / GBMClassifier (reference:
  * boosting/GBMParams.scala:29-131).
  */
private[graft] trait GBMParams
    extends PredictorParams
    with HasBaseLearner
    with HasWeightCol
    with HasMaxIter
    with HasSubBag
    with HasCheckpointInterval
    with HasAggregationDepth {

  final val learningRate: DoubleParam = new DoubleParam(
    this, "learningRate", "shrinkage in (0,1]", ParamValidators.inRange(0, 1, false, true))
  def getLearningRate: Double = $(learningRate)

  /** Line-search the step size (Brent for regression, L-BFGS-B for the
    * K-dim classifier) instead of using 1.0.
    */
  final val optimizedWeights: BooleanParam =
    new BooleanParam(this, "optimizedWeights", "optimize per-iteration step size")
  def getOptimizedWeights: Boolean = $(optimizedWeights)

  /** gradient = fit to -grad; newton = fit to -grad/hess with hessian row
    * weights.
    */
  final val updates: Param[String] = new Param[String](
    this, "updates", "gradient|newton", ParamValidators.inArray(Array("gradient", "newton")))
  def getUpdates: String = $(updates)

  /** Early-stop patience in iterations (with validationIndicatorCol). */
  final val numRounds: IntParam = new IntParam(
    this, "numRounds", "early-stop patience", ParamValidators.gtEq(1))
  def getNumRounds: Int = $(numRounds)

  final val validationTol: DoubleParam = new DoubleParam(
    this, "validationTol", "relative improvement threshold", ParamValidators.gtEq(0))
  def getValidationTol: Double = $(validationTol)

  final val validationIndicatorCol: Param[String] = new Param[String](
    this, "validationIndicatorCol", "boolean column marking validation rows")
  def getValidationIndicatorCol: String = $(validationIndicatorCol)

  /** Convergence tolerance of the per-iteration step-size optimizer
    * (Brent / L-BFGS-B).
    */
  final val tol: DoubleParam = new DoubleParam(
    this, "tol", "step-size optimizer tolerance", ParamValidators.gt(0))
  def getTol: Double = $(tol)

  setDefault(
    learningRate -> 1.0, optimizedWeights -> true, updates -> "gradient",
    maxIter -> 10, numRounds -> 1, validationTol -> 0.01,
    checkpointInterval -> 10, replacement -> false, tol -> 1e-4)
}

/** Validation early stopping, shared by the GBM loops: a round whose loss
  * does not improve on the best so far by more than `tol` (relative) is a
  * miss, and `patience` consecutive misses stop the fit and drop the
  * non-improving tail (reference: take(i - v),
  * regression/GBMRegressor.scala:474), always keeping one round.
  */
private[graft] final class ValidationStop(patience: Int, tol: Double) {
  private var best = Double.PositiveInfinity
  private var misses = 0
  var stopped = false

  def observe(vloss: Double, rounds: ArrayBuffer[_]): Unit =
    // the first finite loss always sets the baseline (Inf - vloss >
    // tol*Inf is false, which would mis-count round one as a miss)
    if (best.isPosInfinity || best - vloss > tol * math.max(math.abs(best), 1e-12)) {
      best = vloss
      misses = 0
    } else {
      misses += 1
      if (misses >= patience) {
        rounds.dropRightInPlace(rounds.length - math.max(rounds.length - misses, 1))
        stopped = true
      }
    }
}

/** Bracketed 1-D Newton search for the step `a` in [0, 100] that minimizes
  * a convex phi(a), shared by the GBM line searches. `probe(a)` is one pass
  * over the data returning (phi'(a), phi''(a)). Convexity means the sign of
  * phi'(a) tells which side of the optimum `a` is on, so a shrinking
  * [lo, hi] bracket is kept and the search falls back to its midpoint
  * whenever the Newton step escapes it (hessians that vanish in saturated
  * regions, as logcosh's and the margin losses' do, make the raw step
  * oscillate between the clamps). A step escaping toward a clamp not yet
  * probed probes that clamp directly: near-constant directions put the
  * optimum there, and bisecting toward it would cost log2(range/tol)
  * passes. A non-finite probe gives the step 1.
  */
private[graft] object NewtonStep {
  def search(tol: Double)(probe: Double => (Double, Double)): Double = {
    var lo = 0.0
    var hi = 100.0
    var loProbed = false
    var hiProbed = false
    var a = 1.0
    var it = 0
    var converged = false
    var failed = false
    while (it < 12 && !converged && !failed) {
      val (dphi, d2phi) = probe(a)
      if (!dphi.isFinite || !d2phi.isFinite) failed = true
      else {
        val wantRight = dphi <= 0
        if (dphi > 0) { hi = a; hiProbed = true } else { lo = a; loProbed = true }
        val newton = if (d2phi > 0) a - dphi / d2phi else Double.NaN
        val next =
          if (newton.isFinite && newton > lo && newton < hi) newton
          else if (wantRight && !hiProbed) hi
          else if (!wantRight && !loProbed) lo
          else (lo + hi) / 2.0
        if (math.abs(next - a) < tol || hi - lo < tol) converged = true
        a = next
      }
      it += 1
    }
    if (failed) 1.0 else a
  }
}

private[graft] trait GBMRegressorParams extends GBMParams {

  /** squared | absolute | huber | quantile | logcosh | scaledlogcosh. */
  final val loss: Param[String] = new Param[String](
    this, "loss", "squared|absolute|huber|quantile|logcosh|scaledlogcosh",
    ParamValidators.inArray(
      Array("squared", "absolute", "huber", "quantile", "logcosh", "scaledlogcosh")))
  def getLoss: String = $(loss)

  /** huber quantile cut / quantile-loss level. */
  final val alpha: DoubleParam = new DoubleParam(
    this, "alpha", "alpha in (0,1)", ParamValidators.inRange(0, 1, false, false))
  def getAlpha: Double = $(alpha)

  /** constant (loss-optimal constant) | zero | base. */
  final val initStrategy: Param[String] = new Param[String](
    this, "initStrategy", "constant|zero|base",
    ParamValidators.inArray(Array("constant", "zero", "base")))
  def getInitStrategy: String = $(initStrategy)

  setDefault(loss -> "squared", alpha -> 0.9, initStrategy -> "constant")

  private[graft] def lossObj(delta: Double): GBMRegressionLoss = $(loss) match {
    case "squared" => SquaredLoss
    case "absolute" => AbsoluteLoss
    case "huber" => HuberLoss(if (delta > 0) delta else 1.0)
    case "quantile" => QuantileLoss($(alpha))
    case "logcosh" => LogCoshLoss
    case "scaledlogcosh" => ScaledLogCoshLoss($(alpha))
  }
}

/** Friedman-style gradient boosting generic in the base regressor
  * (reference: regression/GBMRegressor.scala:237-476). One training loop
  * over a learner backend: any spark.ml regressor through its own `fit`,
  * or a Spark DecisionTree over a bin-once `TreePoint` table
  * ([[NativeTreeBoost]]). The line-search objective is a treeAggregate
  * over the backend's cached (label, f, direction, weight) rows.
  */
class GBMRegressor(override val uid: String)
    extends Regressor[Vector, GBMRegressor, GBMRegressionModel]
    with GBMRegressorParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("GBMRegressor"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setLoss(value: String): this.type = set(loss, value)
  def setAlpha(value: Double): this.type = set(alpha, value)
  def setInitStrategy(value: String): this.type = set(initStrategy, value)
  def setLearningRate(value: Double): this.type = set(learningRate, value)
  def setOptimizedWeights(value: Boolean): this.type = set(optimizedWeights, value)
  def setUpdates(value: String): this.type = set(updates, value)
  def setReplacement(value: Boolean): this.type = set(replacement, value)
  def setSubsampleRatio(value: Double): this.type = set(subsampleRatio, value)
  def setSubspaceRatio(value: Double): this.type = set(subspaceRatio, value)
  def setSeed(value: Long): this.type = set(seed, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setNumRounds(value: Int): this.type = set(numRounds, value)
  def setValidationTol(value: Double): this.type = set(validationTol, value)
  def setValidationIndicatorCol(value: String): this.type = set(validationIndicatorCol, value)
  def setCheckpointInterval(value: Int): this.type = set(checkpointInterval, value)
  def setAggregationDepth(value: Int): this.type = set(aggregationDepth, value)
  def setTol(value: Double): this.type = set(tol, value)

  override protected def train(dataset: Dataset[_]): GBMRegressionModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): GBMRegressionModel = {
    val hasVal = isDefined(validationIndicatorCol) && $(validationIndicatorCol).nonEmpty
    val valCol =
      if (hasVal) col($(validationIndicatorCol)).cast("boolean") else lit(false)
    val instances = SubBagFit.instances(this, dataset, extra = Seq(valCol -> "__val"))
    val nf = GraftUtils.numFeatures(instances, "features")
    instr.logNumFeatures(nf)

    // ---- init model f_0
    val trainOnly = instances.filter(!col("__val"))
    val init: EnsemblePredictionModelType = $(initStrategy) match {
      case "zero" =>
        new DummyRegressionModel(Identifiable.randomUID("gbmZeroInit"), 0.0)
      case "constant" =>
        val strat = $(loss) match {
          case "squared" | "logcosh" | "scaledlogcosh" =>
            new DummyRegressor().setStrategy("mean")
          case "absolute" | "huber" => new DummyRegressor().setStrategy("median")
          case "quantile" =>
            new DummyRegressor().setStrategy("quantile").setQuantile($(alpha))
        }
        Learners.fit(
          strat.setWeightCol("weight").asInstanceOf[EnsemblePredictorType],
          trainOnly, "label", "features", Some("weight"))
      case "base" =>
        Learners.fit($(baseLearner), trainOnly, "label", "features", Some("weight"))
    }

    val learner: RegLearner = $(baseLearner) match {
      case dt: org.apache.spark.ml.regression.DecisionTreeRegressor
          if $(subspaceRatio) >= 1.0 && $(updates) == "gradient" =>
        new BinnedRegLearner(instances, init, hasVal, dt)
      case _ => new PredictorRegLearner(instances, init, nf)
    }
    val rounds = ArrayBuffer.empty[(EnsemblePredictionModelType, Double, Array[Int])]
    val stop = new ValidationStop($(numRounds), $(validationTol))
    // early stopping needs a STATIONARY metric: huber's delta refreshes
    // every round, so comparing losses computed under different deltas
    // would be apples-to-oranges — freeze the first round's loss object
    // for all validation evaluations
    var valLossObj: GBMRegressionLoss = null
    var i = 0
    try {
      while (i < $(maxIter) && !stop.stopped) {
        // Huber delta refresh: alpha-quantile of current absolute residuals
        val lossB: GBMRegressionLoss =
          if ($(loss) == "huber") {
            val d = learner.absResiduals
              .stat.approxQuantile("__absr", Array($(alpha)), 0.001).head
            lossObj(math.max(d, 1e-6))
          } else lossObj(0.0)
        val indices = GraftUtils.subspace($(subspaceRatio), nf, $(seed) + i)
        val model = learner.fit(lossB, indices, $(seed) + i)
        val w = $(learningRate) *
          (if ($(optimizedWeights)) lineSearch(learner.directions, lossB) else 1.0)
        instr.logNamedValue("stepSize", w)
        rounds += ((model, w, indices))
        learner.advance(w)
        if (hasVal) {
          if (valLossObj == null) valLossObj = lossB
          learner.validationLoss(valLossObj).foreach { vloss =>
            instr.logNamedValue("validationLoss", vloss)
            stop.observe(vloss, rounds)
          }
        }
        i += 1
      }
    } finally learner.close()
    instr.logNamedValue("numRoundsKept", rounds.length.toLong)
    new GBMRegressionModel(
      uid, init, rounds.map(_._2).toArray, rounds.map(_._3).toArray, rounds.map(_._1).toArray)
      .setParent(this)
  }

  /** The learner side of one GBM iteration over (label, f) rows, f being
    * the running prediction. `fit` fits the base learner to the negative
    * gradient at f (rows sampled with `sampleSeed`, features restricted to
    * `indices`) and leaves (label, f, direction, weight) per training row
    * in `directions` for the line search; `advance` moves every row (train
    * and validation) to f + step * direction. `close` always runs.
    */
  private trait RegLearner {
    /** |label - f| over the training rows, as column `__absr`. */
    def absResiduals: DataFrame
    def fit(
        loss: GBMRegressionLoss,
        indices: Array[Int],
        sampleSeed: Long): EnsemblePredictionModelType
    def directions: RDD[(Double, Double, Double, Double)]
    def advance(step: Double): Unit
    /** Weighted mean loss over the validation rows; None without any. */
    def validationLoss(loss: GBMRegressionLoss): Option[Double]
    def close(): Unit
  }

  /** Per-iteration step size over cached (label, f, direction, weight)
    * rows. Squared loss has the closed-form optimum
    * a* = sum(w*d*(y-f)) / sum(w*d^2) — ONE pass instead of Brent's ~25
    * sequential objective jobs (each a full cluster barrier at scale).
    * Losses with an analytic scalar hessian (logcosh, scaled logcosh) run
    * [[NewtonStep]] on phi(a) = sum w*L(y, f + a*d): each iteration is
    * ONE pass computing (phi', phi'') together, and the convex phi
    * converges in 2-3 iterations — same [0, 100] clamp and fall-back-to-1
    * guard rails as the closed form. Only the losses with no usable
    * second derivative (absolute, huber, quantile — piecewise-linear
    * tails) keep the Brent search over [0, 100].
    */
  private def lineSearch(
      data: RDD[(Double, Double, Double, Double)],
      lossB: GBMRegressionLoss): Double = {
    val depth = $(aggregationDepth)
    if ($(loss) == "squared") {
      val (num, den) = data.treeAggregate((0.0, 0.0))(
        (acc, t) => (acc._1 + t._4 * t._3 * (t._1 - t._2), acc._2 + t._4 * t._3 * t._3),
        (a, b) => (a._1 + b._1, a._2 + b._2),
        depth)
      if (den <= 0 || !num.isFinite) 1.0
      else math.min(math.max(num / den, 0.0), 100.0)
    } else if (lossB.isInstanceOf[HasScalarHessian]) {
      val h = lossB.asInstanceOf[GBMRegressionLoss with HasScalarHessian]
      NewtonStep.search($(tol)) { step =>
        data.treeAggregate((0.0, 0.0))(
          (acc, t) => {
            val f = t._2 + step * t._3
            (acc._1 + t._4 * t._3 * h.gradient(t._1, f),
              acc._2 + t._4 * t._3 * t._3 * h.hessian(t._1, f))
          },
          (x, y) => (x._1 + y._1, x._2 + y._2),
          depth)
      }
    } else {
      data.count()
      val objective = new UnivariateObjectiveFunction(a =>
        data.treeAggregate(0.0)(
          (acc, t) => acc + t._4 * lossB.loss(t._1, t._2 + a * t._3),
          _ + _,
          depth))
      try {
        new BrentOptimizer($(tol), $(tol) * 1e-2)
          .optimize(
            new MaxEval(25), objective, GoalType.MINIMIZE, new SearchInterval(0.0, 100.0))
          .getPoint
      } catch { case _: Exception => 1.0 }
    }
  }

  /** Any spark.ml regressor as the learner: every iteration re-enters its
    * own `fit`. The running prediction `__f` is a DataFrame column carried
    * through [[IterLoopCache]] (immune to partition-ordering hazards,
    * SURVEY.md §7.0 decision 3) and residuals are column expressions over
    * a scalar-loss UDF.
    */
  private class PredictorRegLearner(
      instances: DataFrame,
      init: EnsemblePredictionModelType,
      nf: Int) extends RegLearner {
    private val loop = new IterLoopCache($(checkpointInterval))
    private var df = loop.next(
      Learners.transform(init, instances, "__f")
        .select("label", "weight", "features", "__val", "__f"))
    private var withDir: DataFrame = _
    private var dirRows: RDD[(Double, Double, Double, Double)] = _

    def absResiduals: DataFrame =
      df.filter(!col("__val")).select(abs(col("label") - col("__f")).as("__absr"))

    def fit(
        loss: GBMRegressionLoss,
        indices: Array[Int],
        sampleSeed: Long): EnsemblePredictionModelType = {
      val newton = $(updates) == "newton" && loss.isInstanceOf[HasScalarHessian]
      val residUdf = udf { (y: Double, f: Double) => -loss.gradient(y, f) }
      // sub-bag of (instance, prediction) pairs — column-aligned by
      // construction, no RDD.zip (reference samples pairs jointly at
      // regression/GBMRegressor.scala:355-366)
      val sampled =
        SubBagFit.sample(df.filter(!col("__val")), $(replacement), $(subsampleRatio), sampleSeed)
      def sliced(d: DataFrame): DataFrame = SubBagFit.sliceFeatures(d, indices, nf, "__sf")

      var fitDf = sampled.withColumn("__r", residUdf(col("label"), col("__f")))
      fitDf =
        if (newton) {
          val h = loss.asInstanceOf[GBMRegressionLoss with HasScalarHessian]
          // clamp like the reference (hess >= 1e-2) or -grad/hess explodes
          // where the loss flattens (regression/GBMRegressor.scala:368-385)
          val hessUdf = udf { (y: Double, f: Double) => math.max(h.hessian(y, f), 1e-2) }
          fitDf
            .withColumn("__h", hessUdf(col("label"), col("__f")))
            .withColumn("__r", col("__r") / col("__h"))
            .withColumn("__w", col("weight") * col("__h"))
        } else fitDf.withColumn("__w", col("weight"))
      val featCol = if (indices.length == nf) "features" else "__sf"
      val model = Learners.fit(
        $(baseLearner), sliced(fitDf), "__r", featCol, Some("__w"), weightRequired = newton)
      // direction on ALL rows (train + validation)
      withDir = Learners.transformOn(model, sliced(df), featCol, "__d")
      model
    }

    def directions: RDD[(Double, Double, Double, Double)] = {
      dirRows = withDir.filter(!col("__val"))
        .select(col("label"), col("__f"), col("__d"), col("weight"))
        .rdd.map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      dirRows.persist(StorageLevel.MEMORY_AND_DISK)
    }

    def advance(step: Double): Unit = {
      if (dirRows != null) { dirRows.unpersist(); dirRows = null }
      df = loop.next(
        withDir
          .withColumn("__f", col("__f") + lit(step) * col("__d"))
          .select("label", "weight", "features", "__val", "__f"))
    }

    def validationLoss(loss: GBMRegressionLoss): Option[Double] = {
      val lossUdf = udf { (y: Double, f: Double) => loss.loss(y, f) }
      val agg = df.filter(col("__val"))
        .agg(sum(col("weight") * lossUdf(col("label"), col("__f"))).as("l"), sum("weight").as("w"))
        .head()
      if (agg.isNullAt(0)) None else Some(agg.getDouble(0) / agg.getDouble(1))
    }

    def close(): Unit = {
      if (dirRows != null) dirRows.unpersist()
      loop.close()
    }
  }

  /** A Spark DecisionTreeRegressor as the learner over the bin-once
    * [[NativeTreeBoost]] table: each iteration relabels the binned points
    * with the negative gradient (a narrow map over cached data) and runs
    * the core induction. Trees are identical to the generic learner's at
    * subsampleRatio = 1 because candidate splits depend on feature values
    * and the constant gradient-update weights only, never on the residual
    * labels (pinned by GBMSuite). Directions and the score update predict
    * on binned features (`GradientBoostedTrees.updatePrediction`, exact for
    * points binned with the fitted splits) — no per-row Vector boxing.
    */
  private class BinnedRegLearner(
      instances: DataFrame,
      init: EnsemblePredictionModelType,
      hasVal: Boolean,
      dt: org.apache.spark.ml.regression.DecisionTreeRegressor) extends RegLearner {
    import org.apache.spark.ml.regression.DecisionTreeRegressionModel
    import org.apache.spark.ml.tree.impl.{GradientBoostedTrees => NativeGBT, TreePoint}

    private val boost = new NativeTreeBoost(
      instances,
      dt.getOldStrategy(MetadataUtils.getCategoricalFeatures(instances.schema("features"))),
      dt.getSeed, $(checkpointInterval), sumOneWeights = false, hasVal)
    // closures take local copies: a constructor parameter referenced from a
    // task closure would pull this learner (and its DataFrames) into the task
    private val (pred, valPred) = {
      val f0 = init
      (new boost.State(boost.train.map(inst => f0.predict(inst.features))),
        if (hasVal) new boost.State(boost.valid.map(inst => f0.predict(inst.features))) else null)
    }
    private var model: DecisionTreeRegressionModel = _
    private var data: RDD[(Double, Double, Double, Double)] = _

    def absResiduals: DataFrame = {
      val absr = boost.treePoints.zip(pred.rdd).map { case (tp, f) => math.abs(tp.label - f) }
      instances.sparkSession.createDataset(absr)(org.apache.spark.sql.Encoders.scalaDouble)
        .toDF("__absr")
    }

    def fit(
        loss: GBMRegressionLoss,
        indices: Array[Int],
        sampleSeed: Long): EnsemblePredictionModelType = {
      val relabeled = boost.treePoints.zip(pred.rdd).map { case (tp, f) =>
        new TreePoint(-loss.gradient(tp.label, f), tp.binnedFeatures, tp.weight)
      }
      model = boost.fitTree(relabeled, $(subsampleRatio), $(replacement), sampleSeed)
        .asInstanceOf[DecisionTreeRegressionModel]
      val (m, splits) = (model, boost.bcSplits)
      data = boost.treePoints.zip(pred.rdd).map { case (tp, f) =>
        (tp.label, f, NativeGBT.updatePrediction(tp, 0.0, m, 1.0, splits.value), tp.weight)
      }
      data.persist(StorageLevel.MEMORY_AND_DISK)
      model
    }

    def directions: RDD[(Double, Double, Double, Double)] = data

    def advance(step: Double): Unit = {
      pred.set(data.map(t => t._2 + step * t._3))
      data.unpersist(blocking = false)
      if (hasVal) {
        val (m, splits) = (model, boost.bcSplits)
        valPred.set(boost.valPoints.zip(valPred.rdd).map { case (tp, f) =>
          f + step * NativeGBT.updatePrediction(tp, 0.0, m, 1.0, splits.value)
        })
      }
    }

    def validationLoss(loss: GBMRegressionLoss): Option[Double] = {
      val (lsum, wsum) = boost.valPoints.zip(valPred.rdd).treeAggregate((0.0, 0.0))(
        (acc, t) => (acc._1 + t._1.weight * loss.loss(t._1.label, t._2), acc._2 + t._1.weight),
        (a, b) => (a._1 + b._1, a._2 + b._2),
        $(aggregationDepth))
      if (wsum > 0) Some(lsum / wsum) else None
    }

    def close(): Unit = {
      if (data != null) data.unpersist(blocking = false)
      boost.close()
    }
  }

  override def copy(extra: ParamMap): GBMRegressor = defaultCopy(extra)

  override def write: MLWriter = GraftPersistence.writer(this)
}

object GBMRegressor extends GraftReadable[GBMRegressor](s => new GBMRegressor(s.uid))

class GBMRegressionModel(
    override val uid: String,
    val init: EnsemblePredictionModelType,
    val modelWeights: Array[Double],
    val subspaces: Array[Array[Int]],
    val models: Array[EnsemblePredictionModelType])
    extends RegressionModel[Vector, GBMRegressionModel]
    with GBMRegressorParams
    with MLWritable {

  /** f(x) = f_0(x) + sum_i w_i m_i(x|subspace_i) (reference:
    * regression/GBMRegressor.scala:531-539).
    */
  override def predict(features: Vector): Double = {
    var f = init.predict(features)
    var i = 0
    while (i < models.length) {
      val sub = subspaces(i)
      val x = if (sub.length == features.size) features else GraftUtils.sliceVector(features, sub)
      f += modelWeights(i) * models(i).predict(x)
      i += 1
    }
    f
  }

  override def copy(extra: ParamMap): GBMRegressionModel =
    copyValues(new GBMRegressionModel(uid, init, modelWeights, subspaces, models), extra)
      .setParent(parent)

  override def write: MLWriter = GraftPersistence.writer(
    this,
    ("numModels" -> models.length) ~ ("modelWeights" -> modelWeights.toSeq) ~
      ("subspaces" -> subspaces.map(_.toSeq).toSeq),
    GraftPersistence.numbered(models) :+ ("init" -> init))
}

object GBMRegressionModel extends GraftReadable[GBMRegressionModel](s =>
  new GBMRegressionModel(
    s.uid, s.model("init"), s.doubles("modelWeights"), s.subspaces, s.models(s.int("numModels"))))
