package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{DiffFunction, LBFGSB}
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
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor}
import org.apache.spark.ml.tree.impl.{BaggedPoint, GradientBoostedTrees => NativeGBT, TreePoint}
import org.apache.spark.ml.util.{Instrumentation, MetadataUtils}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Params shared by GBMRegressor / GBMClassifier (reference:
  * boosting/GBMParams.scala:29-131), and the one training loop and step
  * search of both.
  */
private[graft] trait GBMParams
    extends PredictorParams
    with HasBaseLearner
    with HasWeightCol
    with HasMaxIter
    with HasSubBag
    with HasCheckpointInterval
    // kept for API parity with the reference's treeAggregate depth; the
    // step searches fold per-partition partials in partition order
    // (`NativeTreeBoost.orderedAggregate`), so fits are reproducible
    with HasAggregationDepth {

  final val learningRate: DoubleParam = new DoubleParam(
    this, "learningRate", "shrinkage in (0,1]", ParamValidators.inRange(0, 1, false, true))
  def getLearningRate: Double = $(learningRate)

  /** Line-search the step size (closed form, Newton or Brent at dim 1,
    * Newton or L-BFGS-B for the K-dim classifier) instead of using 1.0.
    */
  final val optimizedWeights: BooleanParam =
    new BooleanParam(this, "optimizedWeights", "optimize per-iteration step size")
  def getOptimizedWeights: Boolean = $(optimizedWeights)

  /** gradient = fit to -grad; newton = fit to -grad/hess with hessian row
    * weights. Newton applies only to losses with a hessian (squared,
    * logcosh, scaledlogcosh and every classification loss); the others
    * (absolute, huber, quantile) run gradient updates under either value.
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
    * (Newton / Brent / L-BFGS-B).
    */
  final val tol: DoubleParam = new DoubleParam(
    this, "tol", "step-size optimizer tolerance", ParamValidators.gt(0))
  def getTol: Double = $(tol)

  setDefault(
    learningRate -> 1.0, optimizedWeights -> true, updates -> "gradient",
    maxIter -> 10, numRounds -> 1, validationTol -> 0.01,
    checkpointInterval -> 10, replacement -> false, tol -> 1e-4)

  protected def hasValidation: Boolean =
    isDefined(validationIndicatorCol) && $(validationIndicatorCol).nonEmpty

  /** The fit's rows: label, weight, features and the validation flag `__val`. */
  protected def gbmInstances(dataset: Dataset[_]): DataFrame = {
    val valCol = if (hasValidation) col($(validationIndicatorCol)).cast("boolean") else lit(false)
    SubBagFit.instances(this, dataset, extra = Seq(valCol -> "__val"))
  }

  /** The training loop of both GBM estimators (reference:
    * regression/GBMRegressor.scala:237-476,
    * classification/GBMClassifier.scala:219-496) over the K-dim rows
    * (yenc, f, direction, weight); the regressor runs it at dim 1. Each
    * round fits one base regressor per model dimension to the negative
    * gradient ([[GBMLearner]]), searches the step vector, moves f and
    * checks validation early stopping. The estimator passes in what
    * differs between the two:
    *  - `loss`: the fit's loss, which fixes dim and the label encoding;
    *    `roundLoss` gives each round's (the regressor's Huber delta is
    *    refreshed from the current residuals). Validation loss uses round
    *    one's loss throughout: early stopping needs a stationary metric.
    *  - `initScore`: the per-row initial score f_0.
    *  - `hessFloor`: the fit-time floor of newton hessians (0 for none).
    *  - `ec`: where the per-dimension fits run.
    *  - `logStep`: how a round's step vector is logged.
    * Returns the kept rounds: (models, steps, subspace) each.
    */
  private[graft] def boost(
      instances: DataFrame,
      nf: Int,
      loss: GBMLoss,
      roundLoss: GBMLearner => GBMLoss,
      initScore: Vector => Array[Double],
      hessFloor: Double,
      ec: ExecutionContext,
      logStep: Array[Double] => Unit,
      instr: Instrumentation)
      : ArrayBuffer[(Array[EnsemblePredictionModelType], Array[Double], Array[Int])] = {
    val learner: GBMLearner = $(baseLearner) match {
      case dt: DecisionTreeRegressor if $(subspaceRatio) >= 1.0 && $(updates) == "gradient" =>
        new BinnedGBM(this, instances, loss, initScore, hasValidation, dt, ec)
      case _ => new PredictorGBM(this, instances, loss, initScore, hessFloor, nf, ec)
    }
    val rounds =
      ArrayBuffer.empty[(Array[EnsemblePredictionModelType], Array[Double], Array[Int])]
    val stop = new ValidationStop($(numRounds), $(validationTol))
    var valLoss: GBMLoss = null
    var i = 0
    try {
      while (i < $(maxIter) && !stop.stopped) {
        val lossB = roundLoss(learner)
        val indices = GraftUtils.subspace($(subspaceRatio), nf, $(seed) + i)
        val models = learner.fit(lossB, indices, $(seed) + i)
        val step =
          if ($(optimizedWeights)) stepSearch(learner.directions, lossB)
          else Array.fill(loss.dim)(1.0)
        val w = step.map(_ * $(learningRate))
        logStep(w)
        rounds += ((models, w, indices))
        learner.advance(w)
        if (hasValidation) {
          if (valLoss == null) valLoss = lossB
          learner.validationLoss(valLoss).foreach { vloss =>
            instr.logNamedValue("validationLoss", vloss)
            stop.observe(vloss, rounds)
          }
        }
        i += 1
      }
    } finally learner.close()
    instr.logNamedValue("numRoundsKept", rounds.length.toLong)
    rounds
  }

  /** Step vector over cached (yenc, f, direction, weight) rows,
    * minimizing phi(a) = sum w loss(yenc, f + a o direction) over
    * [0, inf)^dim. At dim 1: squared loss has the closed-form optimum
    * a* = sum(w*d*(y-f)) / sum(w*d^2) — ONE pass instead of Brent's ~25
    * sequential objective jobs; losses with a hessian (logcosh, scaled
    * logcosh, the margin losses) run [[NewtonStep]], each iteration ONE
    * pass computing (phi', phi'') together, typically 2-3 of them; the
    * losses with no usable second derivative (absolute, huber, quantile —
    * piecewise-linear tails) keep the Brent search over [0, 100]. At dim
    * K the softmax logloss runs [[newtonStepVector]] over the full KxK
    * hessian, falling back to bound-constrained L-BFGS-B whenever the
    * Newton path leaves the interior of [0,inf)^K or the solve goes
    * singular/non-finite, so the boundary semantics stay exactly the
    * reference's.
    */
  private def stepSearch(
      rdd: RDD[(Array[Double], Array[Double], Array[Double], Double)],
      loss: GBMLoss): Array[Double] = {
    val dim = loss.dim
    if (dim == 1) return Array(loss match {
      case SquaredLoss =>
        val (num, den) = NativeTreeBoost.orderedAggregate(rdd, (0.0, 0.0))(
          { case ((accN, accD), (yenc, f, dir, w)) =>
            (accN + w * dir(0) * (yenc(0) - f(0)), accD + w * dir(0) * dir(0))
          },
          (x, y) => (x._1 + y._1, x._2 + y._2))
        if (den <= 0 || !num.isFinite) 1.0
        else math.min(math.max(num / den, 0.0), 100.0)
      case h: HasHessian =>
        NewtonStep.search($(tol)) { step =>
          NativeTreeBoost.orderedAggregate(rdd, (0.0, 0.0))(
            { case ((accG, accH), (yenc, f, dir, w)) =>
              val fa = Array(f(0) + step * dir(0))
              (accG + w * loss.gradient(yenc, fa)(0) * dir(0),
                accH + w * h.hessian(yenc, fa)(0) * dir(0) * dir(0))
            },
            (x, y) => (x._1 + y._1, x._2 + y._2))
        }
      case _ =>
        val objective = new UnivariateObjectiveFunction(a =>
          NativeTreeBoost.orderedAggregate(rdd, 0.0)(
            (acc, t) => acc + t._4 * loss.loss(t._1, Array(t._2(0) + a * t._3(0))),
            _ + _))
        try {
          new BrentOptimizer($(tol), $(tol) * 1e-2)
            .optimize(
              new MaxEval(25), objective, GoalType.MINIMIZE, new SearchInterval(0.0, 100.0))
            .getPoint
        } catch { case _: Exception => 1.0 }
    })
    loss match {
      case fh: GBMLoss with HasFullHessian =>
        val res = newtonStepVector(rdd, fh, dim)
        if (res != null) return res
      case _ => ()
    }
    val objective = new DiffFunction[BDV[Double]] {
      override def calculate(a: BDV[Double]): (Double, BDV[Double]) = {
        val alpha = a.toArray
        val (l, g) = NativeTreeBoost.orderedAggregate(rdd, (0.0, new Array[Double](dim)))(
          { case ((accL, accG), (yenc, f, dir, w)) =>
            val fa = new Array[Double](dim)
            var j = 0
            while (j < dim) { fa(j) = f(j) + alpha(j) * dir(j); j += 1 }
            val grad = loss.gradient(yenc, fa)
            j = 0
            while (j < dim) { accG(j) += w * grad(j) * dir(j); j += 1 }
            (accL + w * loss.loss(yenc, fa), accG)
          },
          { case ((l1, g1), (l2, g2)) =>
            var j = 0
            while (j < dim) { g1(j) += g2(j); j += 1 }
            (l1 + l2, g1)
          })
        (l, BDV(g))
      }
    }
    val solver = new LBFGSB(
      BDV.zeros[Double](dim),
      BDV.fill(dim)(Double.PositiveInfinity),
      maxIter = 10, m = 5, tolerance = $(tol))
    try solver.minimize(objective, BDV.fill(dim)(1.0)).toArray
    catch { case _: Exception => Array.fill(dim)(1.0) }
  }

  /** Damped Newton over the full KxK hessian of
    * phi(alpha) = sum_i w_i loss(yenc_i, f_i + alpha o d_i): one
    * ordered aggregate per iteration computes phi, grad_j = sum w g_j d_j and
    * H_jk = sum w (d2 loss / df_j df_k) d_j d_k together. phi is convex
    * (convex loss composed with an affine map), so the Newton direction
    * descends — but softmax logloss flattens asymptotically, so a full
    * step can overshoot. The damping is the phi value that rides along
    * free in the same pass: a step that failed to decrease phi is halved
    * back toward the best evaluated point instead of Newton-stepping from
    * a worse one, and the answer is always the best EVALUATED point — by
    * construction never worse than the 1-vector init the fallback also
    * starts at. Returns null to signal "use the L-BFGS-B fallback" —
    * active bound on EITHER side (a coordinate pushed to 0, or past 100,
    * where the fallback's [0, +inf) bounds admit the true optimum),
    * singular solve, or non-finite numerics — so boundary behavior stays
    * exactly the reference's bound-constrained semantics.
    */
  private[graft] def newtonStepVector(
      rdd: RDD[(Array[Double], Array[Double], Array[Double], Double)],
      loss: GBMLoss with HasFullHessian,
      dim: Int): Array[Double] = {
    var alpha = Array.fill(dim)(1.0)
    var bestAlpha: Array[Double] = null
    var bestPhi = Double.PositiveInfinity
    var it = 0
    while (it < 8) {
      val step = alpha.clone()
      val (phi, g, h) = NativeTreeBoost.orderedAggregate(
        rdd, (0.0, new Array[Double](dim), new Array[Double](dim * dim)))(
        { case ((accL, accG, accH), (yenc, f, dir, w)) =>
          val fa = new Array[Double](dim)
          var j = 0
          while (j < dim) { fa(j) = f(j) + step(j) * dir(j); j += 1 }
          val grad = loss.gradient(yenc, fa)
          val hess = loss.fullHessian(yenc, fa)
          j = 0
          while (j < dim) {
            accG(j) += w * grad(j) * dir(j)
            var k = 0
            while (k < dim) {
              accH(j * dim + k) += w * hess(j * dim + k) * dir(j) * dir(k)
              k += 1
            }
            j += 1
          }
          (accL + w * loss.loss(yenc, fa), accG, accH)
        },
        { case ((l1, g1, h1), (l2, g2, h2)) =>
          var j = 0
          while (j < g1.length) { g1(j) += g2(j); j += 1 }
          j = 0
          while (j < h1.length) { h1(j) += h2(j); j += 1 }
          (l1 + l2, g1, h1)
        })
      var nonFinite = !phi.isFinite
      var gMax = 0.0
      var j = 0
      while (j < dim) {
        if (!g(j).isFinite) nonFinite = true
        gMax = math.max(gMax, math.abs(g(j)))
        j += 1
      }
      j = 0
      while (j < h.length) { if (!h(j).isFinite) nonFinite = true; j += 1 }
      if (nonFinite) return null
      if (phi <= bestPhi) {
        bestPhi = phi
        bestAlpha = step
        // stationary at the evaluated point (e.g. a near-zero direction):
        // it is the convex minimum; nothing better exists
        if (gMax < $(tol)) return step
        val delta = solveLinear(h, g, dim)
        if (delta == null) return null
        val next = new Array[Double](dim)
        var maxMove = 0.0
        j = 0
        while (j < dim) {
          val nj = step(j) - delta(j)
          // an active bound (either side) belongs to the bound-constrained
          // solver: [0, +inf) there, so an optimum above 100 is found, not
          // clamped to the probe box
          if (nj < 0.0 || nj > 100.0) return null
          maxMove = math.max(maxMove, math.abs(nj - step(j)))
          next(j) = nj
          j += 1
        }
        if (maxMove < $(tol)) return step
        alpha = next
      } else {
        // the last Newton step overshot (phi rose): halve back toward the
        // best evaluated point rather than stepping from a worse one
        val next = new Array[Double](dim)
        var maxMove = 0.0
        j = 0
        while (j < dim) {
          next(j) = (step(j) + bestAlpha(j)) / 2.0
          maxMove = math.max(maxMove, math.abs(next(j) - step(j)))
          j += 1
        }
        if (maxMove < $(tol)) return bestAlpha
        alpha = next
      }
      it += 1
    }
    bestAlpha
  }

  /** Solve H x = g for a small dense row-major dim x dim system by
    * Gaussian elimination with partial pivoting; null when singular.
    */
  private def solveLinear(hIn: Array[Double], gIn: Array[Double], dim: Int): Array[Double] = {
    val h = hIn.clone()
    val g = gIn.clone()
    var col = 0
    while (col < dim) {
      var piv = col
      var r = col + 1
      while (r < dim) {
        if (math.abs(h(r * dim + col)) > math.abs(h(piv * dim + col))) piv = r
        r += 1
      }
      if (math.abs(h(piv * dim + col)) < 1e-12) return null
      if (piv != col) {
        var c = 0
        while (c < dim) {
          val t = h(col * dim + c); h(col * dim + c) = h(piv * dim + c); h(piv * dim + c) = t
          c += 1
        }
        val t = g(col); g(col) = g(piv); g(piv) = t
      }
      r = col + 1
      while (r < dim) {
        val factor = h(r * dim + col) / h(col * dim + col)
        var c = col
        while (c < dim) { h(r * dim + c) -= factor * h(col * dim + c); c += 1 }
        g(r) -= factor * g(col)
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](dim)
    var r = dim - 1
    while (r >= 0) {
      var s = g(r)
      var c = r + 1
      while (c < dim) { s -= h(r * dim + c) * x(c); c += 1 }
      x(r) = s / h(r * dim + r)
      r -= 1
    }
    r = 0
    while (r < dim) { if (!x(r).isFinite) return null; r += 1 }
    x
  }
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
  * a convex phi(a), the dim-1 step search of losses with a hessian.
  * `probe(a)` is one pass over the data returning (phi'(a), phi''(a)).
  * Convexity means the sign of phi'(a) tells which side of the optimum `a`
  * is on, so a shrinking [lo, hi] bracket is kept and the search falls
  * back to its midpoint whenever the Newton step escapes it (hessians that
  * vanish in saturated regions, as logcosh's and the margin losses' do,
  * make the raw step oscillate between the clamps). A step escaping toward
  * a clamp not yet probed probes that clamp directly: near-constant
  * directions put the optimum there, and bisecting toward it would cost
  * log2(range/tol) passes. A non-finite probe gives the step 1.
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

/** The learner side of one GBM round over (encoded label, f) rows, f being
  * the running score vector of `dim` components: `fit` fits one base
  * regressor per model dimension to that component of the negative
  * gradient at f (rows sampled once with `sampleSeed` for all dimensions,
  * features restricted to `indices`) and leaves (yenc, f, direction,
  * weight) per training row in `directions` for the step search;
  * `advance` moves every row (train and validation) to f + w o direction.
  * `close` always runs.
  */
private[graft] trait GBMLearner {
  /** |label - f| over the training rows at dim 1, as column `__absr`. */
  def absResiduals: DataFrame
  def fit(loss: GBMLoss, indices: Array[Int], sampleSeed: Long): Array[EnsemblePredictionModelType]
  def directions: RDD[(Array[Double], Array[Double], Array[Double], Double)]
  def advance(w: Array[Double]): Unit
  /** Weighted mean loss over the validation rows; None without any. */
  def validationLoss(loss: GBMLoss): Option[Double]
  def close(): Unit
}

/** Any spark.ml regressor as the learner: every round re-enters its own
  * `fit`. Model state (score vector f, encoded label) lives in array
  * columns carried through [[IterLoopCache]] — no RDD.zip (SURVEY.md §7.0
  * decision 3). The per-dimension fits share one sampled frame and run
  * on `ec`, or as one fused job where the learner allows it.
  */
private[graft] final class PredictorGBM(
    est: GBMParams,
    instances: DataFrame,
    loss: GBMLoss,
    initScore: Vector => Array[Double],
    hessFloor: Double,
    nf: Int,
    ec: ExecutionContext) extends GBMLearner {
  private val dim = loss.dim
  private val loop = new IterLoopCache(est.getCheckpointInterval)
  private var df = {
    // local copies keep this learner out of the UDF closures
    val (lossB, f0) = (loss, initScore)
    loop.next(
      instances
        .withColumn("__yenc", udf { (y: Double) => lossB.encodeLabel(y) }.apply(col("label")))
        .withColumn("__f", udf { (x: Vector) => f0(x) }.apply(col("features")))
        .select("label", "weight", "features", "__val", "__yenc", "__f"))
  }
  private var withDir: DataFrame = _
  private var dirBlocks: RDD[_] = _

  def absResiduals: DataFrame =
    df.filter(!col("__val")).select(abs(col("label") - element_at(col("__f"), 1)).as("__absr"))

  def fit(
      loss: GBMLoss,
      indices: Array[Int],
      sampleSeed: Long): Array[EnsemblePredictionModelType] = {
    val newton = est.getUpdates == "newton" && loss.isInstanceOf[HasHessian]
    val floor = hessFloor
    val residUdf = udf { (yenc: Seq[Double], f: Seq[Double]) =>
      loss.negativeGradient(yenc.toArray, f.toArray).toSeq
    }
    // the floor keeps -grad/hess bounded where the loss flattens (the
    // reference clamps at 1e-2, regression/GBMRegressor.scala:368-385)
    val hessUdf = udf { (yenc: Seq[Double], f: Seq[Double]) =>
      loss.asInstanceOf[HasHessian].hessian(yenc.toArray, f.toArray).map(math.max(_, floor)).toSeq
    }
    val sampled = SubBagFit.sample(
      df.filter(!col("__val")), est.getReplacement, est.getSubsampleRatio, sampleSeed)
    def sliced(d: DataFrame): DataFrame = SubBagFit.sliceFeatures(d, indices, nf, "__sf")

    var fitBase = sampled.withColumn("__r", residUdf(col("__yenc"), col("__f")))
    if (newton) fitBase = fitBase.withColumn("__h", hessUdf(col("__yenc"), col("__f")))
    fitBase = sliced(fitBase)
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
    val dimModels = Learners.fitMulti(est.getBaseLearner, fitBase, targets).getOrElse {
      fitBase.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val futures = Array.tabulate(dim) { k =>
          Future {
            Learners.fit(
              est.getBaseLearner,
              fitBase.withColumn("__rk", targets(k)._1).withColumn("__wk", targets(k)._2),
              "__rk", featCol, Some("__wk"), weightRequired = newton)
          }(ec)
        }
        // a failed fit rethrows its own exception (ThreadUtils.awaitResult
        // would wrap it in a SparkException)
        futures.map(Await.result(_, Duration.Inf))
      } finally fitBase.unpersist()
    }
    // directions for all rows
    var d = sliced(df)
    var k = 0
    while (k < dim) {
      d = Learners.transformOn(dimModels(k), d, featCol, s"__d_$k")
      k += 1
    }
    withDir = d.withColumn("__d", array(IndexedSeq.tabulate(dim)(k => col(s"__d_$k")): _*))
    dimModels
  }

  def directions: RDD[(Array[Double], Array[Double], Array[Double], Double)] = {
    val (rows, handle) = NativeTreeBoost.cacheBlocks(withDir.filter(!col("__val"))
      .select(col("__yenc"), col("__f"), col("__d"), col("weight"))
      .rdd.map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray,
        r.getSeq[Double](2).toArray, r.getDouble(3))))
    dirBlocks = handle
    rows
  }

  def advance(w: Array[Double]): Unit = {
    if (dirBlocks != null) { dirBlocks.unpersist(); dirBlocks = null }
    val updateUdf = udf { (f: Seq[Double], dir: Seq[Double], ww: Seq[Double]) =>
      val out = new Array[Double](f.length)
      var j = 0
      while (j < f.length) { out(j) = f(j) + ww(j) * dir(j); j += 1 }
      out.toSeq
    }
    df = loop.next(
      withDir
        .withColumn("__f",
          updateUdf(col("__f"), col("__d"), array(w.toIndexedSeq.map(lit(_)): _*)))
        .select("label", "weight", "features", "__val", "__yenc", "__f"))
  }

  def validationLoss(loss: GBMLoss): Option[Double] = {
    val lossUdf = udf { (yenc: Seq[Double], f: Seq[Double]) =>
      loss.loss(yenc.toArray, f.toArray)
    }
    val agg = df.filter(col("__val"))
      .agg(
        sum(col("weight") * lossUdf(col("__yenc"), col("__f"))).as("l"),
        sum("weight").as("w"))
      .head()
    if (agg.isNullAt(0)) None else Some(agg.getDouble(0) / agg.getDouble(1))
  }

  def close(): Unit = {
    if (dirBlocks != null) dirBlocks.unpersist()
    loop.close()
  }
}

/** A Spark DecisionTreeRegressor as the learner over the bin-once
  * [[NativeTreeBoost]] table, shared across all rounds and the K
  * per-dimension fits — the `Predictor` learner re-pays the binning i*K
  * times. Per round one narrow map computes the K-dim negative gradient,
  * one BaggedPoint pass fixes the joint subsample for all dimensions, and
  * each dimension's fit is a relabeling map + the core induction (on
  * `ec`). Trees are identical to the `Predictor` learner's at
  * subsampleRatio = 1 because candidate splits depend on feature values
  * and the constant gradient-update weights only, never on the residual
  * labels (pinned by GBMSuite). Directions and the score update predict on
  * binned features (`GradientBoostedTrees.updatePrediction`, exact for
  * points binned with the fitted splits) — no per-row Vector boxing.
  */
private[graft] final class BinnedGBM(
    est: GBMParams,
    instances: DataFrame,
    loss: GBMLoss,
    initScore: Vector => Array[Double],
    hasVal: Boolean,
    dt: DecisionTreeRegressor,
    ec: ExecutionContext) extends GBMLearner {
  private val dim = loss.dim
  private val boost = new NativeTreeBoost(
    instances,
    dt.getOldStrategy(MetadataUtils.getCategoricalFeatures(instances.schema("features"))),
    dt.getSeed, est.getCheckpointInterval, sumOneWeights = false, hasVal)
  // closures take local copies: a constructor parameter referenced from a
  // task closure would pull this learner (and its DataFrames) into the task
  private val (f, valF) = {
    val f0 = initScore
    (new boost.State(boost.train.map(inst => f0(inst.features))),
      if (hasVal) new boost.State(boost.valid.map(inst => f0(inst.features))) else null)
  }
  private var trees: Array[DecisionTreeRegressionModel] = _
  // the round's (yenc, f, direction, weight) rows and their cache handle;
  // the next f is derived from them, so they stay cached until the next
  // round's first tree-level job has materialized it
  private var data: RDD[(Array[Double], Array[Double], Array[Double], Double)] = _
  private var dataBlocks: RDD[_] = _

  def absResiduals: DataFrame = {
    val absr = boost.treePoints.zip(f.rdd).map { case (tp, fr) => math.abs(tp.label - fr(0)) }
    instances.sparkSession.createDataset(absr)(Encoders.scalaDouble).toDF("__absr")
  }

  def fit(
      loss: GBMLoss,
      indices: Array[Int],
      sampleSeed: Long): Array[EnsemblePredictionModelType] = {
    // K-dim negative gradient + joint subsample, computed ONCE for all
    // dimensions (the `Predictor` learner samples once and shares its
    // frame the same way — parity matters for the per-dimension fits
    // seeing identical rows)
    val resid: RDD[(TreePoint, Array[Double])] = boost.treePoints.zip(f.rdd).map {
      case (tp, fr) => (tp, loss.negativeGradient(loss.encodeLabel(tp.label), fr))
    }
    val (bagged, baggedBlocks) = NativeTreeBoost.cacheBlocks(BaggedPoint.convertToBaggedRDD(
      resid, est.getSubsampleRatio, 1, est.getReplacement,
      (t: (TreePoint, Array[Double])) => t._1.weight, sampleSeed))
    trees =
      try {
        val futures = Array.tabulate(dim) { k =>
          Future {
            boost.grow(bagged.map { bp =>
              new BaggedPoint(
                new TreePoint(bp.datum._2(k), bp.datum._1.binnedFeatures, bp.datum._1.weight),
                bp.subsampleCounts, bp.sampleWeight)
            }).asInstanceOf[DecisionTreeRegressionModel]
          }(ec)
        }
        futures.map(Await.result(_, Duration.Inf))
      } finally baggedBlocks.unpersist(blocking = false)
    if (dataBlocks != null) dataBlocks.unpersist(blocking = false)
    val (ts, splits) = (trees, boost.bcSplits)
    val (rows, handle) = NativeTreeBoost.cacheBlocks(boost.treePoints.zip(f.rdd).map {
      case (tp, fr) =>
        val d = Array.tabulate(ts.length)(k =>
          NativeGBT.updatePrediction(tp, 0.0, ts(k), 1.0, splits.value))
        (loss.encodeLabel(tp.label), fr, d, tp.weight)
    })
    data = rows
    dataBlocks = handle
    trees.map(_.asInstanceOf[EnsemblePredictionModelType])
  }

  def directions: RDD[(Array[Double], Array[Double], Array[Double], Double)] = data

  def advance(w: Array[Double]): Unit = {
    f.set(data.map { case (_, fr, d, _) =>
      val out = new Array[Double](fr.length)
      var j = 0
      while (j < fr.length) { out(j) = fr(j) + w(j) * d(j); j += 1 }
      out
    })
    if (hasVal) {
      val (ts, splits) = (trees, boost.bcSplits)
      valF.set(boost.valPoints.zip(valF.rdd).map { case (tp, fr) =>
        val out = new Array[Double](fr.length)
        var j = 0
        while (j < fr.length) {
          out(j) = fr(j) + w(j) * NativeGBT.updatePrediction(tp, 0.0, ts(j), 1.0, splits.value)
          j += 1
        }
        out
      })
    }
  }

  def validationLoss(loss: GBMLoss): Option[Double] = {
    val (lsum, wsum) = NativeTreeBoost.orderedAggregate(boost.valPoints.zip(valF.rdd), (0.0, 0.0))(
      (acc, t) => (
        acc._1 + t._1.weight * loss.loss(loss.encodeLabel(t._1.label), t._2),
        acc._2 + t._1.weight),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    if (wsum > 0) Some(lsum / wsum) else None
  }

  def close(): Unit = {
    if (dataBlocks != null) dataBlocks.unpersist(blocking = false)
    boost.close()
  }
}
