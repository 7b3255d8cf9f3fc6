package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Future
import scala.concurrent.duration.Duration

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{DiffFunction, LBFGSB}
import org.apache.spark.ml.classification.{
  ProbabilisticClassificationModel, ProbabilisticClassifier
}
import org.apache.spark.ml.graft.loss._
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.impl.Utils.EPSILON
import org.apache.spark.ml.linalg.{DenseVector, Vector, Vectors}
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.HasParallelism
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.ThreadUtils
import org.json4s.JsonDSL._

private[graft] trait GBMClassifierParams
    extends GBMParams
    with org.apache.spark.ml.classification.ProbabilisticClassifierParams
    with HasParallelism {

  /** logloss (K-dim softmax) | exponential | bernoulli (scalar margin). */
  final val loss: Param[String] = new Param[String](
    this, "loss", "logloss|exponential|bernoulli",
    ParamValidators.inArray(Array("logloss", "exponential", "bernoulli")))
  def getLoss: String = $(loss)

  /** prior (log class priors / log-odds) | uniform (zeros). */
  final val initStrategy: Param[String] = new Param[String](
    this, "initStrategy", "prior|uniform",
    ParamValidators.inArray(Array("prior", "uniform")))
  def getInitStrategy: String = $(initStrategy)

  setDefault(loss -> "logloss", initStrategy -> "prior")

  private[graft] def lossObj(numClasses: Int): GBMClassificationLoss = $(loss) match {
    case "logloss" => LogLoss(numClasses)
    case "exponential" =>
      require(numClasses == 2, "exponential loss is binary-only"); ExponentialLoss
    case "bernoulli" =>
      require(numClasses == 2, "bernoulli loss is binary-only"); BernoulliLoss
  }
}

/** K-dimensional gradient boosting on a REGRESSOR base learner (reference:
  * classification/GBMClassifier.scala:219-496): per iteration one base
  * regressor per model dimension is fit to that component of the negative
  * gradient (concurrently, driver pool), and the joint step-size vector is
  * optimized by bound-constrained L-BFGS-B over a cached narrow projection.
  * One training loop over a learner backend, as in [[GBMRegressor]].
  */
class GBMClassifier(override val uid: String)
    extends ProbabilisticClassifier[Vector, GBMClassifier, GBMClassificationModel]
    with GBMClassifierParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("GBMClassifier"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setLoss(value: String): this.type = set(loss, value)
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
  def setParallelism(value: Int): this.type = set(parallelism, value)

  /** Joint step-size vector over cached (yenc, f, direction, weight)
    * rows. Margin losses (dim=1: bernoulli, exponential — analytic
    * scalar hessian, convex in the step) run [[NewtonStep]], the
    * regressor's 1-D Newton search: each iteration is ONE pass computing
    * (phi', phi'') together, typically 2-3 of them. The K-dimensional softmax logloss runs a damped
    * Newton over the FULL KxK hessian (HasFullHessian — the cross-class
    * terms that make coordinate-wise Newton unsound are included; K is
    * numClasses, so the per-row outer product is tiny): one pass per
    * iteration computing (grad, hessian) jointly, 2-3 iterations in
    * practice vs ~20 L-BFGS-B objective passes. Falls back to
    * bound-constrained L-BFGS-B whenever the Newton path leaves the
    * interior of [0,inf)^K or the solve goes singular/non-finite, so the
    * boundary semantics stay exactly the reference's.
    */
  private def stepVectorSearch(
      rdd: RDD[(Array[Double], Array[Double], Array[Double], Double)],
      lossB: GBMClassificationLoss,
      dim: Int): Array[Double] = {
    if (dim == 1 && lossB.isInstanceOf[HasHessian]) {
      val h = lossB.asInstanceOf[GBMClassificationLoss with HasHessian]
      val depth = $(aggregationDepth)
      return Array(NewtonStep.search($(tol)) { step =>
        rdd.treeAggregate((0.0, 0.0))(
          seqOp = { case ((accG, accH), (yenc, f, dir, w)) =>
            val fa = Array(f(0) + step * dir(0))
            (accG + w * h.gradient(yenc, fa)(0) * dir(0),
              accH + w * h.hessian(yenc, fa)(0) * dir(0) * dir(0))
          },
          combOp = (x, y) => (x._1 + y._1, x._2 + y._2),
          depth = depth)
      })
    }
    lossB match {
      case fh: GBMClassificationLoss with HasFullHessian =>
        val res = newtonStepVector(rdd, fh, dim)
        if (res != null) return res
      case _ => ()
    }
    rdd.count()
    val objective = new DiffFunction[BDV[Double]] {
      override def calculate(a: BDV[Double]): (Double, BDV[Double]) = {
        val alpha = a.toArray
        val d = dim
        val (l, g) = rdd.treeAggregate((0.0, new Array[Double](d)))(
          seqOp = { case ((accL, accG), (yenc, f, dir, w)) =>
            val fa = new Array[Double](d)
            var j = 0
            while (j < d) { fa(j) = f(j) + alpha(j) * dir(j); j += 1 }
            val grad = lossB.gradient(yenc, fa)
            j = 0
            while (j < d) { accG(j) += w * grad(j) * dir(j); j += 1 }
            (accL + w * lossB.loss(yenc, fa), accG)
          },
          combOp = { case ((l1, g1), (l2, g2)) =>
            var j = 0
            while (j < dim) { g1(j) += g2(j); j += 1 }
            (l1 + l2, g1)
          },
          depth = $(aggregationDepth))
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
    * treeAggregate per iteration computes phi, grad_j = sum w g_j d_j and
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
      loss: GBMClassificationLoss with HasFullHessian,
      dim: Int): Array[Double] = {
    val depth = $(aggregationDepth)
    var alpha = Array.fill(dim)(1.0)
    var bestAlpha: Array[Double] = null
    var bestPhi = Double.PositiveInfinity
    var it = 0
    while (it < 8) {
      val step = alpha.clone()
      val (phi, g, h) = rdd.treeAggregate(
        (0.0, new Array[Double](dim), new Array[Double](dim * dim)))(
        seqOp = { case ((accL, accG, accH), (yenc, f, dir, w)) =>
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
        combOp = { case ((l1, g1, h1), (l2, g2, h2)) =>
          var j = 0
          while (j < g1.length) { g1(j) += g2(j); j += 1 }
          j = 0
          while (j < h1.length) { h1(j) += h2(j); j += 1 }
          (l1 + l2, g1, h1)
        },
        depth = depth)
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

  override protected def train(dataset: Dataset[_]): GBMClassificationModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): GBMClassificationModel = {
    val numClasses = getNumClasses(dataset)
    val gbmLoss = lossObj(numClasses)
    val dim = gbmLoss.dim
    val hasVal = isDefined(validationIndicatorCol) && $(validationIndicatorCol).nonEmpty
    val valCol =
      if (hasVal) col($(validationIndicatorCol)).cast("boolean") else lit(false)

    val instances = SubBagFit.instances(this, dataset, extra = Seq(valCol -> "__val"))
    val nf = GraftUtils.numFeatures(instances, "features")
    instr.logNumFeatures(nf)
    instr.logNumClasses(numClasses)

    // ---- constant init vector f_0 (reference:
    // classification/GBMClassifier.scala:275-288)
    val init: Array[Double] = $(initStrategy) match {
      case "uniform" => Array.fill(dim)(0.0)
      case "prior" =>
        val counts = instances.filter(!col("__val"))
          .groupBy("label").agg(sum("weight").as("w")).collect()
          .map(r => (r.getDouble(0).toInt, r.getDouble(1))).toMap
        val total = counts.values.sum
        val priors = Array.tabulate(numClasses)(k =>
          math.max(counts.getOrElse(k, 0.0) / total, EPSILON))
        if (dim == 1) Array(0.5 * math.log(priors(1) / priors(0))) // log-odds
        else priors.map(math.log)
    }

    val learner: ClsLearner = $(baseLearner) match {
      case dt: org.apache.spark.ml.regression.DecisionTreeRegressor
          if $(subspaceRatio) >= 1.0 && $(updates) == "gradient" =>
        new BinnedClsLearner(instances, init, gbmLoss, hasVal, dt)
      case _ => new PredictorClsLearner(instances, init, gbmLoss, nf)
    }
    val rounds = ArrayBuffer.empty[(Array[EnsemblePredictionModelType], Array[Double], Array[Int])]
    val stop = new ValidationStop($(numRounds), $(validationTol))
    var i = 0
    try {
      while (i < $(maxIter) && !stop.stopped) {
        val indices = GraftUtils.subspace($(subspaceRatio), nf, $(seed) + i)
        val dimModels = learner.fit(gbmLoss, indices, $(seed) + i)
        // joint step-size vector over [0, inf)^dim
        val stepVec =
          if ($(optimizedWeights)) stepVectorSearch(learner.directions, gbmLoss, dim)
          else Array.fill(dim)(1.0)
        val w = stepVec.map(_ * $(learningRate))
        instr.logNamedValue("stepSize", w)
        rounds += ((dimModels, w, indices))
        learner.advance(w)
        if (hasVal) {
          learner.validationLoss(gbmLoss).foreach { vloss =>
            instr.logNamedValue("validationLoss", vloss)
            stop.observe(vloss, rounds)
          }
        }
        i += 1
      }
    } finally learner.close()
    instr.logNamedValue("numRoundsKept", rounds.length.toLong)
    new GBMClassificationModel(
      uid, numClasses, init,
      rounds.map(_._2).toArray, rounds.map(_._3).toArray, rounds.map(_._1).toArray)
      .setParent(this)
  }

  /** The learner side of one K-dim GBM iteration over (encoded label, f)
    * rows, f being the running score vector: `fit` fits one base regressor
    * per model dimension to that component of the negative gradient at f
    * (rows sampled once with `sampleSeed` for all dimensions, features
    * restricted to `indices`) and leaves (yenc, f, direction, weight) per
    * training row in `directions` for the step search; `advance` moves
    * every row (train and validation) to f + w o direction. `close` always
    * runs.
    */
  private trait ClsLearner {
    def fit(
        loss: GBMClassificationLoss,
        indices: Array[Int],
        sampleSeed: Long): Array[EnsemblePredictionModelType]
    def directions: RDD[(Array[Double], Array[Double], Array[Double], Double)]
    def advance(w: Array[Double]): Unit
    /** Weighted mean loss over the validation rows; None without any. */
    def validationLoss(loss: GBMClassificationLoss): Option[Double]
    def close(): Unit
  }

  /** Any spark.ml regressor as the learner. Model state (score vector f,
    * encoded label) lives in array columns carried through
    * [[IterLoopCache]] — no RDD.zip (SURVEY.md §7.0 decision 3). The K
    * per-class fits share one sampled frame and run concurrently on the
    * driver pool, or as one fused job where the learner allows it.
    */
  private class PredictorClsLearner(
      instances: DataFrame,
      init: Array[Double],
      loss: GBMClassificationLoss,
      nf: Int) extends ClsLearner {
    private val dim = loss.dim
    private val ec = getExecutionContext
    private val loop = new IterLoopCache($(checkpointInterval))
    private var df = {
      val lossB = loss // a local copy keeps this learner out of the UDF closure
      loop.next(
        instances
          .withColumn("__yenc", udf { (y: Double) => lossB.encodeLabel(y) }.apply(col("label")))
          .withColumn("__f", array(init.toIndexedSeq.map(lit(_)): _*))
          .select("label", "weight", "features", "__val", "__yenc", "__f"))
    }
    private var withDir: DataFrame = _
    private var dirRows: RDD[(Array[Double], Array[Double], Array[Double], Double)] = _

    def fit(
        loss: GBMClassificationLoss,
        indices: Array[Int],
        sampleSeed: Long): Array[EnsemblePredictionModelType] = {
      val newton = $(updates) == "newton"
      val residUdf = udf { (yenc: Seq[Double], f: Seq[Double]) =>
        loss.negativeGradient(yenc.toArray, f.toArray).toSeq
      }
      val hessUdf = udf { (yenc: Seq[Double], f: Seq[Double]) =>
        loss.asInstanceOf[GBMClassificationLoss with HasHessian]
          .hessian(yenc.toArray, f.toArray).toSeq
      }
      val sampled =
        SubBagFit.sample(df.filter(!col("__val")), $(replacement), $(subsampleRatio), sampleSeed)
      def sliced(d: DataFrame): DataFrame = SubBagFit.sliceFeatures(d, indices, nf, "__sf")

      var fitBase = sampled.withColumn("__r", residUdf(col("__yenc"), col("__f")))
      if (newton) fitBase = fitBase.withColumn("__h", hessUdf(col("__yenc"), col("__f")))
      fitBase = sliced(fitBase)
      val featCol = if (indices.length == nf) "features" else "__sf"
      // fused multi-target fit first: one job for all K classes when the
      // base learner's fit is a single aggregation (K separate fit
      // actions are K job floors on a small-partition input); the same
      // per-class (label, weight) expressions feed both paths
      val targets = IndexedSeq.tabulate(dim) { k =>
        val rk = element_at(col("__r"), k + 1)
        if (newton) {
          val hk = element_at(col("__h"), k + 1)
          (rk / hk, col("weight") * hk)
        } else (rk, col("weight"))
      }
      val dimModels = Learners.fitMulti($(baseLearner), fitBase, targets).getOrElse {
        fitBase.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val futures = Array.tabulate(dim) { k =>
            Future {
              Learners.fit(
                $(baseLearner),
                fitBase.withColumn("__rk", targets(k)._1).withColumn("__wk", targets(k)._2),
                "__rk", featCol, Some("__wk"), weightRequired = newton)
            }(ec)
          }
          futures.map(ThreadUtils.awaitResult(_, Duration.Inf))
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
      dirRows = withDir.filter(!col("__val"))
        .select(col("__yenc"), col("__f"), col("__d"), col("weight"))
        .rdd.map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray,
          r.getSeq[Double](2).toArray, r.getDouble(3)))
      dirRows.persist(StorageLevel.MEMORY_AND_DISK)
    }

    def advance(w: Array[Double]): Unit = {
      if (dirRows != null) { dirRows.unpersist(); dirRows = null }
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

    def validationLoss(loss: GBMClassificationLoss): Option[Double] = {
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
      if (dirRows != null) dirRows.unpersist()
      loop.close()
    }
  }

  /** A Spark DecisionTreeRegressor as the learner over the bin-once
    * [[NativeTreeBoost]] table, shared across BOTH boosting iterations and
    * the K per-class fits — the generic learner re-pays the binning i*K
    * times. Per iteration one narrow map computes the K-dim negative
    * gradient, one BaggedPoint pass fixes the joint subsample for all
    * classes, and each class fit is a relabeling map + the core induction
    * (still concurrent on the driver pool). Directions and the score update
    * predict on binned features.
    */
  private class BinnedClsLearner(
      instances: DataFrame,
      init: Array[Double],
      loss: GBMClassificationLoss,
      hasVal: Boolean,
      dt: org.apache.spark.ml.regression.DecisionTreeRegressor) extends ClsLearner {
    import org.apache.spark.ml.regression.DecisionTreeRegressionModel
    import org.apache.spark.ml.tree.impl.{
      BaggedPoint, GradientBoostedTrees => NativeGBT, TreePoint
    }

    private val dim = loss.dim
    private val ec = getExecutionContext
    private val boost = new NativeTreeBoost(
      instances,
      dt.getOldStrategy(MetadataUtils.getCategoricalFeatures(instances.schema("features"))),
      dt.getSeed, $(checkpointInterval), sumOneWeights = false, hasVal)
    // a local copy keeps this learner out of the task closures
    private val (f, valF) = {
      val f0 = init
      (new boost.State(boost.treePoints.map(_ => f0.clone())),
        if (hasVal) new boost.State(boost.valPoints.map(_ => f0.clone())) else null)
    }
    private var trees: Array[DecisionTreeRegressionModel] = _
    private var data: RDD[(Array[Double], Array[Double], Array[Double], Double)] = _

    def fit(
        loss: GBMClassificationLoss,
        indices: Array[Int],
        sampleSeed: Long): Array[EnsemblePredictionModelType] = {
      // K-dim negative gradient + joint subsample, computed ONCE for all
      // classes (the generic learner samples once and shares fitBase the
      // same way — parity matters for the per-class fits seeing identical
      // rows)
      val resid: RDD[(TreePoint, Array[Double])] = boost.treePoints.zip(f.rdd).map {
        case (tp, fr) => (tp, loss.negativeGradient(loss.encodeLabel(tp.label), fr))
      }
      val bagged = BaggedPoint.convertToBaggedRDD(
        resid, $(subsampleRatio), 1, $(replacement),
        (t: (TreePoint, Array[Double])) => t._1.weight, sampleSeed)
      bagged.persist(StorageLevel.MEMORY_AND_DISK)
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
          futures.map(ThreadUtils.awaitResult(_, Duration.Inf))
        } finally bagged.unpersist(blocking = false)
      val (ts, splits) = (trees, boost.bcSplits)
      data = boost.treePoints.zip(f.rdd).map { case (tp, fr) =>
        val d = Array.tabulate(ts.length)(k =>
          NativeGBT.updatePrediction(tp, 0.0, ts(k), 1.0, splits.value))
        (loss.encodeLabel(tp.label), fr, d, tp.weight)
      }
      data.persist(StorageLevel.MEMORY_AND_DISK)
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
      data.unpersist(blocking = false)
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

    def validationLoss(loss: GBMClassificationLoss): Option[Double] = {
      val (lsum, wsum) = boost.valPoints.zip(valF.rdd).treeAggregate((0.0, 0.0))(
        (acc, t) => (
          acc._1 + t._1.weight * loss.loss(loss.encodeLabel(t._1.label), t._2),
          acc._2 + t._1.weight),
        (a, b) => (a._1 + b._1, a._2 + b._2),
        $(aggregationDepth))
      if (wsum > 0) Some(lsum / wsum) else None
    }

    def close(): Unit = {
      if (data != null) data.unpersist(blocking = false)
      boost.close()
    }
  }

  override def copy(extra: ParamMap): GBMClassifier = defaultCopy(extra)

  override def write: MLWriter = GraftPersistence.writer(this)
}

object GBMClassifier extends GraftReadable[GBMClassifier](s => new GBMClassifier(s.uid))

class GBMClassificationModel(
    override val uid: String,
    override val numClasses: Int,
    val init: Array[Double],
    val modelWeights: Array[Array[Double]],
    val subspaces: Array[Array[Int]],
    val models: Array[Array[EnsemblePredictionModelType]])
    extends ProbabilisticClassificationModel[Vector, GBMClassificationModel]
    with GBMClassifierParams
    with MLWritable {

  private lazy val gbmLoss = lossObj(numClasses)
  private val dim = init.length

  /** raw = f_0 + sum_i w_i (x) d_i(x); binary margin mapped to (-f, f)
    * (reference: classification/GBMClassifier.scala:567-589).
    */
  override def predictRaw(features: Vector): Vector = {
    val f = init.clone()
    var i = 0
    while (i < models.length) {
      val sub = subspaces(i)
      val x = if (sub.length == features.size) features else GraftUtils.sliceVector(features, sub)
      var k = 0
      while (k < dim) {
        f(k) += modelWeights(i)(k) * models(i)(k).predict(x)
        k += 1
      }
      i += 1
    }
    gbmLoss.toRaw(f, numClasses)
  }

  override protected def raw2probabilityInPlace(rawPrediction: Vector): Vector =
    rawPrediction match {
      case d: DenseVector => gbmLoss.raw2probabilityInPlace(d)
      case v => throw new IllegalArgumentException(s"unexpected raw vector $v")
    }

  override def copy(extra: ParamMap): GBMClassificationModel =
    copyValues(
      new GBMClassificationModel(uid, numClasses, init, modelWeights, subspaces, models),
      extra).setParent(parent)

  override def write: MLWriter = GraftPersistence.writer(
    this,
    ("numIters" -> models.length) ~ ("dim" -> dim) ~ ("numClasses" -> numClasses) ~
      ("init" -> init.toSeq) ~ ("modelWeights" -> modelWeights.map(_.toSeq).toSeq) ~
      ("subspaces" -> subspaces.map(_.toSeq).toSeq),
    for (i <- models.indices; k <- 0 until dim) yield s"model-$i-$k" -> models(i)(k))
}

object GBMClassificationModel extends GraftReadable[GBMClassificationModel](s =>
  new GBMClassificationModel(
    s.uid, s.int("numClasses"), s.doubles("init"),
    s.get[Seq[Seq[Double]]]("modelWeights").map(_.toArray).toArray, s.subspaces,
    Array.tabulate(s.int("numIters"), s.int("dim"))((i, k) => s.model(s"model-$i-$k"))))
