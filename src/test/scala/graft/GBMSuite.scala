package org.apache.spark.ml.graft

import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.graft.loss._
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.PredictorBackend

class GBMLossSuite extends org.scalatest.funsuite.AnyFunSuite {

  private val rng = new scala.util.Random(13)

  private def numericalGrad(l: GBMLoss, y: Array[Double], f: Array[Double]): Array[Double] = {
    val eps = 1e-6
    Array.tabulate(f.length) { k =>
      val fp = f.clone(); fp(k) += eps
      val fm = f.clone(); fm(k) -= eps
      (l.loss(y, fp) - l.loss(y, fm)) / (2 * eps)
    }
  }

  test("analytic gradients match finite differences (all losses)") {
    val scalarLosses: Seq[GBMLoss] = Seq(
      SquaredLoss, AbsoluteLoss, LogCoshLoss, ScaledLogCoshLoss(0.3),
      HuberLoss(1.5), QuantileLoss(0.7))
    for (loss <- scalarLosses; _ <- 0 until 50) {
      val y = rng.nextGaussian() * 3
      val f = rng.nextGaussian() * 3
      if (math.abs(y - f) > 1e-3 && (loss match {
            case HuberLoss(d) => math.abs(math.abs(y - f) - d) > 1e-3 // kink
            case _ => true
          })) {
        val enc = loss.encodeLabel(y)
        val g = loss.gradient(enc, Array(f))
        val ng = numericalGrad(loss, enc, Array(f))
        assert(math.abs(g(0) - ng(0)) < 1e-4, s"$loss at y=$y f=$f: ${g(0)} vs ${ng(0)}")
      }
    }
  }

  test("classification losses: gradients match finite differences") {
    val k = 4
    val ll = LogLoss(k)
    for (_ <- 0 until 50) {
      val y = ll.encodeLabel(rng.nextInt(k).toDouble)
      val f = Array.fill(k)(rng.nextGaussian())
      val g = ll.gradient(y, f)
      val ng = numericalGrad(ll, y, f)
      g.indices.foreach(j => assert(math.abs(g(j) - ng(j)) < 1e-4))
    }
    for (loss <- Seq[GBMLoss](ExponentialLoss, BernoulliLoss); _ <- 0 until 50) {
      val y = loss.encodeLabel(rng.nextInt(2).toDouble)
      val f = Array(rng.nextGaussian())
      val g = loss.gradient(y, f)
      val ng = numericalGrad(loss, y, f)
      assert(math.abs(g(0) - ng(0)) < 1e-4)
    }
  }

  test("hessians are positive and match finite differences where smooth") {
    for (_ <- 0 until 50) {
      val y = rng.nextGaussian() * 2
      val f = rng.nextGaussian() * 2
      val eps = 1e-5
      // squared
      assert(SquaredLoss.hessian(y, f) === 1.0)
      // logcosh: d2/df2 via gradient finite diff
      val numH = (LogCoshLoss.gradient(y, f + eps) - LogCoshLoss.gradient(y, f - eps)) / (2 * eps)
      assert(math.abs(LogCoshLoss.hessian(y, f) - numH) < 1e-4)
    }
    val ll = LogLoss(3)
    val y = ll.encodeLabel(1.0)
    val f = Array(0.1, -0.2, 0.5)
    ll.hessian(y, f).foreach(h => assert(h > 0))
  }

  test("margin losses: probability link is sane") {
    val raw = Vectors.dense(-0.8, 0.8).toDense
    val p = ExponentialLoss.raw2probabilityInPlace(raw.copy)
    assert(math.abs(p(0) + p(1) - 1.0) < 1e-12)
    assert(p(1) > 0.5) // positive margin -> class 1
    val praw = LogLoss(3).raw2probabilityInPlace(Vectors.dense(1.0, 2.0, 3.0).toDense)
    assert(math.abs(praw.values.sum - 1.0) < 1e-12)
    assert(praw(2) > praw(1) && praw(1) > praw(0))
  }
}

class GBMSuite extends graft.SparkSpec {

  private def rmse(df: DataFrame): Double =
    df.select(sqrt(avg(pow(col("prediction") - col("label"), 2)))).head().getDouble(0)

  private def accuracy(df: DataFrame): Double = {
    val rows = df.select("prediction", "label").collect()
    rows.count(r => r.getDouble(0) == r.getDouble(1)).toDouble / rows.length
  }

  private lazy val regDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(17)
    (0 until 600).map { _ =>
      val x = Array.fill(4)(rng.nextDouble() * 10)
      (2 * x(0) - x(1) + 0.5 * x(2) + rng.nextGaussian() * 0.1, Vectors.dense(x))
    }.toDF("label", "features")
  }

  private lazy val clsDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(19)
    (0 until 600).map { _ =>
      val x = Array.fill(4)(rng.nextDouble() * 10)
      val label = ((x(0) + x(1) * 2) / 10).toInt.min(2).toDouble
      (label, Vectors.dense(x))
    }.toDF("label", "features")
  }

  test("GBMRegressor reduces training error vs single iteration") {
    def fit(iters: Int) = new GBMRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
      .setMaxIter(iters)
      .setLearningRate(0.5)
      .setSeed(0L)
      .fit(regDf)
    val one = rmse(fit(1).transform(regDf))
    val ten = rmse(fit(10).transform(regDf))
    assert(ten < one, s"10 iters $ten should beat 1 iter $one")
  }

  test("GBMRegressor absolute/huber/quantile losses fit") {
    for (l <- Seq("absolute", "huber", "quantile", "logcosh")) {
      val m = new GBMRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
        .setMaxIter(3)
        .setLoss(l)
        .setSeed(0L)
        .fit(regDf)
      assert(m.models.length === 3)
      val r = rmse(m.transform(regDf))
      assert(r.isFinite && r < 20, s"loss=$l rmse=$r")
    }
  }

  test("quantile GBM refits in one JVM give bit-identical predictions") {
    // Brent amplifies ulp noise in its objective on the piecewise-linear
    // quantile loss, so the step search must sum in a fixed order: summed
    // in task-completion order, the round-3 step moved from fit to fit.
    // The Predictor backend's fits sum in the same fixed order: its GBM
    // step search and validation loss, and its AdaBoost weight sums.
    val features = regDf.collect().map(_.getAs[Vector](1))
    def same(fit: () => (Seq[Double], Vector => Double)): Unit = {
      val fits = Seq.fill(4)(fit())
      def bits(predict: Vector => Double) =
        features.map(predict).map(java.lang.Double.doubleToLongBits).toSeq
      fits.tail.foreach { case (weights, predict) =>
        assert(weights === fits.head._1)
        assert(bits(predict) === bits(fits.head._2))
      }
    }
    def gbm(fast: Boolean, loss: String, withVal: Boolean) = () => {
      val m = new GBMRegressor()
        .setBaseLearner(
          PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(3).setSeed(1)))
        .setMaxIter(4)
        .setLearningRate(0.5)
        .setLoss(loss)
        .setValidationIndicatorCol(if (withVal) "isVal" else "")
        .setSeed(0L)
        .fit(regDf.withColumn("isVal", col("label") > 12))
      (m.modelWeights.toSeq, m.predict _)
    }
    same(gbm(fast = true, "quantile", withVal = false))
    same(gbm(fast = false, "quantile", withVal = true))
    val cls = regDf.withColumn("label", (col("label") > 7).cast("double"))
    same { () =>
      val m = new BoostingClassifier()
        .setBaseLearner(
          PredictorBackend.pin(false, new DecisionTreeClassifier().setMaxDepth(2).setSeed(1)))
        .setNumBaseLearners(4)
        .fit(cls)
      (m.modelWeights.toSeq, m.predictProbability(_: Vector)(1))
    }
  }

  test("logcosh/scaledlogcosh Newton line search matches Brent's step (±tol)") {
    // one boosting round, learningRate 1.0 => modelWeights(0) IS the
    // line-search step; re-derive Brent's answer on the same
    // phi(a) = sum w*L(y, f + a*d) driver-side and pin the Newton step
    // against it
    import org.apache.commons.math3.optim.MaxEval
    import org.apache.commons.math3.optim.nonlinear.scalar.GoalType
    import org.apache.commons.math3.optim.univariate.{
      BrentOptimizer, SearchInterval, UnivariateObjectiveFunction
    }
    for ((lossName, lossObj) <- Seq[(String, GBMRegressionLoss)](
        "logcosh" -> LogCoshLoss, "scaledlogcosh" -> ScaledLogCoshLoss(0.9))) {
      val est = new GBMRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
        .setMaxIter(1)
        .setLoss(lossName)
        .setAlpha(0.9)
        .setLearningRate(1.0)
        .setSeed(0L)
      val m = est.fit(regDf)
      val aNewton = m.modelWeights(0)
      val rows = regDf.collect().map { r =>
        val x = r.getAs[Vector](1)
        (r.getDouble(0), m.init.predict(x), m.models(0).predict(x))
      }
      val objective = new UnivariateObjectiveFunction(a =>
        rows.map { case (y, f, d) => lossObj.loss(y, f + a * d) }.sum)
      val aBrent = new BrentOptimizer(1e-8, 1e-10)
        .optimize(new MaxEval(200), objective, GoalType.MINIMIZE, new SearchInterval(0.0, 100.0))
        .getPoint
      assert(math.abs(aNewton - aBrent) < 1e-3,
        s"loss=$lossName newton step $aNewton vs brent $aBrent")
    }
  }

  test("GBMRegressor newton updates + subbag fit") {
    val m = new GBMRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
      .setMaxIter(3)
      .setUpdates("newton")
      .setLoss("logcosh")
      .setSubsampleRatio(0.7)
      .setSubspaceRatio(0.7)
      .setSeed(0L)
      .fit(regDf)
    assert(m.models.length === 3)
    assert(m.subspaces.exists(_.length < 4))
    assert(rmse(m.transform(regDf)) < 20)
  }

  test("GBMRegressor newton floors the hessian at 1e-2 when fitting") {
    // labels at +-100 around a constant init near 0: logcosh saturates, so
    // every row's hessian sits at the loss's own 1e-12 floor. The fit-time
    // floor of 1e-2 bounds each newton target -grad/hess by |grad| / 1e-2
    // <= 100, and a leaf is a weighted mean of targets (the slack covers
    // the rounding of that mean); without the floor the targets reach 1e12
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(23)
    val far = (0 until 200).map { _ =>
      val x = Array.fill(2)(rng.nextDouble() * 2 - 1)
      (if (x(0) > 0) 100.0 else -100.0, Vectors.dense(x))
    }.toDF("label", "features")
    val m = new GBMRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2).setSeed(1))
      .setLoss("logcosh")
      .setUpdates("newton")
      .setOptimizedWeights(false)
      .setMaxIter(1)
      .setSeed(0L)
      .fit(far)
    val leaves = far.collect().map(r => m.models(0).predict(r.getAs[Vector](1)))
    assert(leaves.forall(l => math.abs(l) <= 100.0 + 1e-6),
      s"max |leaf| ${leaves.map(math.abs).max} exceeds |grad| / 1e-2")
  }

  test("native-tree fast path matches the generic loop tree-for-tree") {
    // splits depend on feature values only, so binning once and relabeling
    // must produce the same trees as re-entering DecisionTreeRegressor.fit
    // each iteration (at subsampleRatio=1 where no sampling RNG differs)
    // newton is excluded by design: its hessian reweighting changes the
    // weighted split candidates each iteration, so it takes the generic
    // path (asserted below)
    for ((l, upd, opt) <- Seq(
        ("squared", "gradient", false),
        ("huber", "gradient", true),
        ("absolute", "gradient", true))) {
      def fitWith(fast: Boolean) = new GBMRegressor()
        .setBaseLearner(
          PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(3).setSeed(1)))
        .setMaxIter(4)
        .setLoss(l)
        .setUpdates(upd)
        .setOptimizedWeights(opt)
        .setLearningRate(0.5)
        .setSeed(0L)
        .fit(regDf)
      val fast = fitWith(true)
      val slow = fitWith(false)
      assert(fast.models.length === slow.models.length)
      val diffs = regDf.collect().map { r =>
        val v = r.getAs[Vector](1)
        math.abs(fast.predict(v) - slow.predict(v))
      }
      val tol = if (opt) 1e-6 else 1e-9
      assert(diffs.max < tol, s"loss=$l updates=$upd maxDiff=${diffs.max}")
    }
  }

  test("native-tree fast path honors instance weights like the generic loop") {
    // weights flow TreePoint.weight -> BaggedPoint sampleWeight -> split
    // stats; with constant (gradient) weights both paths see identical
    // weighted data, so trees must match under a non-trivial weightCol
    val weighted = regDf.withColumn("w", (col("label") * 0 + 1.0) + pmod(monotonically_increasing_id(), lit(5)).cast("double"))
    def fitWith(fast: Boolean) = new GBMRegressor()
      .setBaseLearner(
        PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(3).setSeed(1)))
      .setMaxIter(3)
      .setWeightCol("w")
      .setLearningRate(0.5)
      .setSeed(0L)
      .fit(weighted)
    val fast = fitWith(true)
    val slow = fitWith(false)
    val diffs = regDf.collect().map { r =>
      val v = r.getAs[Vector](1)
      math.abs(fast.predict(v) - slow.predict(v))
    }
    assert(diffs.max < 1e-6, s"weighted maxDiff=${diffs.max}")
  }

  test("native-tree fast path replays validation early stopping identically") {
    val withVal = regDf.withColumn("isVal", rand(7) > 0.7)
    def fitWith(fast: Boolean) = new GBMRegressor()
      .setBaseLearner(
        PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(2).setSeed(1)))
      .setMaxIter(30)
      .setLearningRate(1.0)
      .setValidationIndicatorCol("isVal")
      .setNumRounds(2)
      .setSeed(0L)
      .fit(withVal)
    val fast = fitWith(true)
    val slow = fitWith(false)
    assert(fast.models.length === slow.models.length,
      s"fast stopped at ${fast.models.length}, generic at ${slow.models.length}")
  }

  test("GBMClassifier native-tree fast path replays validation early stopping identically") {
    val withVal = clsDf.withColumn("isVal", rand(7) > 0.7)
    def fitWith(fast: Boolean) = new GBMClassifier()
      .setBaseLearner(
        PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(2).setSeed(1)))
      .setMaxIter(30)
      .setLoss("logloss")
      .setLearningRate(1.0)
      .setValidationIndicatorCol("isVal")
      .setNumRounds(2)
      .setSeed(0L)
      .fit(withVal)
    val fast = fitWith(true)
    val slow = fitWith(false)
    assert(fast.models.length < 30, s"expected an early stop, got ${fast.models.length}")
    assert(fast.models.length === slow.models.length,
      s"fast stopped at ${fast.models.length}, generic at ${slow.models.length}")
  }

  test("GBMRegressor validation early stopping truncates") {
    val s = spark
    import s.implicits._
    val withVal = regDf.withColumn("isVal", rand(7) > 0.7)
    val m = new GBMRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2).setSeed(1))
      .setMaxIter(30)
      .setLearningRate(1.0)
      .setValidationIndicatorCol("isVal")
      .setNumRounds(2)
      .setSeed(0L)
      .fit(withVal)
    assert(m.models.length < 30, s"expected early stop, got ${m.models.length}")
    // must actually learn before stopping: the first evaluated round
    // establishes the baseline rather than counting as a failure
    assert(m.models.length > 1, s"stopped degenerately at ${m.models.length}")
  }

  test("GBMClassifier native-tree fast path matches the generic loop") {
    for ((l, opt, tol) <- Seq(
        ("logloss", false, 1e-9),
        ("bernoulli", false, 1e-9),
        // with the joint L-BFGS-B step search, aggregation-order float
        // noise can shift the solver's path slightly — probabilities must
        // still agree to ~1e-4
        ("logloss", true, 1e-4))) {
      val df = if (l == "bernoulli") clsDf.withColumn("label", (col("label") > 0).cast("double"))
        else clsDf
      def fitWith(fast: Boolean) = new GBMClassifier()
        .setBaseLearner(
          PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(3).setSeed(1)))
        .setMaxIter(3)
        .setLoss(l)
        .setOptimizedWeights(opt)
        .setLearningRate(0.5)
        .setSeed(0L)
        .fit(df)
      val fast = fitWith(true)
      val slow = fitWith(false)
      assert(fast.models.length === slow.models.length)
      val diffs = df.collect().map { r =>
        val v = r.getAs[Vector](1)
        val pf = fast.predictProbability(v).toArray
        val ps = slow.predictProbability(v).toArray
        pf.zip(ps).map { case (a, b) => math.abs(a - b) }.max
      }
      assert(diffs.max < tol, s"loss=$l opt=$opt maxDiff=${diffs.max}")
    }
  }

  test("GBMClassifier multinomial logloss on 3 classes") {
    val m = new GBMClassifier()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
      .setMaxIter(5)
      .setLearningRate(0.5)
      .setSeed(0L)
      .fit(clsDf)
    val out = m.transform(clsDf)
    val acc = accuracy(out)
    assert(acc > 0.85, s"gbm logloss accuracy $acc")
    val p = out.select("probability").head().getAs[Vector](0)
    assert(math.abs(p.toArray.sum - 1.0) < 1e-9)
  }

  test("GBMClassifier binary bernoulli and exponential") {
    val s = spark
    import s.implicits._
    val bin = clsDf.withColumn("label", when(col("label") === 2.0, 1.0).otherwise(col("label")))
    for (l <- Seq("bernoulli", "exponential")) {
      val m = new GBMClassifier()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
        .setMaxIter(5)
        .setLoss(l)
        .setLearningRate(0.5)
        .setSeed(0L)
        .fit(bin)
      val acc = accuracy(m.transform(bin))
      assert(acc > 0.85, s"gbm $l accuracy $acc")
    }
  }

  test("bernoulli/exponential Newton step matches Brent's optimum (±tol)") {
    // dim=1 margin losses take the scalar-Newton branch of
    // stepVectorSearch; pin its answer against a driver-side Brent
    // optimum of the same phi(a), like the regressor's parity test
    import org.apache.commons.math3.optim.MaxEval
    import org.apache.commons.math3.optim.nonlinear.scalar.GoalType
    import org.apache.commons.math3.optim.univariate.{
      BrentOptimizer, SearchInterval, UnivariateObjectiveFunction
    }
    val s = spark
    import s.implicits._
    val bin = clsDf.withColumn("label", when(col("label") === 2.0, 1.0).otherwise(col("label")))
    for (lossName <- Seq("bernoulli", "exponential")) {
      val m = new GBMClassifier()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
        .setMaxIter(1)
        .setLoss(lossName)
        .setLearningRate(1.0)
        .setSeed(0L)
        .fit(bin)
      val aNewton = m.modelWeights(0)(0)
      val lossObj: GBMLoss = if (lossName == "bernoulli") BernoulliLoss else ExponentialLoss
      val rows = bin.select("label", "features").collect().map { r =>
        val x = r.getAs[Vector](1)
        (lossObj.encodeLabel(r.getDouble(0)), m.init(0), m.models(0)(0).predict(x))
      }
      val objective = new UnivariateObjectiveFunction(a =>
        rows.map { case (y, f, d) => lossObj.loss(y, Array(f + a * d)) }.sum)
      val aBrent = new BrentOptimizer(1e-8, 1e-10)
        .optimize(new MaxEval(200), objective, GoalType.MINIMIZE, new SearchInterval(0.0, 100.0))
        .getPoint
      assert(math.abs(aNewton - aBrent) < 1e-3,
        s"loss=$lossName newton step $aNewton vs brent $aBrent")
    }
  }

  test("logloss K-dim Newton step vector matches L-BFGS-B's optimum (±tol)") {
    // the K-dim softmax path runs a full-hessian Newton solve; pin the
    // joint step vector against a driver-side bound-constrained L-BFGS-B
    // over the same phi(alpha) = sum_i loss(y_i, f0 + alpha o d_i)
    import breeze.linalg.{DenseVector => BDV}
    import breeze.optimize.{DiffFunction, LBFGSB}
    val k = 3
    val m = new GBMClassifier()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
      .setMaxIter(1)
      .setLoss("logloss")
      .setLearningRate(1.0)
      .setSeed(0L)
      .fit(clsDf)
    val aNewton = m.modelWeights(0)
    val lossObj = LogLoss(k)
    val rows = clsDf.select("label", "features").collect().map { r =>
      val x = r.getAs[Vector](1)
      (lossObj.encodeLabel(r.getDouble(0)),
        Array.tabulate(k)(j => m.models(0)(j).predict(x)))
    }
    def phi(a: Array[Double]): Double = rows.map { case (y, d) =>
      lossObj.loss(y, Array.tabulate(k)(j => m.init(j) + a(j) * d(j)))
    }.sum
    val objective = new DiffFunction[BDV[Double]] {
      override def calculate(a: BDV[Double]): (Double, BDV[Double]) = {
        val g = new Array[Double](k)
        var l = 0.0
        rows.foreach { case (y, d) =>
          val fa = Array.tabulate(k)(j => m.init(j) + a(j) * d(j))
          l += lossObj.loss(y, fa)
          val gr = lossObj.gradient(y, fa)
          var j = 0
          while (j < k) { g(j) += gr(j) * d(j); j += 1 }
        }
        (l, BDV(g))
      }
    }
    val solver = new LBFGSB(
      BDV.zeros[Double](k), BDV.fill(k)(Double.PositiveInfinity),
      maxIter = 100, m = 7, tolerance = 1e-10)
    val aRef = solver.minimize(objective, BDV.fill(k)(1.0)).toArray
    aNewton.indices.foreach { j =>
      assert(math.abs(aNewton(j) - aRef(j)) < 1e-3,
        s"alpha($j): newton ${aNewton(j)} vs lbfgsb ${aRef(j)}")
    }
    // and the achieved objective can't be worse
    assert(phi(aNewton) <= phi(aRef) + 1e-6)
  }

  test("newtonStepVector: optimum beyond the probe box falls back (null), never a silent clamp") {
    // one separable row with a near-constant direction: the constrained
    // optimum sits far past 100, and the first Newton jump (~1000) must
    // signal the L-BFGS-B fallback instead of silently returning 100
    val clf = new GBMClassifier()
    val loss = LogLoss(2)
    val rdd = spark.sparkContext.parallelize(Seq(
      (loss.encodeLabel(0.0), Array(0.0, 0.0), Array(0.001, -0.001), 1.0)), 2)
    assert(clf.newtonStepVector(rdd, loss, 2) == null)
  }

  test("newtonStepVector: accepted step is never worse than the 1-init") {
    // mixed pulls with very different scales; whatever path the damped
    // loop takes, the returned alpha must achieve phi <= phi(1-vector)
    val clf = new GBMClassifier()
    val k = 3
    val loss = LogLoss(k)
    val rng = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val y = loss.encodeLabel((i % k).toDouble)
      val f = Array.fill(k)(rng.nextGaussian() * 2)
      val d = Array.fill(k)(rng.nextGaussian())
      (y, f, d, 1.0)
    }
    val rdd = spark.sparkContext.parallelize(rows, 4)
    val a = clf.newtonStepVector(rdd, loss, k)
    def phi(alpha: Array[Double]): Double = rows.map { case (y, f, d, w) =>
      w * loss.loss(y, Array.tabulate(k)(j => f(j) + alpha(j) * d(j)))
    }.sum
    if (a != null) {
      assert(phi(a) <= phi(Array.fill(k)(1.0)) + 1e-9,
        s"newton result ${a.toSeq} worse than the 1-init")
    } // null = fallback path; the generic L-BFGS-B covers it
  }

  test("fitMulti fused Dummy-mean fits equal per-class fits exactly") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(31)
    val df = (0 until 500).map { _ =>
      (Vectors.dense(rng.nextGaussian()),
        rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian(),
        0.5 + rng.nextDouble())
    }.toDF("features", "l0", "l1", "l2", "w").repartition(3)
    df.cache().count()
    try {
      val learner = new DummyRegressor().setStrategy("mean")
      val targets = IndexedSeq(
        (col("l0"), col("w")),
        (col("l1"), col("w") * 2.0),
        (col("l2"), col("w")))
      val fused = Learners.fitMulti(learner, df, targets).get
        .map(_.asInstanceOf[DummyRegressionModel].constantValue)
      val unfused = IndexedSeq(
        ("l0", col("w")), ("l1", col("w") * 2.0), ("l2", col("w"))).map {
        case (lc, wc) =>
          Learners.fit(learner, df.withColumn("__wk", wc), lc, "features", Some("__wk"))
            .asInstanceOf[DummyRegressionModel].constantValue
      }
      // same partial-sum accumulation per partition and combine order ->
      // bit-identical, not merely approximately equal
      assert(fused.toSeq === unfused)
      // fused-path models must honor the Predictor.fit metadata contract
      // (copyValues + setParent + same uid), not just the values — else
      // saved-model params diverge from the unfused fallback's
      val weighted = new DummyRegressor().setStrategy("mean").setWeightCol("w")
      val fusedModels = Learners.fitMulti(weighted, df, targets).get
      fusedModels.foreach { m =>
        val dm = m.asInstanceOf[DummyRegressionModel]
        assert(dm.parent === weighted)
        assert(dm.uid === weighted.uid)
        assert(dm.getOrDefault(dm.strategy) === "mean")
        assert(dm.getOrDefault(dm.weightCol) === "w")
      }
      // real trees cannot fuse: the caller must fall back
      assert(Learners.fitMulti(
        new DecisionTreeRegressor(), df, targets).isEmpty)
      // quantile/median Dummy strategies are sketch-based, not a single
      // weighted aggregation: they must not fuse either
      assert(Learners.fitMulti(
        new DummyRegressor().setStrategy("median"), df, targets).isEmpty)
    } finally df.unpersist()
  }

  test("GBM early stop fires exactly where the learning curve says (reference §5 cat 5)") {
    val withVal = regDf.withColumn("isVal", rand(11) > 0.7).cache()
    def fit(rounds: Int) = new GBMRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2).setSeed(1))
      .setMaxIter(12)
      .setLearningRate(0.6)
      .setValidationIndicatorCol("isVal")
      .setNumRounds(rounds)
      .setValidationTol(0.01)
      .setSeed(0L)
      .fit(withVal)
    val stopped = fit(2)           // patience 2
    val fullRun = fit(1000)        // same training path, never stops

    // recompute the validation-loss curve from the full model's prefixes
    val valRows = withVal.filter(col("isVal"))
    val curve = (1 to fullRun.models.length).map { i =>
      val prefix = new GBMRegressionModel(
        fullRun.uid, fullRun.init,
        fullRun.modelWeights.take(i), fullRun.subspaces.take(i), fullRun.models.take(i))
      prefix.transform(valRows)
        .select(avg(pow(col("prediction") - col("label"), 2) * 0.5))
        .head().getDouble(0)
    }
    // replay the estimator's stopping rule on the recomputed curve
    var best = Double.PositiveInfinity
    var bad = 0
    var stopAt = fullRun.models.length
    var i = 0
    var done = false
    while (i < curve.length && !done) {
      if (best.isPosInfinity ||
        best - curve(i) > 0.01 * math.max(math.abs(best), 1e-12)) { best = curve(i); bad = 0 }
      else {
        bad += 1
        if (bad >= 2) { stopAt = math.max(i + 1 - bad, 1); done = true }
      }
      i += 1
    }
    assert(stopped.models.length === stopAt,
      s"stopped at ${stopped.models.length}, curve $curve implies $stopAt")
  }

  test("GBM persistence round-trips") {
    val tmp = java.nio.file.Files.createTempDirectory("gbm-io").toString
    val m = new GBMRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
      .setMaxIter(3)
      .setSeed(0L)
      .fit(regDf)
    m.write.overwrite().save(s"$tmp/r")
    val loaded = GBMRegressionModel.load(s"$tmp/r")
    val a = m.transform(regDf).select("prediction").collect().map(_.getDouble(0))
    val b = loaded.transform(regDf).select("prediction").collect().map(_.getDouble(0))
    assert(a.toSeq === b.toSeq)

    val c = new GBMClassifier()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
      .setMaxIter(2)
      .setSeed(0L)
      .fit(clsDf)
    c.write.overwrite().save(s"$tmp/c")
    val cl = GBMClassificationModel.load(s"$tmp/c")
    val ca = c.transform(clsDf).select("prediction").collect().map(_.getDouble(0))
    val cb = cl.transform(clsDf).select("prediction").collect().map(_.getDouble(0))
    assert(ca.toSeq === cb.toSeq)
  }

  test("NativeTreeBoost.zip pairs rows as RDD.zip does, and fails where it fails") {
    val sc = spark.sparkContext
    val (a, b) = (sc.parallelize(1 to 10, 3), sc.parallelize(11 to 20, 3).map(_.toString))
    assert(NativeTreeBoost.zip(a, b).glom().collect().map(_.toSeq).toSeq ===
      a.zip(b).glom().collect().map(_.toSeq).toSeq)
    // ten rows both sides, but split 3/3/4 against 4/3/3
    val uneven =
      sc.parallelize(Seq(Seq(1, 2, 3, 4), Seq(5, 6, 7), Seq(8, 9, 10)), 3).flatMap(identity)
    val expected = org.apache.spark.errors.SparkCoreErrors
      .canOnlyZipRDDsWithSamePartitionSizeError().getMessage
    for (zipped <- Seq(a.zip(uneven), NativeTreeBoost.zip(a, uneven))) {
      val e = intercept[org.apache.spark.SparkException](zipped.count())
      assert(e.getMessage.contains(expected), e.getMessage)
    }
  }
}
