package graft

import org.apache.spark.ml.classification.{DecisionTreeClassifier, LogisticRegression}
import org.apache.spark.ml.graft._
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.regression.{DecisionTreeRegressor, LinearRegression}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StackingBoostingSuite extends SparkSpec {

  private def rmse(df: DataFrame): Double =
    df.select(sqrt(avg(pow(col("prediction") - col("label"), 2)))).head().getDouble(0)

  private def accuracy(df: DataFrame): Double = {
    val rows = df.select("prediction", "label").collect()
    rows.count(r => r.getDouble(0) == r.getDouble(1)).toDouble / rows.length
  }

  private lazy val regDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(3)
    (0 until 600).map { _ =>
      val x = Array.fill(4)(rng.nextDouble() * 10)
      (2 * x(0) - x(1) + 0.5 * x(2) + math.sin(x(3)), Vectors.dense(x))
    }.toDF("label", "features")
  }

  private lazy val clsDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(5)
    (0 until 600).map { _ =>
      val x = Array.fill(4)(rng.nextDouble() * 10)
      val label = ((x(0) + x(1) * 2) / 10).toInt.min(2).toDouble // 3 classes
      (label, Vectors.dense(x))
    }.toDF("label", "features")
  }

  private lazy val baselineReg = rmse(
    new DummyRegressor().setStrategy("mean").fit(regDf).transform(regDf))

  test("StackingRegressor combines heterogeneous learners") {
    val model = new StackingRegressor()
      .setBaseLearners(Array(
        new DecisionTreeRegressor().setMaxDepth(5).setSeed(1),
        new LinearRegression().setRegParam(0.1)))
      .setStacker(new LinearRegression())
      .fit(regDf)
    assert(model.models.length === 2)
    val r = rmse(model.transform(regDf))
    assert(r < baselineReg, s"stacking rmse $r vs baseline $baselineReg")
  }

  test("StackingClassifier class and proba stack methods") {
    for (method <- Seq("class", "proba")) {
      val model = new StackingClassifier()
        .setBaseLearners(Array(
          new DecisionTreeClassifier().setMaxDepth(5).setSeed(1),
          new LogisticRegression().setMaxIter(20)))
        .setStacker(new DecisionTreeClassifier().setMaxDepth(3).setSeed(2))
        .setStackMethod(method)
        .fit(clsDf)
      val acc = accuracy(model.transform(clsDf))
      assert(acc > 0.8, s"stacking($method) accuracy $acc")
    }
  }

  test("Stacking persistence round-trips") {
    val tmp = java.nio.file.Files.createTempDirectory("stack-io").toString
    val model = new StackingRegressor()
      .setBaseLearners(Array(
        new DecisionTreeRegressor().setMaxDepth(3).setSeed(1),
        new LinearRegression()))
      .setStacker(new LinearRegression())
      .fit(regDf)
    model.write.overwrite().save(s"$tmp/m")
    val loaded = StackingRegressionModel.load(s"$tmp/m")
    val a = model.transform(regDf).select("prediction").collect().map(_.getDouble(0))
    val b = loaded.transform(regDf).select("prediction").collect().map(_.getDouble(0))
    assert(a.toSeq === b.toSeq)
  }

  test("BoostingRegressor improves over baseline; median and mean voting close") {
    val median = new BoostingRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(5).setSeed(1))
      .setNumBaseLearners(5)
      .fit(regDf)
    assert(median.models.nonEmpty && median.models.length <= 5)
    assert(median.modelWeights.forall(w => w > 0 && !w.isInfinite))
    val rMedian = rmse(median.transform(regDf))
    assert(rMedian < baselineReg)

    val mean = median.copy(org.apache.spark.ml.param.ParamMap(
      median.votingStrategy.w("mean")))
    val rMean = rmse(mean.transform(regDf))
    assert(math.abs(rMedian - rMean) < 0.5, s"median $rMedian vs mean $rMean")
  }

  test("boosting native-tree fast path: same recursion, parity with generic") {
    // the fast path fixes the candidate-split grid once (hist-boosting
    // convention) while the generic loop re-derives weighted candidates
    // per round, so trees are not bit-identical — pin that the weight
    // recursion produces the same NUMBER of rounds, positive model
    // weights, and matching ensemble quality
    def fitReg(fast: Boolean) = new BoostingRegressor()
      .setBaseLearner(
        PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(4).setSeed(9)))
      .setNumBaseLearners(4)
      .fit(regDf)
    val fastR = fitReg(true)
    val slowR = fitReg(false)
    assert(fastR.models.length === slowR.models.length)
    assert(fastR.modelWeights.forall(_ > 0))
    val (rf, rs) = (rmse(fastR.transform(regDf)), rmse(slowR.transform(regDf)))
    assert(rf < baselineReg && math.abs(rf - rs) < 0.3 * math.max(rs, 0.1),
      s"fast rmse $rf vs generic $rs (baseline $baselineReg)")
    // determinism
    assert(rmse(fitReg(true).transform(regDf)) === rf)

    def fitCls(fast: Boolean) = new BoostingClassifier()
      .setBaseLearner(
        PredictorBackend.pin(fast, new DecisionTreeClassifier().setMaxDepth(4).setSeed(9)))
      .setNumBaseLearners(4)
      .setAlgorithm("discrete")
      .fit(clsDf)
    val fastC = fitCls(true)
    val slowC = fitCls(false)
    assert(fastC.models.length === slowC.models.length)
    val (af, as) = (accuracy(fastC.transform(clsDf)), accuracy(slowC.transform(clsDf)))
    assert(af > 0.85 && math.abs(af - as) < 0.1, s"fast acc $af vs generic $as")
  }

  test("SAMME.R native-tree fast path: parity with generic loop") {
    // the fast path reads each leaf's normalized impurityStats — exactly
    // what predictProbability returns — so the probability-coded weight
    // recursion matches the generic loop up to the fixed-vs-reweighted
    // candidate grid (same caveat as the discrete path)
    def fit(fast: Boolean) = new BoostingClassifier()
      .setBaseLearner(
        PredictorBackend.pin(fast, new DecisionTreeClassifier().setMaxDepth(4).setSeed(9)))
      .setNumBaseLearners(4)
      .setAlgorithm("real")
      .fit(clsDf)
    val fastC = fit(true)
    val slowC = fit(false)
    assert(fastC.models.length === slowC.models.length)
    assert(fastC.modelWeights.forall(_ === 1.0))
    assert(slowC.modelWeights.forall(_ === 1.0))
    val (af, as) = (accuracy(fastC.transform(clsDf)), accuracy(slowC.transform(clsDf)))
    assert(af > 0.85 && math.abs(af - as) < 0.1, s"fast acc $af vs generic $as")
    // determinism
    assert(accuracy(fit(true).transform(clsDf)) === af)
  }

  test("SAMME.R early-exits when a round's tree is perfect (both paths)") {
    val s = spark
    import s.implicits._
    val sep = (0 until 200).map { i =>
      val x0 = (i % 2).toDouble
      (x0, Vectors.dense(x0, (i % 7).toDouble))
    }.toDF("label", "features")
    for (fast <- Seq(true, false)) {
      val model = new BoostingClassifier()
        .setBaseLearner(
          PredictorBackend.pin(fast, new DecisionTreeClassifier().setMaxDepth(3).setSeed(1)))
        .setNumBaseLearners(10)
        .setAlgorithm("real")
        .fit(sep)
      assert(model.models.length === 1, s"fast=$fast kept boosting past a perfect tree")
      assert(accuracy(model.transform(sep)) === 1.0)
    }
  }

  test("boosting fast path honors minWeightFractionPerNode like the generic loop") {
    // metadata is built once on sum-1-normalized weights so the fraction
    // threshold matches every round's normalized fit; the raw-weight scale
    // would make minWeightPerNode unsatisfiable and stump every tree
    def fitWith(fast: Boolean) = new BoostingRegressor()
      .setBaseLearner(
        PredictorBackend.pin(
          fast,
          new DecisionTreeRegressor().setMaxDepth(4).setMinWeightFractionPerNode(0.05).setSeed(9)))
      .setNumBaseLearners(3)
      .fit(regDf)
    val fast = fitWith(true)
    val slow = fitWith(false)
    import org.apache.spark.ml.regression.DecisionTreeRegressionModel
    val fastNodes = fast.models.map(_.asInstanceOf[DecisionTreeRegressionModel].numNodes)
    val slowNodes = slow.models.map(_.asInstanceOf[DecisionTreeRegressionModel].numNodes)
    assert(fastNodes.forall(_ > 1), s"fast-path trees degenerated to stumps: ${fastNodes.toSeq}")
    assert(fastNodes.sum > slowNodes.sum / 2, s"fast ${fastNodes.toSeq} vs generic ${slowNodes.toSeq}")
    val (rf, rs) = (rmse(fast.transform(regDf)), rmse(slow.transform(regDf)))
    assert(math.abs(rf - rs) < 0.3 * math.max(rs, 0.1), s"fast rmse $rf vs generic $rs")
  }

  test("BoostingRegressor early-exits on perfectly learnable data") {
    val s = spark
    import s.implicits._
    val const = (0 until 200).map(_ => (1.0, Vectors.dense(1.0, 1.0))).toDF("label", "features")
    val model = new BoostingRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
      .setNumBaseLearners(10)
      .fit(const)
    assert(model.models.length < 10)
    val preds = model.transform(const).select("prediction").collect().map(_.getDouble(0))
    assert(preds.forall(_ === 1.0))
  }

  test("BoostingClassifier SAMME and SAMME.R fit and agree approximately") {
    val discrete = new BoostingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(5).setSeed(1))
      .setNumBaseLearners(5)
      .setAlgorithm("discrete")
      .fit(clsDf)
    val real = new BoostingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(5).setSeed(1))
      .setNumBaseLearners(5)
      .setAlgorithm("real")
      .fit(clsDf)
    val accD = accuracy(discrete.transform(clsDf))
    val accR = accuracy(real.transform(clsDf))
    assert(accD > 0.85, s"SAMME accuracy $accD")
    assert(accR > 0.85, s"SAMME.R accuracy $accR")
    assert(math.abs(accD - accR) < 0.1)
  }

  test("BoostingClassifier decision function is symmetric (sums to ~0)") {
    val model = new BoostingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(4).setSeed(1))
      .setNumBaseLearners(4)
      .setAlgorithm("real")
      .fit(clsDf)
    val raws = model.transform(clsDf).select("rawPrediction").collect()
      .map(_.getAs[Vector](0))
    raws.foreach(r => assert(math.abs(r.toArray.sum) < 1e-6))
  }

  test("Boosting persistence round-trips") {
    val tmp = java.nio.file.Files.createTempDirectory("boost-io").toString
    val model = new BoostingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(3).setSeed(1))
      .setNumBaseLearners(3)
      .fit(clsDf)
    model.write.overwrite().save(s"$tmp/m")
    val loaded = BoostingClassificationModel.load(s"$tmp/m")
    val a = model.transform(clsDf).select("prediction").collect().map(_.getDouble(0))
    val b = loaded.transform(clsDf).select("prediction").collect().map(_.getDouble(0))
    assert(a.toSeq === b.toSeq)
    assert(loaded.modelWeights.toSeq === model.modelWeights.toSeq)

    val rmodel = new BoostingRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3).setSeed(1))
      .setNumBaseLearners(3)
      .fit(regDf)
    rmodel.write.overwrite().save(s"$tmp/r")
    val rloaded = BoostingRegressionModel.load(s"$tmp/r")
    val ra = rmodel.transform(regDf).select("prediction").collect().map(_.getDouble(0))
    val rb = rloaded.transform(regDf).select("prediction").collect().map(_.getDouble(0))
    assert(ra.toSeq === rb.toSeq)
  }
}
