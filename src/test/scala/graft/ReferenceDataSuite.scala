package graft

import org.apache.spark.ml.classification.{DecisionTreeClassifier, GBTClassifier}
import org.apache.spark.ml.graft._
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's own headline assertions on its own datasets
  * (/root/reference/data, read-only libsvm; SURVEY.md §5 category 1 /
  * BASELINE.md accuracy-parity bars). These are the "runs the reference's
  * test queries" checks. Each test is canceled where its dataset file is
  * absent.
  */
class ReferenceDataSuite extends SparkSpec {

  /** Loads a reference dataset; cancels the test where the file is absent
    * (the datasets are not in the repository).
    */
  private def libsvm(path: String): DataFrame = {
    assume(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(path)), s"$path absent")
    spark.read.format("libsvm").load(path)
  }

  private def accuracy(df: DataFrame): Double = {
    val rows = df.select("prediction", "label").collect()
    rows.count(r => r.getDouble(0) == r.getDouble(1)).toDouble / rows.length
  }

  test("adult: GBMClassifier within +-0.05 accuracy of Spark GBTClassifier") {
    // reference: GBMClassifierSuite.scala:89-146 (10 learners, depth 5)
    val raw = libsvm("/root/reference/data/adult/adult.svm")
      .withColumn("label", (col("label") + 1) / 2) // ±1 -> {0,1}
    val Array(train, test) = raw.randomSplit(Array(0.8, 0.2), 0L)
    train.cache(); test.cache()

    val gbm = new GBMClassifier()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(5).setSeed(0))
      .setMaxIter(10)
      .setLoss("bernoulli")
      .setLearningRate(1.0)
      .setSeed(0L)
      .fit(train)
    val gbt = new GBTClassifier().setMaxDepth(5).setMaxIter(10).setSeed(0).fit(train)

    val accGbm = accuracy(gbm.transform(test))
    val accGbt = accuracy(gbt.transform(test))
    assert(accGbm > accGbt - 0.05, s"gbm $accGbm vs gbt $accGbt")
  }

  test("letter: bagging beats its single base classifier") {
    // reference: BaggingClassifierSuite.scala:48-78 (letter, depth 10)
    val raw = libsvm("/root/reference/data/letter/letter.svm")
      .withColumn("label", col("label") - 1) // 1-26 -> 0-25
    val Array(train, test) = raw.randomSplit(Array(0.8, 0.2), 0L)
    train.cache(); test.cache()

    val tree = new DecisionTreeClassifier().setMaxDepth(10).setSeed(0)
    val accSingle = accuracy(tree.fit(train).transform(test))
    val bag = new BaggingClassifier()
      .setBaseLearner(tree)
      .setNumBaseLearners(10)
      .setSubsampleRatio(0.8)
      .setParallelism(4)
      .setSeed(0L)
      .fit(train)
    val accBag = accuracy(bag.transform(test))
    assert(accBag > accSingle, s"bagging $accBag vs single $accSingle")
  }

  test("cpusmall: AdaBoost.R2 beats its single base regressor") {
    // reference: BoostingRegressorSuite (cpusmall, depth 10)
    val raw = libsvm("/root/reference/data/cpusmall/cpusmall.svm")
    val Array(train, test) = raw.randomSplit(Array(0.8, 0.2), 0L)
    train.cache(); test.cache()

    def rmse(df: DataFrame): Double =
      df.select(sqrt(avg(pow(col("prediction") - col("label"), 2)))).head().getDouble(0)
    val tree = new DecisionTreeRegressor().setMaxDepth(10).setSeed(0)
    val rmseSingle = rmse(tree.fit(train).transform(test))
    val boost = new BoostingRegressor()
      .setBaseLearner(tree)
      .setNumBaseLearners(10)
      .fit(train)
    val rmseBoost = rmse(boost.transform(test))
    assert(rmseBoost < rmseSingle, s"boosting $rmseBoost vs single $rmseSingle")
  }

  test("letter: SAMME and SAMME.R agree within the reference bar") {
    // reference: BoostingClassifierSuite.scala:93-124 (+-0.02 on letter;
    // we run 5 learners depth 10 and allow +-0.05 for runtime)
    val raw = libsvm("/root/reference/data/letter/letter.svm")
      .withColumn("label", col("label") - 1)
    val Array(train, test) = raw.randomSplit(Array(0.8, 0.2), 0L)
    train.cache(); test.cache()

    def boost(algo: String) = new BoostingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(10).setSeed(0))
      .setNumBaseLearners(5)
      .setAlgorithm(algo)
      .fit(train)
    val accD = accuracy(boost("discrete").transform(test))
    val accR = accuracy(boost("real").transform(test))
    assert(math.abs(accD - accR) < 0.05, s"SAMME $accD vs SAMME.R $accR")
    assert(accD > 0.5 && accR > 0.5)
  }
}
