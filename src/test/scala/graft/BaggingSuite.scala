package graft

import org.apache.spark.ml.classification.{
  DecisionTreeClassificationModel, DecisionTreeClassifier, RandomForestClassifier
}
import org.apache.spark.ml.attribute.{Attribute, AttributeGroup, NominalAttribute, NumericAttribute}
import org.apache.spark.ml.graft._
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.regression.{
  DecisionTreeRegressionModel, DecisionTreeRegressor, RandomForestRegressor
}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BaggingSuite extends SparkSpec {

  /** Deterministic synthetic regression data: y = 2 x0 - x1 + 0.5 x2. */
  private lazy val regDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    (0 until 500).map { _ =>
      val x = Array.fill(4)(rng.nextDouble() * 10)
      (2 * x(0) - x(1) + 0.5 * x(2), Vectors.dense(x))
    }.toDF("label", "features")
  }

  /** `regDf`'s relation on 20,000 rows: 30 trees on it are 2.4M rows x
    * features x trees, above the one-task bound of the bin-once induction.
    */
  private lazy val bigRegDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(19)
    (0 until 20000).map { _ =>
      val x = Array.fill(4)(rng.nextDouble() * 10)
      (2 * x(0) - x(1) + 0.5 * x(2), Vectors.dense(x))
    }.toDF("label", "features")
  }

  private lazy val clsDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    (0 until 500).map { _ =>
      val x = Array.fill(4)(rng.nextDouble() * 10)
      val label = if (x(0) + x(1) > 10) 1.0 else 0.0
      (label, Vectors.dense(x))
    }.toDF("label", "features")
  }

  /** `df` with the features in `arity` marked categorical, of those arities. */
  private def categorical(df: DataFrame, arity: Map[Int, Int]): DataFrame = {
    val n = df.select("features").head().getAs[Vector](0).size
    val attrs = Array.tabulate[Attribute](n) { i =>
      arity.get(i).fold[Attribute](NumericAttribute.defaultAttr.withIndex(i))(
        k => NominalAttribute.defaultAttr.withIndex(i).withNumValues(k))
    }
    df.withColumn("features",
      col("features").as("features", new AttributeGroup("features", attrs).toMetadata()))
  }

  /** Regression on three uniform features and a category of six values
    * (feature 3), which a regression tree orders by mean label.
    */
  private lazy val catRegDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(17)
    val effect = Array(3.0, -4.0, 0.0, 8.0, -1.0, 5.0)
    categorical((0 until 500).map { _ =>
      val (x, c) = (Array.fill(3)(rng.nextDouble() * 10), rng.nextInt(6))
      (2 * x(0) - x(1) + effect(c), Vectors.dense(x :+ c.toDouble))
    }.toDF("label", "features"), Map(3 -> 6))
  }

  /** Three classes from a category of three values (feature 0), which a
    * multiclass tree splits by subsets, and one threshold per category;
    * category 1 is all class 2. A `noise` share of labels is redrawn.
    */
  private def catClsDf(noise: Double): DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(13)
    categorical((0 until 600).map { _ =>
      val (c, x) = (rng.nextInt(3), Array.fill(3)(rng.nextDouble() * 10))
      val y = c match {
        case 0 => if (x(0) > 5) 0.0 else 1.0
        case 1 => 2.0
        case _ => if (x(1) > 3) 1.0 else 2.0
      }
      (if (rng.nextDouble() < noise) rng.nextInt(3).toDouble else y,
        Vectors.dense(c.toDouble +: x))
    }.toDF("label", "features"), Map(0 -> 3))
  }

  test("BaggingRegressor fits and beats the trivial constant baseline") {
    val bag = new BaggingRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(5))
      .setNumBaseLearners(5)
      .setSubsampleRatio(0.8)
      .setSeed(0L)
    val model = bag.fit(regDf)
    assert(model.models.length === 5)
    val out = model.transform(regDf)
      .select(sqrt(avg(pow(col("prediction") - col("label"), 2))).as("rmse"))
      .head().getDouble(0)
    val baseline = new DummyRegressor().setStrategy("mean").fit(regDf)
      .transform(regDf)
      .select(sqrt(avg(pow(col("prediction") - col("label"), 2))).as("rmse"))
      .head().getDouble(0)
    assert(out < baseline, s"bagging rmse $out should beat constant $baseline")
  }

  test("bagging native-tree fast path: K distinct trees, quality parity with generic") {
    // sampling RNG differs between the paths (BaggedPoint counts vs
    // DataFrame.sample), so trees are not bit-identical — pin that the
    // fast path produces K genuinely distinct bootstrap trees whose
    // ensemble quality matches the generic loop's
    def rmseOf(m: BaggingRegressionModel): Double = m.transform(regDf)
      .select(sqrt(avg(pow(col("prediction") - col("label"), 2))).as("rmse"))
      .head().getDouble(0)
    def fitWith(fast: Boolean) = new BaggingRegressor()
      .setBaseLearner(
        PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(4).setSeed(3)))
      .setNumBaseLearners(5)
      .setSubsampleRatio(0.8)
      .setSeed(0L)
      .fit(regDf)
    val fast = fitWith(true)
    val slow = fitWith(false)
    assert(fast.models.length === 5)
    val trees = fast.models.map(
      _.asInstanceOf[org.apache.spark.ml.regression.DecisionTreeRegressionModel].toDebugString)
    assert(trees.distinct.length > 1, "bootstrap trees must differ across bags")
    val (rFast, rSlow) = (rmseOf(fast), rmseOf(slow))
    assert(rFast < rSlow * 1.5 + 0.1, s"fast rmse $rFast vs generic $rSlow")
    // determinism: same seed, same ensemble
    val again = fitWith(true)
    assert(rmseOf(again) === rFast)

    val clsFast = new BaggingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(4).setSeed(3))
      .setNumBaseLearners(5)
      .setVotingStrategy("soft")
      .setSeed(0L)
      .fit(clsDf)
    val acc = clsFast.transform(clsDf)
      .select(avg(when(col("prediction") === col("label"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(acc > 0.9, s"fast-path soft-vote classifier accuracy $acc")
  }

  test("bin-once bagging grows Spark's RandomForest trees, tree for tree") {
    // the uid header line differs; the trees below it must not
    def tree(m: Any): String = (m match {
      case r: DecisionTreeRegressionModel => r.toDebugString
      case c: DecisionTreeClassificationModel => c.toDebugString
    }).linesIterator.drop(1).mkString("\n")
    // cacheNodeIds indexes the induction's per-tree state by the tree count
    // the metadata was built for
    for ((replacement, ratio, cacheNodeIds) <-
        Seq((true, 0.8, false), (false, 0.7, false), (true, 1.0, false), (true, 0.8, true))) {
      val bag = new BaggingRegressor()
        .setBaseLearner(
          new DecisionTreeRegressor().setMaxDepth(5).setSeed(42).setCacheNodeIds(cacheNodeIds))
        .setNumBaseLearners(5)
        .setReplacement(replacement)
        .setSubsampleRatio(ratio)
        .setSeed(42)
        .fit(regDf)
      val rf = new RandomForestRegressor()
        .setNumTrees(5)
        .setMaxDepth(5)
        .setFeatureSubsetStrategy("all")
        .setSubsamplingRate(ratio)
        .setBootstrap(replacement)
        .setCacheNodeIds(cacheNodeIds)
        .setSeed(42)
        .fit(regDf)
      assert(bag.models.map(tree).toSeq === rf.trees.map(tree).toSeq,
        s"replacement $replacement, ratio $ratio, cacheNodeIds $cacheNodeIds")
    }
    val bag = new BaggingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(5).setSeed(42))
      .setNumBaseLearners(5)
      .setReplacement(true)
      .setSubsampleRatio(0.8)
      .setSeed(42)
      .fit(clsDf)
    val rf = new RandomForestClassifier()
      .setNumTrees(5)
      .setMaxDepth(5)
      .setFeatureSubsetStrategy("all")
      .setSubsamplingRate(0.8)
      .setBootstrap(true)
      .setSeed(42)
      .fit(clsDf)
    assert(bag.models.map(tree).toSeq === rf.trees.map(tree).toSeq)

    // the other paths of a level step: both sides on the same tree settings
    case class Grow(numTrees: Int, depth: Int, minInstances: Int = 1, minInfoGain: Double = 0.0,
        maxBins: Int = 32, maxMemoryInMB: Int = 256)
    def regression(df: DataFrame, g: Grow): (Seq[String], Seq[String]) = {
      val bag = new BaggingRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(g.depth)
          .setMinInstancesPerNode(g.minInstances).setMinInfoGain(g.minInfoGain)
          .setMaxBins(g.maxBins).setMaxMemoryInMB(g.maxMemoryInMB).setSeed(42))
        .setNumBaseLearners(g.numTrees).setSubsampleRatio(0.8).setSeed(42)
        .fit(df)
      val rf = new RandomForestRegressor().setNumTrees(g.numTrees).setMaxDepth(g.depth)
        .setMinInstancesPerNode(g.minInstances).setMinInfoGain(g.minInfoGain)
        .setMaxBins(g.maxBins).setMaxMemoryInMB(g.maxMemoryInMB)
        .setFeatureSubsetStrategy("all").setSubsamplingRate(0.8).setBootstrap(true).setSeed(42)
        .fit(df)
      (bag.models.map(tree).toSeq, rf.trees.map(tree).toSeq)
    }
    def classification(df: DataFrame, g: Grow): (Seq[String], Seq[String]) = {
      val bag = new BaggingClassifier()
        .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(g.depth)
          .setMinInstancesPerNode(g.minInstances).setMinInfoGain(g.minInfoGain)
          .setMaxBins(g.maxBins).setMaxMemoryInMB(g.maxMemoryInMB).setSeed(42))
        .setNumBaseLearners(g.numTrees).setSubsampleRatio(0.8).setSeed(42)
        .fit(df)
      val rf = new RandomForestClassifier().setNumTrees(g.numTrees).setMaxDepth(g.depth)
        .setMinInstancesPerNode(g.minInstances).setMinInfoGain(g.minInfoGain)
        .setMaxBins(g.maxBins).setMaxMemoryInMB(g.maxMemoryInMB)
        .setFeatureSubsetStrategy("all").setSubsamplingRate(0.8).setBootstrap(true).setSeed(42)
        .fit(df)
      (bag.models.map(tree).toSeq, rf.trees.map(tree).toSeq)
    }
    Seq(
      // an unordered feature: subset splits of a low-arity multiclass category
      "unordered categorical" -> classification(catClsDf(0.1), Grow(5, 5)),
      "ordered categorical" -> regression(catRegDf, Grow(5, 5)),
      "minInstancesPerNode and minInfoGain stops" ->
        regression(regDf, Grow(5, 6, minInstances = 30, minInfoGain = 0.5)),
      "children pure before maxDepth" -> classification(catClsDf(0.0), Grow(5, 6)),
      // a 4 x 128-bin node needs 12 KB, so a level of 30 trees is split
      // into several groups of nodes under 1 MB (in the one task here)
      "several node groups per level" ->
        regression(regDf, Grow(30, 6, maxBins = 128, maxMemoryInMB = 1)),
      // above the one-task bound: one job per node group
      "several node groups per level, one job each" ->
        regression(bigRegDf, Grow(30, 6, maxBins = 128, maxMemoryInMB = 1))
    ).foreach { case (clue, (bagTrees, rfTrees)) => assert(bagTrees === rfTrees, clue) }
  }

  test("BaggingRegressor subspaceRatio < 1 slices features per learner") {
    val bag = new BaggingRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3))
      .setNumBaseLearners(4)
      .setSubspaceRatio(0.5)
      .setSeed(1L)
    val model = bag.fit(regDf)
    assert(model.subspaces.forall(s => s.nonEmpty && s.length <= 4))
    assert(model.subspaces.exists(_.length < 4), "expected at least one proper subspace")
    // predictions still defined on full-width vectors
    val n = model.transform(regDf).select("prediction").na.drop().count()
    assert(n === 500)
  }

  test("BaggingClassifier hard and soft voting produce valid probabilities") {
    for (strategy <- Seq("hard", "soft")) {
      val bag = new BaggingClassifier()
        .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(4))
        .setNumBaseLearners(4)
        .setVotingStrategy(strategy)
        .setSeed(0L)
      val model = bag.fit(clsDf)
      val rows = model.transform(clsDf).select("probability", "prediction", "label").collect()
      val acc = rows.count(r => r.getDouble(1) == r.getDouble(2)).toDouble / rows.length
      assert(acc > 0.8, s"$strategy voting accuracy $acc")
      rows.foreach { r =>
        val p = r.getAs[Vector](0)
        assert(math.abs(p(0) + p(1) - 1.0) < 1e-9)
      }
    }
  }

  test("Bagging persistence round-trips transforms") {
    val tmp = java.nio.file.Files.createTempDirectory("bag-io").toString
    val model = new BaggingRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3))
      .setNumBaseLearners(3)
      .setSubspaceRatio(0.7)
      .setSeed(2L)
      .fit(regDf)
    model.write.overwrite().save(s"$tmp/m")
    val loaded = BaggingRegressionModel.load(s"$tmp/m")
    val a = model.transform(regDf).select("prediction").collect().map(_.getDouble(0))
    val b = loaded.transform(regDf).select("prediction").collect().map(_.getDouble(0))
    assert(a.toSeq === b.toSeq)

    val cmodel = new BaggingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(3))
      .setNumBaseLearners(3)
      .setSeed(2L)
      .fit(clsDf)
    cmodel.write.overwrite().save(s"$tmp/c")
    val cloaded = BaggingClassificationModel.load(s"$tmp/c")
    val ca = cmodel.transform(clsDf).select("prediction").collect().map(_.getDouble(0))
    val cb = cloaded.transform(clsDf).select("prediction").collect().map(_.getDouble(0))
    assert(ca.toSeq === cb.toSeq)
  }
}
