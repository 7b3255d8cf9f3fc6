package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.{DecisionTreeClassifier, LogisticRegression}
import org.apache.spark.ml.graft._
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.param.{Param, Params}
import org.apache.spark.ml.regression.{DecisionTreeRegressor, LinearRegression}
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Pins the on-disk layout of every ensemble estimator and model: what a
  * save writes (directory tree and extra-metadata keys) and what a load
  * gives back (params, learners, predictions).
  */
class PersistenceSuite extends SparkSpec {

  private lazy val regDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(17)
    (0 until 300).map { _ =>
      val x = Array.fill(4)(rng.nextDouble() * 10)
      (2 * x(0) - x(1) + 0.5 * x(2), Vectors.dense(x))
    }.toDF("label", "features")
  }

  private lazy val clsDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(19)
    (0 until 300).map { _ =>
      val x = Array.fill(4)(rng.nextDouble() * 10)
      (if (x(0) + x(1) > 10) 1.0 else 0.0, Vectors.dense(x))
    }.toDF("label", "features")
  }

  private val learnerNames = Set("baseLearner", "baseLearners", "stacker")
  private val standardKeys =
    Seq("class", "defaultParamMap", "paramMap", "sparkVersion", "timestamp", "uid")

  /** Non-learner params as name -> JSON; learner params as their stages'
    * class and own params, recursively.
    */
  private def describe(p: Params): Map[String, String] =
    p.extractParamMap().toSeq.map { pair =>
      val name = pair.param.name
      name -> (if (learnerNames(name)) {
        val stages = pair.value match {
          case a: Array[_] => a.toSeq
          case s => Seq(s)
        }
        stages.map { case s: Params => s"${s.getClass.getName}(${s.uid}) ${describe(s)}" }
          .mkString("[", ", ", "]")
      } else pair.param.asInstanceOf[Param[Any]].jsonEncode(pair.value))
    }.toMap

  /** Relative paths of every directory under `root`, sorted. */
  private def dirs(root: File): Seq[String] = {
    def walk(d: File, rel: String): Seq[String] =
      d.listFiles().filter(_.isDirectory).toSeq.flatMap { c =>
        val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
        r +: walk(c, r)
      }
    walk(root, "").sorted
  }

  private def metadataFile(path: String): File =
    new File(path, "metadata").listFiles().find(_.getName.startsWith("part-")).get

  private def metadataKeys(path: String): Seq[String] = {
    val JObject(fields) = parse(new String(Files.readAllBytes(metadataFile(path).toPath), UTF_8))
    fields.map(_._1).sorted
  }

  /** One row per class: how to build it, how to load it, the frame its
    * predictions are compared on (models only), the directories a save
    * writes (in any order) and the extra-metadata keys beside the standard
    * ones.
    */
  private case class Row(
      name: String,
      stage: () => Params with MLWritable,
      load: String => Params,
      data: Option[() => DataFrame],
      dirs: Seq[String],
      extraKeys: Seq[String])

  private def reg = Some(() => regDf)
  private def cls = Some(() => clsDf)
  private def dt = new DecisionTreeRegressor().setMaxDepth(3).setSeed(1)
  private def dtc = new DecisionTreeClassifier().setMaxDepth(3).setSeed(1)

  private def baggingReg = new BaggingRegressor()
    .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3))
    .setNumBaseLearners(3)
    .setSubspaceRatio(0.7)
    .setSeed(2L)
  private def baggingCls = new BaggingClassifier()
    .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(3))
    .setNumBaseLearners(3)
    .setSeed(2L)
  private def boostingReg = new BoostingRegressor().setBaseLearner(dt).setNumBaseLearners(3)
  private def boostingCls = new BoostingClassifier().setBaseLearner(dtc).setNumBaseLearners(3)
  private def gbmReg = new GBMRegressor().setBaseLearner(dt).setMaxIter(3).setSeed(0L)
  private def gbmCls = new GBMClassifier().setBaseLearner(dt).setMaxIter(2).setSeed(0L)
  private def stackingReg = new StackingRegressor()
    .setBaseLearners(Array(dt, new LinearRegression()))
    .setStacker(new LinearRegression())
  private def stackingCls = new StackingClassifier()
    .setBaseLearners(Array(dtc, new LogisticRegression().setMaxIter(20)))
    .setStacker(new DecisionTreeClassifier().setMaxDepth(3).setSeed(2))
    .setStackMethod("proba")

  private val learner = Seq("learner", "learner/metadata")
  private val stackLearners =
    Seq("learner-0", "learner-0/metadata", "learner-1", "learner-1/metadata",
      "stacker", "stacker/metadata")
  private def models(names: String*): Seq[String] =
    names.flatMap(n => Seq(n, s"$n/data", s"$n/metadata"))

  private lazy val rows = Seq(
    Row("BaggingRegressor", () => baggingReg, BaggingRegressor.load, None,
      learner :+ "metadata", Nil),
    Row("BaggingRegressionModel", () => baggingReg.fit(regDf), BaggingRegressionModel.load, reg,
      learner ++ Seq("metadata") ++ models("model-0", "model-1", "model-2"),
      Seq("numModels", "subspaces")),
    Row("BaggingClassifier", () => baggingCls, BaggingClassifier.load, None,
      learner :+ "metadata", Nil),
    Row("BaggingClassificationModel", () => baggingCls.fit(clsDf),
      BaggingClassificationModel.load, cls,
      learner ++ Seq("metadata") ++ models("model-0", "model-1", "model-2"),
      Seq("numClasses", "numModels", "subspaces")),
    Row("BoostingRegressor", () => boostingReg, BoostingRegressor.load, None,
      learner :+ "metadata", Nil),
    Row("BoostingRegressionModel", () => boostingReg.fit(regDf), BoostingRegressionModel.load, reg,
      learner ++ Seq("metadata") ++ models("model-0", "model-1", "model-2"),
      Seq("modelWeights", "numModels")),
    Row("BoostingClassifier", () => boostingCls, BoostingClassifier.load, None,
      learner :+ "metadata", Nil),
    Row("BoostingClassificationModel", () => boostingCls.fit(clsDf),
      BoostingClassificationModel.load, cls,
      learner ++ Seq("metadata") ++ models("model-0", "model-1", "model-2"),
      Seq("modelWeights", "numClasses", "numModels")),
    Row("GBMRegressor", () => gbmReg, GBMRegressor.load, None, learner :+ "metadata", Nil),
    Row("GBMRegressionModel", () => gbmReg.fit(regDf), GBMRegressionModel.load, reg,
      Seq("init", "init/metadata") ++ learner ++ Seq("metadata") ++
        models("model-0", "model-1", "model-2"),
      Seq("modelWeights", "numModels", "subspaces")),
    Row("GBMClassifier", () => gbmCls, GBMClassifier.load, None, learner :+ "metadata", Nil),
    Row("GBMClassificationModel", () => gbmCls.fit(clsDf), GBMClassificationModel.load, cls,
      learner ++ Seq("metadata") ++ models("model-0-0", "model-0-1", "model-1-0", "model-1-1"),
      Seq("dim", "init", "modelWeights", "numClasses", "numIters", "subspaces")),
    Row("StackingRegressor", () => stackingReg, StackingRegressor.load, None,
      stackLearners :+ "metadata", Seq("numLearners")),
    Row("StackingRegressionModel", () => stackingReg.fit(regDf), StackingRegressionModel.load, reg,
      stackLearners ++ Seq("metadata") ++ models("model-0", "model-1", "stack"),
      Seq("numModels")),
    Row("StackingClassifier", () => stackingCls, StackingClassifier.load, None,
      stackLearners :+ "metadata", Seq("numLearners")),
    Row("StackingClassificationModel", () => stackingCls.fit(clsDf),
      StackingClassificationModel.load, cls,
      stackLearners ++ Seq("metadata") ++ models("model-0", "model-1", "stack"),
      Seq("numModels")),
    Row("DummyRegressionModel", () => new DummyRegressor().setStrategy("median").fit(regDf),
      DummyRegressionModel.load, reg, Seq("metadata"), Seq("constantValue")),
    Row("DummyClassificationModel", () => new DummyClassifier().setStrategy("prior").fit(clsDf),
      DummyClassificationModel.load, cls, Seq("metadata"), Seq("classProbabilities")))

  test("every ensemble estimator and model round-trips with the pinned layout") {
    assert(rows.map(_.name).distinct.length === 18)
    spark // the writers and readers find the session through getOrCreate
    val tmp = Files.createTempDirectory("graft-persist").toString
    for (r <- rows) withClue(s"${r.name}: ") {
      val stage = r.stage()
      assert(stage.getClass.getSimpleName === r.name)
      val path = s"$tmp/${r.name}"
      stage.write.save(path)
      assert(dirs(new File(path)) === r.dirs.sorted)
      assert(metadataKeys(path) === (standardKeys ++ r.extraKeys).sorted)
      val loaded = r.load(path)
      assert(loaded.getClass === stage.getClass)
      assert(loaded.uid === stage.uid)
      assert(describe(loaded) === describe(stage))
      r.data.foreach { data =>
        def predictions(t: Params) =
          t.asInstanceOf[Transformer].transform(data()).select("prediction")
            .collect().map(_.getDouble(0)).toSeq
        assert(predictions(loaded) === predictions(stage))
      }
    }
  }

  test("metadata carrying the retired nativeTreeFastPath param still loads") {
    spark
    val path = Files.createTempDirectory("graft-retired").toString + "/gbm"
    val est = gbmReg.setLearningRate(0.5)
    est.write.save(path)
    // every save before a param was retired wrote it into both maps
    val retired = Seq(
      ("nativeTreeFastPath", JBool(false), JBool(true)),
      ("aggregationDepth", JInt(3), JInt(2)))
    val file = metadataFile(path)
    val json = parse(new String(Files.readAllBytes(file.toPath), UTF_8)).transformField {
      case ("paramMap", JObject(fs)) =>
        ("paramMap", JObject(retired.map { case (n, set, _) => n -> set }.toList ++ fs))
      case ("defaultParamMap", JObject(fs)) =>
        ("defaultParamMap", JObject(retired.map { case (n, _, dflt) => n -> dflt }.toList ++ fs))
    }
    Files.write(file.toPath, compact(render(json)).getBytes(UTF_8))
    new File(file.getParentFile, s".${file.getName}.crc").delete()
    val loaded = GBMRegressor.load(path)
    assert(loaded.getLearningRate === 0.5)
    assert(describe(loaded) -- retired.map(_._1) === describe(est) -- retired.map(_._1))
  }
}
