package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.classification.{DecisionTreeClassifier, LogisticRegression}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.graft._
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ensemble fits: each op fits each of five estimators on the training
  * rows and scores the holdout with it, one estimator after another (a
  * whole rotation per op keeps every op the same work). The boosting fits
  * are bound by their iteration count; bagging and stacking are the
  * few-job control.
  */
final class EnsembleFit(val spark: SparkSession, seed: Long, val cores: Int) extends Workload {
  import EnsembleFit._

  private var train: DataFrame = _
  private var holdout: DataFrame = _
  private var baseline: Map[Kind, Double] = Map.empty

  // per (op, estimator key): (fit s, score s, holdout loss)
  private val results = mutable.Map.empty[(Int, String), (Double, Double, Double)]

  def prepare(dir: File): Unit = {
    val rows = Gen.friedman(seed, TrainRows + HoldoutRows)
    val schema = StructType(
      (0 until Gen.TabFeatures).map(i => StructField(s"x$i", DoubleType, nullable = false)) ++
        Seq(StructField("y", DoubleType, nullable = false), StructField("label", DoubleType, nullable = false)))
    def toRow(r: Gen.TabRow) = Row.fromSeq(r.x.toSeq ++ Seq(r.y, r.label))
    writeParquet(rows.take(TrainRows).map(toRow).toSeq, schema, new File(dir, "train"))
    writeParquet(rows.drop(TrainRows).map(toRow).toSeq, schema, new File(dir, "holdout"))
  }

  def open(dir: File): Unit = {
    val assembler = new VectorAssembler()
      .setInputCols((0 until Gen.TabFeatures).map(i => s"x$i").toArray)
      .setOutputCol("features")
    def load(name: String) = {
      val df = assembler.transform(read(new File(dir, name))).select("features", "y", "label")
      df.persist()
      df.count()
      df
    }
    train = load("train")
    holdout = load("holdout")
    val stats = train.agg(avg("y"), avg("label")).head()
    val (mean, prior) = (stats.getDouble(0), stats.getDouble(1))
    val h = holdout.agg(
      sqrt(avg(pow(col("y") - mean, 2))),
      avg(col("label")))
      .head()
    val q = h.getDouble(1)
    baseline = Map(
      Regression -> h.getDouble(0),
      Probabilistic -> -(q * math.log(prior) + (1 - q) * math.log(1 - prior)),
      Labels -> (if (prior >= 0.5) 1 - q else q))
    results.clear()
  }

  /** One untimed rotation, the same work as an op: a JVM's first
    * rotation takes over twice as long as the ones after it.
    */
  def warmup(): Unit = estimators.foreach(e => score(e, e.build(cores, e.rounds).fit(train)))

  def op(i: Int, t: Tracer): Unit = estimators.foreach { e =>
    val est = e.build(cores, e.rounds)
    val t0 = System.nanoTime()
    val model = t.span("ml_graft", s"${e.key}.fit")(est.fit(train))
    val t1 = System.nanoTime()
    val loss = t.span("ml_graft", "transform")(score(e, model))
    results((i, e.key)) = ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, loss)
  }

  /** Holdout loss: RMSE, log-loss, or the misclassified share. */
  private def score(e: Spec, model: Model[_]): Double = {
    val scored = model.transform(holdout)
    val agg = e.kind match {
      case Regression => sqrt(avg(pow(col("prediction") - col("y"), 2)))
      case Probabilistic =>
        val p = greatest(least(vector_to_array(col("probability"))(1), lit(1 - 1e-15)), lit(1e-15))
        -avg(col("label") * log(p) + (lit(1.0) - col("label")) * log(lit(1.0) - p))
      case Labels => avg((col("prediction") =!= col("label")).cast("double"))
    }
    val r = scored.agg(agg, count(lit(1))).head()
    require(r.getLong(1) == HoldoutRows, s"scored ${r.getLong(1)} of $HoldoutRows holdout rows")
    r.getDouble(0)
  }

  def check(i: Int): Seq[String] = estimators.flatMap { e =>
    results.get((i, e.key)).toSeq.flatMap { case (_, _, loss) =>
      val base = baseline(e.kind)
      if (loss < base) Nil
      else Seq(f"${e.key} holdout loss $loss%.5f does not beat the constant baseline $base%.5f")
    }
  }

  /** Holdout loss over the constant baseline's, per estimator. */
  private def ratios: Map[String, Double] = estimators.flatMap { e =>
    results.collectFirst { case ((_, key), r) if key == e.key => e.key -> r._3 / baseline(e.kind) }
  }.toMap

  private def fitTimes(key: String): Seq[Double] =
    results.collect { case ((_, k), r) if k == key => r._1 }.toSeq

  /** Training rows per second of fitting, one fit of each estimator at
    * its median fit time over the pass's rotations.
    */
  def throughputAndQuality(opS: Seq[Double]): (Double, Double) =
    (TrainRows * estimators.size / estimators.map(e => Stats.median(fitTimes(e.key))).sum,
      1 - ratios.values.sum / ratios.size)

  def report(opS: Seq[Double]): Seq[String] = {
    val rs = results.values.toSeq
    Seq(
      f"fit_rows_per_s ${throughputAndQuality(opS)._1}%.1f rows/s (median fit of each estimator, ${rs.size} fits)",
      f"score_rows_per_s ${HoldoutRows * rs.size / rs.map(_._2).sum}%.1f rows/s (${rs.size} scorings)",
      f"holdout_loss_ratio ${ratios.values.sum / ratios.size}%.5f ratio (" +
        ratios.toSeq.sorted.map { case (k, v) => f"$k $v%.4f" }.mkString(", ") + ")") ++
      estimators.map(e => s"${e.key} fit ${Stats.describe(fitTimes(e.key), "s")}")
  }

  def layerMetrics(t: Tracer, ev: SparkEvents): Map[String, Double] = {
    val jobsBySpan = ev.jobList.groupBy(_._2).map { case (s, js) => s -> js.size }
    estimators.flatMap { e =>
      val fits = t.spans.filter(_.name == s"${e.key}.fit").toSeq
      val jobs = if (fits.isEmpty) 0.0 else fits.map(s => jobsBySpan.getOrElse(s.id, 0)).sum.toDouble / fits.size
      Seq(s"ml_graft.fit_s.${e.key}" -> Workload.spanMedianS(t, s"${e.key}.fit")) ++
        (if (e.boosted) Seq(s"ml_graft.jobs_per_iter.${e.key}" -> jobs / e.rounds)
         else Seq(s"ml_graft.jobs_per_fit.${e.key}" -> jobs))
    }.toMap + ("ml_graft.transform_s" -> Workload.spanMedianS(t, "transform"))
  }
}

object EnsembleFit {
  val TrainRows = 20000
  val HoldoutRows = 5000

  sealed trait Kind
  case object Regression extends Kind
  case object Probabilistic extends Kind
  case object Labels extends Kind

  /** An estimator of the rotation. `build(cores, rounds)` makes it with
    * `rounds` boosting iterations or bagged learners; `boosted` fits run
    * their rounds one after another.
    */
  final case class Spec(
      key: String, kind: Kind, rounds: Int, boosted: Boolean,
      build: (Int, Int) => Estimator[_ <: Model[_]])

  private def tree(depth: Int) = new DecisionTreeRegressor().setMaxDepth(depth).setSeed(42L)

  val estimators: Seq[Spec] = Seq(
    Spec("gbm_reg", Regression, 3, boosted = true, (_, n) => new GBMRegressor()
      .setBaseLearner(tree(5)).setMaxIter(n).setLearningRate(0.3).setSeed(42L).setLabelCol("y")),
    Spec("gbm_cls", Probabilistic, 3, boosted = true, (_, n) => new GBMClassifier()
      .setBaseLearner(tree(5)).setMaxIter(n).setLoss("bernoulli").setLearningRate(0.3).setSeed(42L)),
    Spec("boost_cls", Probabilistic, 3, boosted = true, (_, n) => new BoostingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(5).setSeed(42L))
      .setNumBaseLearners(n).setAlgorithm("real")),
    Spec("bag_reg", Regression, 8, boosted = false, (cores, n) => new BaggingRegressor()
      .setBaseLearner(tree(5)).setNumBaseLearners(n).setParallelism(math.min(cores, n))
      .setSeed(42L).setLabelCol("y")),
    Spec("stack_cls", Labels, 1, boosted = false, (_, _) => new StackingClassifier()
      .setBaseLearners(Array(
        new DecisionTreeClassifier().setMaxDepth(5).setSeed(42L),
        new LogisticRegression().setMaxIter(20)))
      .setStacker(new DecisionTreeClassifier().setMaxDepth(3).setSeed(43L))
      .setStackMethod("proba")))
}
