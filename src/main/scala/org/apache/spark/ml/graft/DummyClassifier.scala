package org.apache.spark.ml.graft

import org.apache.spark.ml.classification.{
  ProbabilisticClassificationModel, ProbabilisticClassifier
}
import org.apache.spark.ml.impl.Utils.EPSILON
import org.apache.spark.ml.linalg.{DenseVector, Vector, Vectors}
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.HasWeightCol
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.json4s.JsonDSL._

private[graft] trait DummyClassifierParams
    extends org.apache.spark.ml.classification.ProbabilisticClassifierParams
    with HasWeightCol {

  /** uniform | prior | constant (reference:
    * classification/DummyClassifier.scala:35-71).
    */
  final val strategy: Param[String] = new Param[String](
    this, "strategy", "uniform|prior|constant",
    ParamValidators.inArray(Array("uniform", "prior", "constant")))
  def getStrategy: String = $(strategy)

  final val constant: DoubleParam = new DoubleParam(this, "constant", "constant class label")

  setDefault(strategy -> "uniform", constant -> 0.0)
}

/** Constant-distribution baseline classifier; also the GBM classifier
  * `prior`/`uniform` init provider (reference:
  * classification/DummyClassifier.scala). The prior is one weighted
  * groupBy-count — partial-aggregated map side, K rows shuffled.
  */
class DummyClassifier(override val uid: String)
    extends ProbabilisticClassifier[Vector, DummyClassifier, DummyClassificationModel]
    with DummyClassifierParams
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("DummyClassifier"))

  def setStrategy(value: String): this.type = set(strategy, value)
  def setConstant(value: Double): this.type = set(constant, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)

  override protected def train(dataset: Dataset[_]): DummyClassificationModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): DummyClassificationModel = {
    val numClasses = getNumClasses(dataset)
    val probs: Array[Double] = $(strategy) match {
      case "uniform" => Array.fill(numClasses)(1.0 / numClasses)
      case "prior" =>
        val w =
          if (isDefined(weightCol) && $(weightCol).nonEmpty) col($(weightCol)).cast(DoubleType)
          else lit(1.0)
        val counts = dataset
          .select(col($(labelCol)).cast(DoubleType).as("label"), w.as("w"))
          .groupBy("label")
          .agg(sum("w").as("w"))
          .collect()
          .map(r => (r.getDouble(0).toInt, r.getDouble(1)))
          .toMap
        val total = counts.values.sum
        Array.tabulate(numClasses)(k => counts.getOrElse(k, 0.0) / total)
      case "constant" =>
        val k = $(constant).toInt
        require(k >= 0 && k < numClasses, s"constant $k outside [0, $numClasses)")
        Array.tabulate(numClasses)(i => if (i == k) 1.0 else 0.0)
    }
    new DummyClassificationModel(uid, probs).setParent(this)
  }

  override def copy(extra: ParamMap): DummyClassifier = defaultCopy(extra)
}

object DummyClassifier extends DefaultParamsReadable[DummyClassifier]

class DummyClassificationModel(override val uid: String, val classProbabilities: Array[Double])
    extends ProbabilisticClassificationModel[Vector, DummyClassificationModel]
    with DummyClassifierParams
    with MLWritable {

  override def numClasses: Int = classProbabilities.length

  override def numFeatures: Int = -1

  /** raw = log prior (clamped), so downstream margin math stays sane
    * (reference: classification/DummyClassifier.scala:163).
    */
  override def predictRaw(features: Vector): Vector =
    Vectors.dense(classProbabilities.map(p => math.log(math.max(p, EPSILON))))

  override protected def raw2probabilityInPlace(rawPrediction: Vector): Vector = {
    rawPrediction match {
      case d: DenseVector =>
        var i = 0
        var s = 0.0
        while (i < d.size) { d.values(i) = math.exp(d.values(i)); s += d.values(i); i += 1 }
        i = 0
        while (i < d.size) { d.values(i) /= s; i += 1 }
        d
      case v => throw new IllegalArgumentException(s"unexpected raw vector $v")
    }
  }

  override def copy(extra: ParamMap): DummyClassificationModel =
    copyValues(new DummyClassificationModel(uid, classProbabilities), extra).setParent(parent)

  override def write: MLWriter =
    GraftPersistence.writer(this, "classProbabilities" -> classProbabilities.toSeq)
}

object DummyClassificationModel extends GraftReadable[DummyClassificationModel](s =>
  new DummyClassificationModel(s.uid, s.doubles("classProbabilities")))
