package graft

import org.apache.spark.ml.Predictor
import org.apache.spark.ml.classification.{
  DecisionTreeClassificationModel, DecisionTreeClassifier, ProbabilisticClassifier
}
import org.apache.spark.ml.graft.EnsemblePredictorType
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.{ParamMap, Params}
import org.apache.spark.ml.param.shared.{HasFeaturesCol, HasLabelCol, HasWeightCol}
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.Dataset

/** Pins the learner backend of an ensemble fit for the backend-parity
  * tests. The estimators fit a Spark DecisionTree base learner on the
  * bin-once `TreePoint` backend; the same tree behind an opaque predictor,
  * which only delegates `fit` to it, takes the spark.ml `Predictor`
  * backend.
  */
object PredictorBackend {

  /** `dt` itself when `fast`, else `dt` behind an opaque predictor. */
  def pin(fast: Boolean, dt: DecisionTreeRegressor): EnsemblePredictorType = {
    // typed one by one: the lub of the two branch types is not a predictor type
    val (tree, opaque): (EnsemblePredictorType, EnsemblePredictorType) =
      (dt, new OpaqueTreeRegressor(dt))
    if (fast) tree else opaque
  }

  def pin(fast: Boolean, dt: DecisionTreeClassifier): EnsemblePredictorType = {
    // typed one by one: the lub of the two branch types is not a predictor type
    val (tree, opaque): (EnsemblePredictorType, EnsemblePredictorType) =
      (dt, new OpaqueTreeClassifier(dt))
    if (fast) tree else opaque
  }

  private[graft] type Columns = Params with HasLabelCol with HasFeaturesCol with HasWeightCol

  /** The wrapper's column bindings, for the tree it wraps. */
  private[graft] def columns(wrapper: Columns, tree: Columns): ParamMap = {
    val pm = ParamMap(
      tree.labelCol -> wrapper.getLabelCol, tree.featuresCol -> wrapper.getFeaturesCol)
    wrapper.get(wrapper.weightCol).foreach(w => pm.put(tree.weightCol, w))
    pm
  }
}

class OpaqueTreeRegressor(override val uid: String, val tree: DecisionTreeRegressor)
    extends Predictor[Vector, OpaqueTreeRegressor, DecisionTreeRegressionModel]
    with HasWeightCol {

  def this(tree: DecisionTreeRegressor) = this(Identifiable.randomUID("opaqueTreeReg"), tree)

  override protected def train(dataset: Dataset[_]): DecisionTreeRegressionModel =
    tree.fit(dataset, PredictorBackend.columns(this, tree))

  override def copy(extra: ParamMap): OpaqueTreeRegressor =
    copyValues(new OpaqueTreeRegressor(uid, tree), extra)
}

class OpaqueTreeClassifier(override val uid: String, val tree: DecisionTreeClassifier)
    extends ProbabilisticClassifier[Vector, OpaqueTreeClassifier, DecisionTreeClassificationModel]
    with HasWeightCol {

  def this(tree: DecisionTreeClassifier) = this(Identifiable.randomUID("opaqueTreeCls"), tree)

  override protected def train(dataset: Dataset[_]): DecisionTreeClassificationModel =
    tree.fit(dataset, PredictorBackend.columns(this, tree))

  override def copy(extra: ParamMap): OpaqueTreeClassifier =
    copyValues(new OpaqueTreeClassifier(uid, tree), extra)
}
