package org.apache.spark.ml.graft

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD

/** A boosting fit's loop [[State]] for suites outside the package. */
object LoopState {

  /** `rows` as the first value of a state that checkpoints every value,
    * once a job has read it: the value's rows and the state's `close`.
    */
  def checkpointed[T: ClassTag](rows: RDD[T]): (RDD[T], () => Unit) = {
    val state = new State(rows, checkpointInterval = 1)
    state.rdd.count()
    (state.rdd, () => state.close())
  }
}
