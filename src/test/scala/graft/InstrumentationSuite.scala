package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.ml.tree.impl.GraftTreeShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col

import graft.{PredictorBackend, SparkSpec}

/** Pins the reference's `Instrumentation.instrumented` logging parity:
  * every estimator family logs its pipeline stage, params, and dataset at
  * fit time (reference: regression/BaggingRegressor.scala:117-131 wraps
  * train the same way).
  */
class InstrumentationSuite extends SparkSpec {

  private lazy val df: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(5)
    (0 until 200).map { _ =>
      val x = Array.fill(3)(rng.nextDouble())
      (x.sum + rng.nextGaussian() * 0.1, Vectors.dense(x))
    }.toDF("label", "features")
  }

  private lazy val clsDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(6)
    (0 until 200).map { _ =>
      val x = Array.fill(3)(rng.nextDouble())
      (if (x.sum > 1.5) 1.0 else 0.0, Vectors.dense(x))
    }.toDF("label", "features")
  }

  /** Capture log events from the spark.ml Instrumentation logger while
    * running `body` (suites run at WARN, so the logger level is raised to
    * INFO just for the capture).
    */
  private def captureInstrumentation(body: => Unit): Seq[String] = {
    val messages = ArrayBuffer.empty[String]
    val loggerName = "org.apache.spark.ml.util.Instrumentation"
    val appender = new AbstractAppender(
        "graft-instr-capture", null, null, false, Array.empty) {
      override def append(event: LogEvent): Unit =
        if (event.getLoggerName == loggerName) {
          messages.synchronized { messages += event.getMessage.getFormattedMessage }
        }
    }
    appender.start()
    // resolve the context through Spark's own classloader — sbt's layered
    // classloaders can otherwise hand back a different LoggerContext than
    // the one Spark logs through
    val ctx = LogManager
      .getContext(org.apache.spark.SparkContext.getClass.getClassLoader, false)
      .asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val root = cfg.getRootLogger
    val prevLevel = root.getLevel
    root.addAppender(appender, Level.INFO, null)
    org.apache.logging.log4j.core.config.Configurator.setLevel(loggerName, Level.INFO)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender("graft-instr-capture")
      org.apache.logging.log4j.core.config.Configurator.setLevel(loggerName, prevLevel)
      ctx.updateLoggers()
      appender.stop()
    }
    messages.toSeq
  }

  test("every estimator family logs params + dataset at fit time") {
    val dt = () => new DecisionTreeRegressor().setMaxDepth(2).setSeed(1)
    val fits: Seq[(String, () => Unit)] = Seq(
      "DummyRegressor" -> (() => { new DummyRegressor().setStrategy("mean").fit(df); () }),
      "BaggingRegressor" -> (() =>
        { new BaggingRegressor().setBaseLearner(dt()).setNumBaseLearners(2).setSeed(1).fit(df); () }),
      "BoostingRegressor" -> (() =>
        { new BoostingRegressor().setBaseLearner(dt()).setNumBaseLearners(2).fit(df); () }),
      "StackingRegressor" -> (() =>
        { new StackingRegressor().setBaseLearners(Array(dt(), dt()))
            .setStacker(new DummyRegressor()).fit(df); () }),
      "GBMRegressor" -> (() =>
        { new GBMRegressor().setBaseLearner(dt()).setMaxIter(2).setSeed(1).fit(df); () }),
      "GBMClassifier" -> (() =>
        { new GBMClassifier().setBaseLearner(dt()).setLoss("bernoulli")
            .setMaxIter(2).setSeed(1).fit(clsDf); () }))
    fits.foreach { case (name, fit) =>
      val logs = captureInstrumentation(fit())
      assert(logs.exists(_.contains("training: numPartitions")),
        s"$name: no dataset log in ${logs.take(5)}")
      assert(logs.exists(m => m.contains("{\"") && m.contains("\":")),
        s"$name: no params JSON log in ${logs.take(5)}")
      assert(logs.exists(_.contains(name)), s"$name: no pipeline-stage log")
    }
  }

  /** The logged values of `key`, in logging order. */
  private def named(logs: Seq[String], key: String): Seq[String] =
    logs.flatMap(m => s"\"$key\":([^,}]+)".r.findFirstMatchIn(m).map(_.group(1)))

  test("boosting loops log a per-round trace on both learner backends") {
    val withVal = df.withColumn("isVal", col("label") > 1.8)
    for (fast <- Seq(true, false)) {
      var gbm: GBMRegressionModel = null
      val gbmLogs = captureInstrumentation {
        gbm = new GBMRegressor()
          .setBaseLearner(
            PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(2).setSeed(1)))
          .setMaxIter(3)
          .setValidationIndicatorCol("isVal")
          .setNumRounds(10)
          .setSeed(1)
          .fit(withVal)
      }
      assert(named(gbmLogs, "stepSize").map(_.toDouble) === gbm.modelWeights.toSeq,
        s"fast=$fast: $gbmLogs")
      assert(named(gbmLogs, "validationLoss").length === 3, s"fast=$fast: $gbmLogs")
      assert(named(gbmLogs, "numRoundsKept") === Seq("3"), s"fast=$fast: $gbmLogs")

      var ada: BoostingClassificationModel = null
      val adaLogs = captureInstrumentation {
        ada = new BoostingClassifier()
          .setBaseLearner(
            PredictorBackend.pin(fast, new DecisionTreeClassifier().setMaxDepth(1).setSeed(1)))
          .setNumBaseLearners(2)
          .fit(clsDf)
      }
      assert(named(adaLogs, "modelWeight").map(_.toDouble) === ada.modelWeights.toSeq,
        s"fast=$fast: $adaLogs")
      assert(named(adaLogs, "estimatorError").length === 2, s"fast=$fast: $adaLogs")
      assert(named(adaLogs, "numRoundsKept") === Seq(ada.models.length.toString),
        s"fast=$fast: $adaLogs")
    }
  }

  /** A wide regression input: 2,500 rows x 1,000 features, whose trees
    * grow one two-stage job per node group.
    */
  private lazy val wideDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(8)
    (0 until 2500).map { _ =>
      val x = Array.fill(1000)(rng.nextDouble())
      (x(0) + x(1) + rng.nextGaussian() * 0.1, Vectors.dense(x))
    }.toDF("label", "features")
  }

  /** A job started while `body` runs: its call site (the name of its
    * result stage, the last of its stages), the call stack behind that
    * site, its stage count and its result stage's task count.
    */
  private case class Job(site: String, stack: String, stages: Int, tasks: Int) {
    // a bin-once induction's job, on either of its paths
    def isTree: Boolean = stack.contains("GraftTreeShim$.grow(")
    // a job of Spark's own tree fit
    def isSparkFit: Boolean = stack.contains("DecisionTreeClassifier.$anonfun$train$") ||
      stack.contains("DecisionTreeRegressor.$anonfun$train$")
  }

  private def jobs(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val started = ArrayBuffer.empty[Job]
    // a SQL query's jobs may start on another thread, whose stack ends at
    // the thread pool: they take the stack of the query's action instead
    val queries = scala.collection.mutable.Map.empty[String, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries(q.executionId.toString) = q.details
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val result = e.stageInfos.maxBy(_.stageId)
        val query = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        val stack = query.flatMap(queries.get).getOrElse(result.details)
        started.synchronized {
          started += Job(result.name, stack, e.stageInfos.length, result.numTasks)
        }
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    started.synchronized(started.toSeq)
  }

  test("a binned boosting round runs no job beyond its tree levels and aggregates") {
    // the inputs sit on both sides of the one-task bound
    assert(200L * 3 <= GraftTreeShim.OneTaskCells)
    assert(2500L * 1000 > GraftTreeShim.OneTaskCells)
    // one extra round's jobs, less the tree jobs: the round state is set
    // without a job, and the next job that reads it materializes it. A
    // small input's round grows its tree in one job of one stage and one
    // task; a large input's in one job per level, each of two stages (the
    // per-node histogram merge is a shuffle on the executors, and only
    // the chosen splits are collected). On the opaque-tree backend
    // (`oneTask` None) the tree jobs are those of Spark's own fit.
    def roundJobs(fit: Int => Unit, oneTask: Option[Boolean]): (Int, Seq[String], Seq[String]) = {
      def outside(rounds: Int) = {
        val all = jobs(fit(rounds))
        val (trees, other) = all.partition(j => if (oneTask.isEmpty) j.isSparkFit else j.isTree)
        val shapes = trees.map(j => (j.stages, j.tasks))
        oneTask match {
          case Some(true) =>
            assert(trees.length === rounds, s"one tree job per round: $shapes among $other")
            assert(shapes.forall(_ == ((1, 1))), s"tree jobs (stages, tasks): $shapes")
          case Some(false) =>
            assert(trees.length > rounds, s"level jobs: $shapes among $other")
            assert(shapes.forall(_._1 == 2), s"level jobs (stages, tasks): $shapes")
          case None =>
            assert(trees.length >= rounds, s"Spark's fit jobs: $shapes among $other")
            assert(!all.exists(_.isTree), s"no bin-once tree job: $all")
        }
        other.map(_.site)
      }
      val (two, three) = (outside(2), outside(3))
      (three.length - two.length, two, three)
    }
    def gbm(data: DataFrame, fast: Boolean)(n: Int): Unit =
      new GBMRegressor()
        .setBaseLearner(
          PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(2).setSeed(1)))
        .setMaxIter(n)
        .setSeed(1)
        .fit(data)
    for ((data, oneTask) <- Seq(df -> Some(true), wideDf -> Some(false), df -> None)) {
      val (rounds, gbm2, gbm3) = roundJobs(gbm(data, fast = oneTask.isDefined), oneTask)
      assert(rounds === 1, s"GBM squared loss (one task: $oneTask): the step pass only; " +
        s"2 rounds $gbm2, 3 rounds $gbm3")
    }
    for (fast <- Seq(true, false)) {
      val (samme, samme2, samme3) = roundJobs(n =>
        new BoostingClassifier()
          .setBaseLearner(
            PredictorBackend.pin(fast, new DecisionTreeClassifier().setMaxDepth(1).setSeed(1)))
          .setAlgorithm("real")
          .setNumBaseLearners(n)
          .fit(clsDf), oneTask = if (fast) Some(true) else None)
      assert(samme === 2, s"SAMME.R (fast: $fast): the weight sum and the weighted error; " +
        s"2 rounds $samme2, 3 rounds $samme3")
    }
  }

  test("a VectorAssembler-built features column gives its width with no Spark job") {
    // not a local relation, whose first row Spark reads without a job
    val assembled = new VectorAssembler()
      .setInputCols(Array("a", "b", "c"))
      .setOutputCol("features")
      .transform(spark.range(2).select(Seq("a", "b", "c").map(col("id").cast("double").as(_)): _*))
    var width = 0
    val started = jobs { width = GraftUtils.numFeatures(assembled, "features") }
    assert(width === 3)
    assert(started.isEmpty, s"jobs: ${started.map(_.site)}")
  }
}
