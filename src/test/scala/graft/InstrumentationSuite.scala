package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
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

  /** The call site of every job started while `body` runs: the name of
    * the job's result stage, the last of its stages.
    */
  private def jobCallSites(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val sites = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.synchronized { sites += e.stageInfos.maxBy(_.stageId).name }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    sites.synchronized(sites.toSeq)
  }

  test("a binned boosting round runs no job beyond its tree levels and aggregates") {
    // one extra round's jobs, less the RandomForest level jobs: the round
    // state is set without a job, and the next job that reads it
    // materializes it
    def roundJobs(fit: Int => Unit): (Int, Seq[String], Seq[String]) = {
      def outside(rounds: Int) =
        jobCallSites(fit(rounds)).filterNot(_.contains("RandomForest.scala"))
      val (two, three) = (outside(2), outside(3))
      (three.length - two.length, two, three)
    }
    val (gbm, gbm2, gbm3) = roundJobs { n =>
      new GBMRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2).setSeed(1))
        .setMaxIter(n)
        .setSeed(1)
        .fit(df)
    }
    assert(gbm === 1, s"GBM squared loss: the step pass only; 2 rounds $gbm2, 3 rounds $gbm3")
    val (samme, samme2, samme3) = roundJobs { n =>
      new BoostingClassifier()
        .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(1).setSeed(1))
        .setAlgorithm("real")
        .setNumBaseLearners(n)
        .fit(clsDf)
    }
    assert(samme === 2,
      s"SAMME.R: the weight sum and the weighted error; 2 rounds $samme2, 3 rounds $samme3")
  }
}
