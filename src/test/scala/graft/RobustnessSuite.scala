package graft

import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.graft._
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Error paths, weight plumbing, determinism (SURVEY.md §5 category 6). */
class RobustnessSuite extends SparkSpec {

  private lazy val df: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(53)
    (0 until 300).map { _ =>
      val x = Array.fill(3)(rng.nextDouble() * 10)
      (x(0) * 2 - x(1), Vectors.dense(x))
    }.toDF("label", "features")
  }

  test("missing label column throws analysis-time error") {
    val bad = df.withColumnRenamed("label", "y")
    val e = intercept[Exception] {
      new BaggingRegressor()
        .setBaseLearner(new DecisionTreeRegressor())
        .setNumBaseLearners(2)
        .fit(bad)
    }
    assert(e.getMessage.toLowerCase.contains("label"))
  }

  test("non-vector features column throws") {
    val s = spark
    import s.implicits._
    val bad = Seq((1.0, 2.0)).toDF("label", "features")
    intercept[Exception] {
      new DummyRegressor().setStrategy("mean").fit(bad).transform(bad).collect()
    }
  }

  test("reliable checkpoint mode: loop survives cached-block loss and cleans up files") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isDefined) // SparkSpec sets it session-wide
    def file(path: String) =
      if (path.startsWith("file:")) new java.io.File(new java.net.URI(path))
      else new java.io.File(path)
    val ckptRoot = file(sc.getCheckpointDir.get)

    // 1) a boosting loop's state checkpoints RELIABLY under a checkpoint
    //    dir: wiping every cached block (the executor-storage-loss
    //    simulation — a local checkpoint dies here by contract) must not
    //    lose its rows, which come back from the checkpoint files
    val labels = df.rdd.map(_.getDouble(0))
    val (rows, close) = LoopState.checkpointed(labels)
    val blocks = rows.dependencies.head.rdd
    assert(blocks.getCheckpointFile.isDefined, "the state value must be checkpointed to files")
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(rows.collect().toSeq === labels.collect().toSeq,
      "checkpointed rows must come back from files after block loss")
    close()
    assert(!file(blocks.getCheckpointFile.get).exists(),
      "close must delete the state's checkpoint files")

    // 2) a boosting fit checkpointing EVERY iteration through the same
    //    path: fit works and close() leaves no checkpoint files behind
    def rddDirs() = Option(ckptRoot.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("rdd-"))
    // both learner backends must clean up: the native-tree fast path and
    // the Predictor backend keep their boost weights in the same State
    for (fast <- Seq(true, false)) {
      val before = rddDirs().map(_.getName).toSet
      val model = new BoostingRegressor()
        .setBaseLearner(PredictorBackend.pin(fast, new DecisionTreeRegressor().setMaxDepth(2)))
        .setNumBaseLearners(4)
        .setCheckpointInterval(1)
        .fit(df)
      assert(model.transform(df).select("prediction").count() === 300)
      val leftover = rddDirs().map(_.getName).toSet -- before
      assert(leftover.isEmpty, s"fast=$fast fit must delete its checkpoints, leaked: $leftover")
    }

    // GBM fast path checkpoints its prediction-state RDD the same way
    val before = rddDirs().map(_.getName).toSet
    val gbm = new org.apache.spark.ml.graft.GBMRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
      .setMaxIter(4)
      .setCheckpointInterval(1)
      .setSeed(1L)
      .fit(df)
    assert(gbm.transform(df).select("prediction").count() === 300)
    val leftover = rddDirs().map(_.getName).toSet -- before
    assert(leftover.isEmpty, s"GBM fast path leaked checkpoints: $leftover")
  }

  test("a failed boosting fit deletes its checkpoints and frees its cached state") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val ckptDir = sc.getCheckpointDir.get
    val ckptRoot =
      if (ckptDir.startsWith("file:")) new java.io.File(new java.net.URI(ckptDir))
      else new java.io.File(ckptDir)
    def rddDirs() = Option(ckptRoot.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("rdd-")).toSet

    // rejected in round one, after the loop checkpointed its input
    val cls = Seq(
      (0.0, Vectors.dense(0.0, 1.0)), (1.0, Vectors.dense(1.0, 0.0)),
      (0.0, Vectors.dense(0.1, 0.9)), (1.0, Vectors.dense(0.9, 0.1))
    ).toDF("label", "features")
    val dirs = rddDirs()
    intercept[IllegalArgumentException] {
      new BoostingClassifier()
        .setBaseLearner(new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
          .setLayers(Array(2, 2)).setMaxIter(1))
        .setNumBaseLearners(2)
        .setCheckpointInterval(1)
        .fit(cls)
    }
    assert(rddDirs() -- dirs === Set.empty, "rejected BoostingClassifier fit leaked checkpoints")

    // fails in round two, with a round's state cached and checkpointed
    val dirs2 = rddDirs()
    val cached = sc.getPersistentRDDs.keySet
    SecondFitFails.fits.set(0)
    val e = intercept[IllegalStateException] {
      new GBMRegressor()
        .setBaseLearner(new SecondFitFails())
        .setMaxIter(3)
        .setCheckpointInterval(1)
        .setSeed(1L)
        .fit(df)
    }
    assert(e.getMessage.contains("second fit"))
    assert(rddDirs() -- dirs2 === Set.empty, "failed GBMRegressor fit leaked checkpoints")
    assert(sc.getPersistentRDDs.keySet -- cached === Set.empty,
      "failed GBMRegressor fit left cached RDDs")
  }

  test("a successful fit frees every RDD it cached") {
    val sc = spark.sparkContext
    val withVal = df.withColumn("isVal", rand(3) > 0.7)
    val cls = df.withColumn("label", (col("label") > 5).cast("double"))
    val fits: Seq[(String, () => Any)] = Seq(
      "GBMRegressor with validation" -> (() => new GBMRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
        .setMaxIter(3)
        .setValidationIndicatorCol("isVal")
        .setNumRounds(10)
        .setSeed(1L)
        .fit(withVal)),
      "GBMClassifier" -> (() => new GBMClassifier()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
        .setMaxIter(3)
        .setSeed(1L)
        .fit(cls)),
      "BoostingClassifier SAMME" -> (() => new BoostingClassifier()
        .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(1))
        .setNumBaseLearners(3)
        .fit(cls)),
      "BoostingClassifier SAMME.R" -> (() => new BoostingClassifier()
        .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(1))
        .setAlgorithm("real")
        .setNumBaseLearners(3)
        .fit(cls)),
      "BaggingRegressor" -> (() => new BaggingRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
        .setNumBaseLearners(3)
        .setSeed(1L)
        .fit(df)),
      "BaggingClassifier" -> (() => new BaggingClassifier()
        .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(2))
        .setNumBaseLearners(3)
        .setSeed(1L)
        .fit(cls)),
      // the generic path caches its input for the K samples
      "BaggingRegressor with subspaceRatio 0.5" -> (() => new BaggingRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
        .setNumBaseLearners(3)
        .setSubspaceRatio(0.5)
        .setSeed(1L)
        .fit(df)))
    for ((name, fit) <- fits) {
      val cached = sc.getPersistentRDDs.keySet
      fit()
      assert(sc.getPersistentRDDs.keySet === cached, s"$name left cached RDDs")
    }
  }

  test("a failed concurrent fit rethrows the base learner's own exception") {
    val fits: Seq[(String, () => Any)] = Seq(
      "BaggingRegressor" -> (() => new BaggingRegressor()
        .setBaseLearner(new FitFails())
        .setNumBaseLearners(3)
        .setSubspaceRatio(0.5)
        .setSeed(1L)
        .fit(df)),
      "StackingRegressor" -> (() => new StackingRegressor()
        .setBaseLearners(Array(new DummyRegressor(), new FitFails()))
        .setStacker(new DummyRegressor())
        .fit(df)))
    for ((name, fit) <- fits) {
      val e = intercept[Exception](fit())
      assert(e.isInstanceOf[IllegalArgumentException], s"$name threw $e")
      assert(e.getMessage === FitFails.message, name)
    }
  }

  test("instance weights steer boosting") {
    val s = spark
    import s.implicits._
    // two clusters with contradictory labels; weights decide which wins
    val data = (0 until 200).map { i =>
      val heavy = i < 100
      val w = if (heavy) 100.0 else 0.01
      val label = if (heavy) 1.0 else 0.0
      (label, w, Vectors.dense(5.0, 5.0))
    }
    val wdf = data.toDF("label", "w", "features")
    val model = new BoostingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(2))
      .setNumBaseLearners(2)
      .setWeightCol("w")
      .fit(wdf)
    val pred = model.transform(wdf.limit(1)).select("prediction").head().getDouble(0)
    assert(pred === 1.0, "heavily-weighted class must win on identical features")
  }

  test("boosting rejects base learners that cannot consume instance weights") {
    val s = spark
    import s.implicits._
    val cls = Seq(
      (0.0, Vectors.dense(0.0, 1.0)), (1.0, Vectors.dense(1.0, 0.0)),
      (0.0, Vectors.dense(0.1, 0.9)), (1.0, Vectors.dense(0.9, 0.1))
    ).toDF("label", "features")
    // MultilayerPerceptronClassifier has no weightCol: fitting it unweighted
    // every round would silently degenerate AdaBoost, so it must be rejected
    val e = intercept[IllegalArgumentException] {
      new BoostingClassifier()
        .setBaseLearner(new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
          .setLayers(Array(2, 2)).setMaxIter(1))
        .setNumBaseLearners(2)
        .fit(cls)
    }
    assert(e.getMessage.contains("instance weights"))
  }

  test("same seed reproduces the ensemble; different seed varies the bags") {
    def fit(seed: Long) = new BaggingRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(4))
      .setNumBaseLearners(3)
      .setSubsampleRatio(0.5)
      .setSubspaceRatio(0.7)
      .setSeed(seed)
      .fit(df)
    val a = fit(7L)
    val b = fit(7L)
    val c = fit(8L)
    assert(a.subspaces.map(_.toSeq).toSeq === b.subspaces.map(_.toSeq).toSeq)
    val pa = a.transform(df).select("prediction").collect().map(_.getDouble(0))
    val pb = b.transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(pa.toSeq === pb.toSeq)
    assert(a.subspaces.map(_.toSeq).toSeq !== c.subspaces.map(_.toSeq).toSeq)
  }

  test("null-text documents have defined behavior in the round-11 operators") {
    val s = spark
    import s.implicits._
    import graft.pipeline.{Chunking, CorpusStats, Dedup}
    val docs = Seq(
      (1L, "src", Option("a b c d e")),
      (2L, "src", Option.empty[String]), // null text
      (3L, "src", Option("f g h"))
    ).toDF("doc_id", "source", "text")

    // chunking: a null-text doc yields no chunks (explode of null), the
    // rest of the corpus is untouched
    val chunks = Chunking.chunkDocuments(docs, "text", 3, 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(chunks === Set(1L, 3L))

    // packing: a null-text doc emits a zero-width row (null coordinates)
    // and does NOT shift later documents' offsets
    val packed = Chunking.packConcat(docs, "doc_id", "text", 4, 1)
      .orderBy("doc_id").collect()
    assert(packed.length === 3)
    assert(packed(1).isNullAt(2) && packed(1).isNullAt(5)) // n_tokens, last_seq
    val without = Chunking.packConcat(docs.filter($"doc_id" =!= 2L),
      "doc_id", "text", 4, 1).orderBy("doc_id").collect()
    assert(packed(2).getLong(3) === without(1).getLong(3),
      "null-text doc must not shift later offsets")

    // paragraph dedup: a null-text doc simply drops (no paragraphs)
    val paras = Dedup.paragraphDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(paras === Set(1L, 3L))

    // span removal: null text passes through as null, untouched
    val removed = Dedup.removeRepeatedSpans(docs, "doc_id", "text", 2, 2)
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(removed.keySet === Set(1L, 2L, 3L) && removed(2L))

    // source stats: null text counts as a doc; token/quality terms skip it
    val stats = CorpusStats.sourceStats(docs, "source", "text").head()
    assert(stats.getLong(1) === 3L)
  }

  test("degenerate inputs have defined behavior in the second-half operators") {
    val s = spark
    import s.implicits._
    import graft.pipeline.{AsofJoin, Dedup, IntervalJoin, Sampling, TextFunctions => TF}

    // as-of join: empty right side -> every left row survives, unmatched
    val left = Seq((1L, "k", 10L), (2L, "k", 20L)).toDF("id", "k", "t")
    val emptyR = Seq.empty[(String, Long, String)].toDF("k", "t", "tag")
    val asof = AsofJoin.asofJoin(left, emptyR, "k", "t").collect()
    assert(asof.length === 2 && asof.forall(_.isNullAt(3)))

    // interval join: empty interval side -> empty output, preflight quiet
    val emptyI = Seq.empty[(String, Long, Long, Long)].toDF("k", "iid", "s", "e")
    assert(IntervalJoin.intervalJoin(left, emptyI, "k", "t", "s", "e", 10L).count() === 0)
    // degenerate zero/negative-width intervals are dropped, not exploded
    val degen = Seq(("k", 1L, 10L, 10L), ("k", 2L, 9L, 5L)).toDF("k", "iid", "s", "e")
    assert(IntervalJoin.intervalJoin(left, degen, "k", "t", "s", "e", 10L).count() === 0)

    // exact-k sampling: k beyond every group returns the full groups
    val df = Seq(("g", 1L), ("g", 2L), ("h", 3L)).toDF("grp", "id")
    assert(Sampling.exactKPerGroup(df, "grp", "id", 100).count() === 3)

    // URL dedup: null URLs collapse into one null-canonical group
    // instead of crashing; real URLs are unaffected
    val urls = Seq((1L, Option("https://a.com/x")), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("doc_id", "url")
    val survivors = Dedup.urlDedupSurvivors(urls, "doc_id", "url")
      .collect().map(r => Option(r.getString(1)) -> r.getLong(2)).toMap
    assert(survivors(Some("https://a.com/x")) === 1L && survivors(None) === 2L)

    // corpus diff: empty new snapshot -> everything 'removed'
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.corpusDiff(docs, none, "doc_id", "text")
      .collect().forall(_.getString(1) == "removed"))

    // boilerplate removal with an EMPTY key set: pure passthrough
    val out = Dedup.removeBoilerplate(docs, "text", Array.emptyLongArray)
      .collect().map(r => (r.getString(1), r.getLong(3))).toSeq
    assert(out.forall(_._2 == 0L))

    // canonicalizeUrl: null in, null out
    assert(urls.select(TF.canonicalizeUrl(col("url"))).collect().count(_.isNullAt(0)) === 2)
  }

  test("custom SQL functions usable from SQL text and Column API") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.GraftExpressions
    GraftExpressions.register(s)
    Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b").createOrReplaceTempView("vv")
    assert(s.sql("SELECT array_dot(a, b) FROM vv").head().getDouble(0) === 11.0)
    val viaExpr = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(GraftExpressions.arrayDot(col("a"), col("b")))
      .head().getDouble(0)
    assert(viaExpr === 11.0)
    // every registered SQL function == its Column-API twin on the same input
    val tdf = Seq(("some text here and more", Seq("some", "text", "here"), 2.5, 1.0))
      .toDF("txt", "toks", "v", "w")
    tdf.createOrReplaceTempView("tv")
    def one(sql: String): org.apache.spark.sql.Row = s.sql(sql).head()
    assert(one("SELECT simhash64(toks) FROM tv").getLong(0) ===
      tdf.select(GraftExpressions.simhash64(col("toks"))).head().getLong(0))
    assert(one("SELECT fnv1a_fingerprint(txt) FROM tv").getLong(0) ===
      tdf.select(GraftExpressions.fnv1aFingerprint(col("txt"))).head().getLong(0))
    assert(one("SELECT slice_hash(shingle_hashes(toks, 2), 0, 2, 42) FROM tv").getLong(0) ===
      tdf.select(GraftExpressions.longSliceHash(
        org.apache.spark.sql.graft.ShingleHashesFn.shingle_hashes(col("toks"), 2), 0, 2, 42L))
        .head().getLong(0))
    assert(one("SELECT weighted_median(v, w) FROM tv").getDouble(0) === 2.5)
    // non-literal codegen parameter -> clear error, not a wrong plan
    val err = intercept[Exception](s.sql("SELECT shingle_hashes(toks, v) FROM tv").head())
    assert(err.getMessage.contains("integer literal")
      || err.getCause != null && err.getCause.getMessage.contains("integer literal"))
    // the SparkSessionExtensions hook wires the same builder table at build time
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new org.apache.spark.sql.graft.GraftExtensions()(ext) // must not throw
  }
}

/** A DummyRegressor whose every fit after the first throws. The count is
  * global because `Estimator.fit(df, params)` fits a copy of the learner.
  */
class SecondFitFails(uid: String) extends DummyRegressor(uid) {
  def this() = this(org.apache.spark.ml.util.Identifiable.randomUID("secondFitFails"))

  override protected def train(dataset: org.apache.spark.sql.Dataset[_]): DummyRegressionModel = {
    if (SecondFitFails.fits.incrementAndGet() > 1) {
      throw new IllegalStateException("second fit of the base learner fails")
    }
    super.train(dataset)
  }
}

object SecondFitFails {
  val fits = new java.util.concurrent.atomic.AtomicInteger()
}

/** A DummyRegressor whose every fit throws. */
class FitFails(uid: String) extends DummyRegressor(uid) {
  def this() = this(org.apache.spark.ml.util.Identifiable.randomUID("fitFails"))

  override protected def train(dataset: org.apache.spark.sql.Dataset[_]): DummyRegressionModel =
    throw new IllegalArgumentException(FitFails.message)
}

object FitFails {
  val message = "the base learner rejects its input"
}
