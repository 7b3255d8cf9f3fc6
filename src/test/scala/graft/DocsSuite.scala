package graft

import org.apache.spark.ml.classification.{DecisionTreeClassifier, LogisticRegression}
import org.apache.spark.ml.graft._
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.sql.functions._

/** Runs the docs/ usage snippets against the sf0.001 fixtures — docs
  * parity is only real if every documented call compiles and executes.
  * Each test mirrors one page; keep them in sync when a page changes.
  */
class DocsSuite extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val reg = Queries.regressionInstances(spark, sf).cache()
  private lazy val clf = Queries.classificationInstances(spark, sf).cache()
  private lazy val docs = Tables.documents(spark, sf)
  private lazy val embs = Tables.embeddings(spark, sf)

  test("overview: bagging fit/transform/persist round-trip") {
    val model = new BaggingRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(5))
      .setNumBaseLearners(3)
      .setSubsampleRatio(0.8)
      .setSeed(42L)
      .fit(reg)
    assert(model.transform(reg).columns.contains("prediction"))
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString + "/bag"
    model.write.save(dir)
    val back = BaggingRegressionModel.load(dir)
    assert(back.transform(reg).count() === reg.count())
  }

  test("overview: SQL extensions register") {
    org.apache.spark.sql.graft.GraftExpressions.register(spark)
    org.apache.spark.sql.graft.WeightedMedian.register(spark)
    reg.createOrReplaceTempView("docs_reg")
    val r = spark.sql(
      "SELECT weighted_median(label, 1.0) AS wm FROM docs_reg").head()
    assert(!r.isNullAt(0))
  }

  test("bagging: soft-voting classifier config fits") {
    val model = new BaggingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(10))
      .setNumBaseLearners(4)
      .setSubsampleRatio(0.7)
      .setSubspaceRatio(0.5)
      .setVotingStrategy("soft")
      .setParallelism(4)
      .setSeed(42L)
      .fit(clf)
    assert(model.transform(clf).select("prediction").distinct().count() <= 2)
  }

  test("boosting: R2 regressor and SAMME classifier configs fit") {
    val r2 = new BoostingRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(5))
      .setNumBaseLearners(3)
      .setLossType("exponential")
      .setVotingStrategy("median")
      .fit(reg)
    assert(r2.modelWeights.nonEmpty)
    val samme = new BoostingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(3))
      .setNumBaseLearners(2)
      .setAlgorithm("discrete")
      .fit(clf)
    assert(samme.transform(clf).columns.contains("prediction"))
  }

  test("stacking: DT+LR proba stack fits") {
    val model = new StackingClassifier()
      .setBaseLearners(Array(
        new DecisionTreeClassifier().setMaxDepth(5),
        new LogisticRegression().setMaxIter(10)))
      .setStacker(new DecisionTreeClassifier().setMaxDepth(3))
      .setStackMethod("proba")
      .fit(clf)
    assert(model.transform(clf).columns.contains("prediction"))
  }

  test("gbm: documented regressor config fits") {
    val withVal = reg.withColumn("isVal", rand(7) > 0.8)
    val model = new GBMRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(5))
      .setMaxIter(3)
      .setLoss("logcosh")
      .setLearningRate(0.1)
      .setUpdates("newton")
      .setSubsampleRatio(0.8)
      .setValidationIndicatorCol("isVal")
      .setNumRounds(3)
      .fit(withVal)
    assert(model.models.nonEmpty)
    assert(model.transform(reg).columns.contains("prediction"))
  }

  test("gbm: documented classifier config fits") {
    val model = new GBMClassifier()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(3))
      .setMaxIter(3)
      .setLoss("logloss")
      .setLearningRate(0.1)
      .setUpdates("newton")
      .fit(Queries.multiclassInstances(spark, sf))
    assert(model.transform(Queries.multiclassInstances(spark, sf))
      .columns.contains("prediction"))
  }

  test("dummy: documented accessors") {
    val base = new DummyRegressor()
      .setStrategy("quantile").setQuantile(0.9).setTol(0.0).fit(reg)
    assert(base.constantValue > 0)
    val prior = new DummyClassifier().setStrategy("prior").fit(clf)
    assert(math.abs(prior.classProbabilities.sum - 1.0) < 1e-9)
  }

  test("pipeline-ops: dedup + components + survivors snippets run") {
    assert(pipeline.Dedup.exactDedup(docs, "doc_id", "text").count() > 0)
    val pairs = pipeline.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8,
      maxDocFrequency = 10000)
    val mh = pipeline.Dedup.minhashPairsVerified(docs, "doc_id", "text")
    val comps = pipeline.Dedup.connectedComponents(mh, "doc_a", "doc_b")
    val corpus = pipeline.Dedup.nearDupCorpus(docs, "doc_id", mh)
    val best = pipeline.Dedup.nearDupCorpusBy(docs, "doc_id", "n_chars", mh)
    assert(comps.columns.toSeq === Seq("id", "component"))
    assert(best.count() === corpus.count()) // same clusters, different survivor
    Seq(pairs, mh, comps, corpus, best).foreach(_.unpersist(blocking = false))
  }

  test("pipeline-ops: incremental dedup + sampling snippets run") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val fresh = pipeline.Dedup.incrementalDedupSurvivors(corpus, batch, "doc_id", "text")
    assert(fresh.count() > 0 && fresh.count() <= batch.count())
    fresh.unpersist(blocking = false)
    assert(pipeline.Sampling.hashSample(docs, "doc_id", 0.1).count() > 0)
    val mixed = pipeline.Sampling.hashStratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 1.0, "de" -> 0.5, "zh" -> 0.1), defaultRate = 0.25)
    assert(mixed.count() > 0 && mixed.count() < docs.count())
    val Seq(train, valid, test) =
      pipeline.Sampling.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1))
    assert(train.count() + valid.count() + test.count() === docs.count())
    val e3 = pipeline.Sampling.epochShards(docs, "doc_id", epoch = 3, numShards = 16)
    assert(e3.repartition(16, col("shard"))
      .sortWithinPartitions("sort_key", "doc_id").count() === docs.count())
  }

  test("pipeline-ops: chunking/packing/clustering/source snippets run") {
    val chunks = pipeline.Chunking.chunkDocuments(docs, "text", maxTokens = 48, stride = 32)
    assert(chunks.count() >= docs.count())
    val packed = pipeline.Chunking.packConcat(docs, "doc_id", "text",
      seqLen = 64, numStreams = 4)
    assert(packed.count() === docs.count())
    val paraDocs = docs.limit(50)
      .withColumn("text", concat(col("text"), lit("\n\nshared tail paragraph")))
    assert(pipeline.Dedup.paragraphDedup(paraDocs, "doc_id", "text").count() > 0)
    val (assigned, centroids) =
      pipeline.Clustering.kmeans(embs, "vec_id", "embedding", k = 4, iters = 2)
    assert(centroids.length === 4 && assigned.groupBy("cluster").count().count() <= 4)
    val stats = pipeline.CorpusStats.sourceStats(docs, "source", "text")
    assert(stats.count() === docs.select("source").distinct().count())
    assert(pipeline.CorpusStats.sourceFilter(docs, "source", "text",
      minMeanQuality = 0.3).count() > 0)
    val marks = pipeline.Dedup.semanticDedup(embs, "vec_id", "embedding",
      centroids, threshold = 0.95)
    assert(marks.count() === embs.count())
    assert(pipeline.Dedup.semanticDedupSurvivors(embs, "vec_id", "embedding",
      centroids, 0.95, maxClusterSize = 200000).count() <= embs.count())
  }

  test("pipeline-ops: decontamination snippets run, three paths agree") {
    val evalDocs = docs.filter(col("doc_id") % 10 === 0)
    val train = docs.filter(col("doc_id") % 10 =!= 0).limit(60)
    val viaJoin = pipeline.Decontaminate
      .contaminationReport(train, "doc_id", "text", evalDocs, "text", 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val grams = pipeline.Decontaminate.evalGramArray(evalDocs, "text", 3)
    val viaMap = pipeline.Decontaminate.markContaminated(train, "text", 3, grams)
      .select("doc_id", "n_ngrams", "n_hits", "contamination", "contaminated")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaBloom = pipeline.Decontaminate
      .contaminationReportBloom(train, "doc_id", "text", evalDocs, "text", 3,
        numBits = 1 << 16)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaJoin === viaMap && viaJoin === viaBloom)
    assert(pipeline.Decontaminate
      .decontaminatedCorpus(train, "doc_id", "text", evalDocs, "text", 3)
      .count() <= train.count())
  }

  test("pipeline-ops: crawl-hygiene + heavy-hitter + curriculum snippets run") {
    val withUrl = docs.withColumn("url",
      concat(lit("https://www."), col("source"), lit(".example.com/doc/"), col("doc_id")))
    assert(withUrl.withColumn("url_canon",
      pipeline.TextFunctions.canonicalizeUrl(col("url")))
      .filter(col("url_canon").contains("www.")).count() === 0)
    assert(pipeline.Dedup.urlDedupSurvivors(withUrl, "doc_id", "url").count() > 0)
    val keys = pipeline.Dedup.boilerplateLineSet(docs, "doc_id", "text", minDocs = 2)
    assert(pipeline.Dedup.removeBoilerplate(docs, "text", keys).count() === docs.count())
    assert(docs.withColumn("f", pipeline.TextFunctions.gopherFlags(col("text")))
      .select("f.too_few_words").count() === docs.count())
    assert(pipeline.Dedup.dupProvenance(docs, "doc_id", "text", "source")
      .columns.toSeq === Seq("src_first", "src_dup", "n_dups", "dup_id_sum"))
    assert(pipeline.Dedup.corpusDiff(docs, docs.limit(10), "doc_id", "text")
      .filter(col("status") === "unchanged").count() === 10)
    val heavy = pipeline.CorpusStats.heavyTokens(docs, "text", n = 1,
      minCount = 100L, sketchK = 512)
    assert(heavy.columns.toSeq === Seq("gram", "n"))
    assert(pipeline.Sampling.exactKPerGroup(docs, "source", "doc_id", 3)
      .groupBy("source").count().collect().forall(_.getLong(1) <= 3))
    val scored = docs.select(col("doc_id"), col("n_chars").cast("double").as("q"))
    assert(pipeline.Sampling.curriculumOrder(scored, "q", "doc_id", 4)
      .select("bucket").distinct().count() === 4)
  }

  test("pipeline-ops: time-join + warc + vector-compression snippets run") {
    val e = Tables.events(spark, sf).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
    val views = e.filter(col("event_type") === "view").select("event_id", "user_id", "ts_us")
    val clicks = e.filter(col("event_type") === "click")
      .select("user_id", "ts_us", "event_id", "value")
    assert(pipeline.AsofJoin.asofJoin(views, clicks, "user_id", "ts_us",
      tolerance = Some(86400000000L), rightPrefix = "click_").count() === views.count())
    val windows = clicks.select(col("user_id"), col("ts_us").as("start_us"),
      (col("ts_us") + 7200000000L).as("end_us"))
    assert(pipeline.IntervalJoin.intervalJoin(views, windows, "user_id", "ts_us",
      "start_us", "end_us", binWidth = 3600000000L).count() >= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-warc").toString
    val withUrl = docs.select(
      concat(lit("https://x/"), col("doc_id")).as("url"), col("text"))
    graft.sources.Warc.writeCorpus(withUrl, "url", "text", dir, gzip = true)
    val records = graft.sources.Warc.readWarc(spark, dir + "/*.warc.gz")
    assert(records.select(graft.sources.Warc.httpBody(col("payload"))).count()
      === docs.count())
    assert(pipeline.Similarity.quantizeInt8(embs, "vec_id", "embedding")
      .count() === embs.count())
    val q = embs.filter(col("vec_id") < 3)
    assert(pipeline.Similarity.pqTopK(q, embs, "vec_id", "embedding", 10).count() === 30)
    assert(pipeline.Similarity.ivfPqTopK(q, embs, "vec_id", "embedding", 10,
      numCentroids = 8, nprobe = 4).count() > 0)
  }

  test("pipeline-ops: skew + similarity snippets run") {
    val fact = reg.withColumn("user_id", (col("l_quantity") % 5).cast("long"))
    val dim = fact.groupBy("user_id").agg(count(lit(1)).as("n"))
    val hot = pipeline.SkewJoin.hotKeysSampled(
      fact, "user_id", thresholdFraction = 0.01)
    val joined = pipeline.SkewJoin.saltedEquiJoin(
      fact, dim, "user_id", "user_id", hot, saltFactor = 16)
    assert(joined.count() === fact.count())
    val q = embs.filter(col("vec_id") < 5)
    assert(pipeline.Similarity.bruteForceTopK(q, embs, "vec_id", "embedding", 10)
      .count() === 50)
    assert(pipeline.Similarity.ivfTopK(q, embs, "vec_id", "embedding", 10,
      numCentroids = 8, nprobe = 4).count() > 0)
    val exact = pipeline.Similarity.bruteForceTopKAgg(q, embs, "vec_id", "embedding", 10)
    val approx = pipeline.Similarity.ivfTopKSeeded(q, embs, "vec_id", "embedding", 10,
      numCentroids = 16, nprobe = 4)
    val rec = pipeline.Similarity.recallAtK(approx, exact)
    assert(rec.columns.toSeq === Seq("query_id", "n_exact", "n_hits"))
    assert(rec.count() === 5)
  }

  test("pipeline-ops: novelty + range-shard snippets run") {
    val nov = pipeline.CorpusStats.noveltyScore(docs, "doc_id", "text", n = 3)
    assert(nov.columns.toSeq === Seq("id", "n_grams", "n_novel"))
    assert(nov.count() === docs.count())
    val keyed = docs.select(col("doc_id"),
      size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("n_tokens"))
    val sharded = pipeline.Sampling.rangeShards(keyed, "n_tokens", numShards = 8)
    assert(sharded.count() === docs.count())
    assert(sharded.select("shard_id").distinct().count() >= 2)
  }

  test("pipeline-ops: temperature mix snippet runs") {
    val mix = pipeline.Sampling.temperatureSample(docs, "lang", "doc_id",
      alpha = 0.3, budget = 500L)
    val copies = pipeline.Sampling.materializeCopies(mix)
    assert(copies.count() ===
      mix.agg(sum(col("n_copies"))).head().getLong(0))
  }

  test("pipeline-ops: lm perplexity snippet runs") {
    import graft.pipeline.LanguageModel
    val uni = LanguageModel.unigramCounts(docs, "text")
    val big = LanguageModel.bigramCounts(docs, "text")
    val kept = LanguageModel.perplexityBand(docs, "doc_id", "text", uni, big,
      lo = 0.0, hi = 1e9, broadcastModel = true)
    assert(kept.count() > 0)
  }

  test("pipeline-ops: html/url/dsir snippet runs") {
    import graft.pipeline.{CrawlFilters, ImportanceSampling, TextFunctions}
    val text = docs.select(TextFunctions.htmlToText(col("text")).as("text"))
    assert(text.count() === docs.count())
    val withUrl = docs.withColumn("url",
      concat(lit("https://h.example/"), col("doc_id")))
    val kept = CrawlFilters.blocklistFilter(withUrl, "url",
      blockedDomains = Seq("bad.example"), blockedWords = Seq("casino"),
      maxWordHits = 2)
    assert(kept.count() === docs.count())
    val target = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val raw = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val weights = ImportanceSampling.importanceWeights(raw, "doc_id", "text",
      target, "text", n = 2, numBuckets = 1000)
    val picked = ImportanceSampling.gumbelTopK(weights, "doc_id", k = 20)
    assert(picked.count() === 20)
  }

  test("pipeline-ops: bm25 retrieval snippet runs") {
    val queries = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(pipeline.TextFunctions.tokens(col("text")), 1, 5), " ")
          .as("qtext"))
    val hits = pipeline.Retrieval.bm25TopK(
      docs, "doc_id", "text", queries, "query_id", "qtext", k = 10)
    assert(hits.count() > 0)
    assert(hits.columns.toSeq === Seq("query_id", "doc_id", "score", "rnk"))
    hits.unpersist(blocking = false)
  }

  test("pipeline-ops: content blocklist snippet runs") {
    val report = pipeline.CrawlFilters.contentBlocklistReport(docs, "text",
      badWords = Seq("zzspam"), badPhrases = Seq("zzfree zzmoney"),
      maxBadPer1000 = 40)
    assert(report.count() === docs.count())
    assert(report.columns.takeRight(4).toSeq ===
      Seq("n_tokens", "n_bad", "phrase_hit", "pass"))
  }

  test("pipeline-ops: token-budget waterfill snippet runs") {
    val demand = docs.groupBy("source")
      .agg(sum(pipeline.TextFunctions.tokenCount(col("text")).cast("long"))
        .as("n_tokens"))
    val alloc = pipeline.Sampling.tokenBudgetWaterfill(
      demand, "source", "n_tokens", budget = 10000L)
    val rows = alloc.collect()
    assert(rows.map(_.getLong(2)).sum === 10000L)
    assert(alloc.columns.toSeq === Seq("source", "n_tokens", "alloc", "saturated"))
  }

  test("pipeline-ops: hybrid rank-fusion snippet runs") {
    val queries = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(pipeline.TextFunctions.tokens(col("text")), 1, 5), " ")
          .as("qtext"))
    val bm = pipeline.Retrieval.bm25TopK(
      docs, "doc_id", "text", queries, "query_id", "qtext", k = 10)
    val ov = pipeline.Retrieval.termOverlapTopK(
      docs, "doc_id", "text", queries, "query_id", "qtext", k = 10)
    val fused = pipeline.Retrieval.rrfFuse(Seq(
      bm.select("query_id", "doc_id", "rnk"),
      ov.select("query_id", "doc_id", "rnk")), k = 10)
    assert(fused.count() > 0)
    assert(fused.columns.toSeq === Seq("query_id", "doc_id", "score", "rnk"))
    bm.unpersist(blocking = false)
  }

  test("pipeline-ops: dense-lexical hybrid snippet runs") {
    val queries = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(pipeline.TextFunctions.tokens(col("text")), 1, 5), " ")
          .as("qtext"))
    val vecQueries = embs.filter(pmod(col("vec_id"), lit(100)) === 0)
    val fused = pipeline.Retrieval.hybridDenseTopK(
      docs, "doc_id", "text", queries, "query_id", "qtext",
      embs, "vec_id", "embedding", vecQueries, 10)
    assert(fused.count() > 0)
    assert(fused.columns.toSeq === Seq("query_id", "doc_id", "score", "rnk"))
    fused.unpersist(blocking = false)
  }

  test("pipeline-ops: copy-detection / diagnostics / layout / interchange snippets run") {
    val small = docs.limit(100)
    // text-analysis page: the repair -> NFC ingest chain
    val cleaned = small.select(
      pipeline.TextFunctions.nfcNormalize(
        pipeline.TextFunctions.fixEncoding(col("text"))).as("text"))
    assert(cleaned.count() === small.count())
    val fps = pipeline.Winnowing.winnowFingerprints(small, "doc_id", "text", 3, 4)
    assert(fps.count() > 0)
    val pairs = pipeline.Winnowing.winnowOverlapPairs(small, "doc_id", "text", 3, 4,
      minShared = 1, maxDocFrequency = 1000)
    try assert(pairs.columns.toSeq === Seq("doc_a", "doc_b", "n_shared"))
    finally pairs.unpersist(blocking = false)
    val zipf = pipeline.CorpusStats.zipfStats(small, "text", maxRank = 20)
    assert(zipf.count() === 9)
    val mix = pipeline.TextFunctions.langMixture(small, "doc_id", "text")
    assert(mix.count() === small.count())
    val z = small.select(col("doc_id"),
      pipeline.Sampling.zorderKey(
        pipeline.TextFunctions.tokenCount(col("text")).cast("long"),
        col("n_chars"), 16).as("zkey"))
    assert(pipeline.Sampling.rangeShards(z.filter(col("zkey").isNotNull), "zkey", 8)
      .select("shard_id").distinct().count() >= 2)
    val dir = java.nio.file.Files.createTempDirectory("docs-jsonl").toString + "/c"
    graft.sources.Jsonl.writeCorpus(small, dir, codec = "gzip")
    val qr = graft.sources.Jsonl.readWithQuarantine(spark, dir, small.schema)
    try {
      assert(qr.good.count() === small.count() && qr.quarantined.count() === 0)
    } finally qr.release()
    val queries = small.limit(3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(pipeline.TextFunctions.tokens(col("text")), 1, 5), " ")
          .as("qtext"))
    val positives = queries.select(col("query_id"), col("query_id").as("pos_id"))
    val negs = pipeline.Retrieval.hardNegatives(small, "doc_id", "text",
      queries, "query_id", "qtext", positives, k = 10, nNeg = 3)
    try assert(negs.filter(col("doc_id") === col("query_id")).count() === 0)
    finally negs.unpersist(blocking = false)
    val ranked = pipeline.Retrieval.bm25TopK(small, "doc_id", "text",
      queries, "query_id", "qtext", 10)
    val qrels = queries.select(col("query_id"), col("query_id").as("doc_id"),
      lit(1.0).as("rel"))
    val metrics = pipeline.Retrieval.rankMetrics(ranked, qrels, 10)
    assert(metrics.count() === queries.count())
    ranked.unpersist(blocking = false)
  }

  test("pipeline-ops: iterative BPE trainer + tokenizer-aware packing snippets run") {
    val small = docs.limit(100)
    val learned = pipeline.CorpusStats.bpeTrain(small, "text", rounds = 3)
    assert(learned.size === 3 && learned.forall(_._2 > 0))
    val enc = pipeline.CorpusStats.bpeEncodeStats(
      small, "doc_id", "text", learned.map(_._1))
    assert(enc.count() === small.count())
    val packed = pipeline.Chunking.packConcatBy(
      enc.select(col("id").as("doc_id"), col("n_pieces")),
      "doc_id", "n_pieces", seqLen = 64, numStreams = 4)
    assert(packed.count() === small.count())
    assert(packed.columns.toSeq ===
      Seq("doc_id", "stream", "n_pieces", "start_off", "first_seq", "last_seq"))
  }
}
