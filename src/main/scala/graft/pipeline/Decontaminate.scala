package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ShingleHashesFn.shingle_hashes

import TextFunctions.tokens

/** Benchmark decontamination: find (and drop) training documents that
  * overlap an evaluation/benchmark set at the token n-gram level — the
  * standard guard against test-set leakage into a training corpus (the
  * GPT-3/PaLM-style "remove any training doc sharing an n-gram with the
  * benchmark" rule, with the n-gram length as the knob).
  *
  * 100 TB shape: the benchmark side is SMALL by definition (eval suites
  * are thousands of docs, the corpus is billions), so its distinct n-gram
  * set is built once and BROADCAST — the corpus-side scan is one explode +
  * map-side broadcast hash join + one partially-aggregated groupBy on
  * doc_id. Exactly one shuffle, carrying two longs per corpus doc; no
  * corpus self-join, nothing driver-side. N-grams are keyed by the shared
  * 64-bit shingle hash ([[org.apache.spark.sql.graft.ShingleHashes]] —
  * zero intermediate strings; collisions at the 2^-40 level can only
  * perturb one count).
  *
  * Reference scope note: the reference library (pierrenodet/spark-ensemble)
  * has no data-pipeline surface; this operator is part of graft's
  * beyond-reference training-data toolkit (SURVEY §2.5).
  */
object Decontaminate {

  /** Per-document contamination report against `evalDocs`:
    * `(doc_id, n_ngrams, n_hits, contamination, contaminated)` where
    * `n_ngrams` is the doc's DISTINCT n-gram count, `n_hits` how many of
    * those appear anywhere in the eval set, `contamination` their ratio
    * (rounded 1e-6 for cross-engine stability), and `contaminated` the
    * any-overlap flag. Every input doc gets a row (zero hits included) —
    * thresholding is the caller's policy, the report is the mechanism.
    *
    * Docs with NO n-grams (null text, or fewer than `n` tokens) still get
    * their row: `n_ngrams = 0`, `n_hits = 0`, `contamination = null`
    * (0/0), `contaminated = false` — the same contract as
    * [[markContaminated]], pinned by suite parity.
    */
  def contaminationReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalDocs: DataFrame,
      evalTextCol: String,
      n: Int): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(shingle_hashes(tokens(col(evalTextCol)), n)).as("s"))
      .distinct()
      .withColumn("hit", lit(1L))
    docs
      // shingle_hashes emits the doc's distinct shingle set, so counting
      // non-null s after the explode IS the distinct n-gram count and the
      // left join can only match each (doc, gram) once. explode_OUTER
      // keeps gram-less docs (null text / short docs) as one s=null row —
      // a null key never joins, so they aggregate to (0, 0).
      .select(col(idCol).as("doc_id"),
        explode_outer(shingle_hashes(tokens(col(textCol)), n)).as("s"))
      .join(broadcast(evalGrams), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(
        count(col("s")).as("n_ngrams"),
        coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .withColumn("contamination", contaminationRatio)
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** `n_hits / n_ngrams` rounded 1e-6; null (not an ANSI divide-by-zero
    * error) for gram-less docs — the 0/0 case both report paths share.
    */
  private def contaminationRatio =
    when(col("n_ngrams") > 0,
      round(col("n_hits").cast("double") / col("n_ngrams"), 6))

  /** The eval set's distinct n-gram hashes, collected to the driver and
    * sorted for binary search. Eval suites are small by definition, so
    * the array is at most a few million longs — well inside driver and
    * broadcast budgets. Feed to [[markContaminated]].
    */
  def evalGramArray(evalDocs: DataFrame, evalTextCol: String, n: Int): Array[Long] = {
    val a = evalDocs
      .select(explode(shingle_hashes(tokens(col(evalTextCol)), n)).as("s"))
      .distinct()
      .collect()
      .map(_.getLong(0))
    java.util.Arrays.sort(a)
    a
  }

  /** Map-only contamination marking against a driver-collected eval gram
    * set: appends `(n_ngrams, n_hits, contamination, contaminated)` to
    * every input row, all original columns kept. Semantics identical to
    * [[contaminationReport]] (suite-pinned parity), but the plan is a
    * single projection — no join, no shuffle, no aggregation state — so
    * it runs verbatim on a STREAMING DataFrame (continuous-ingestion
    * decontamination) and costs one broadcast + one binary search per
    * n-gram at any corpus size.
    */
  def markContaminated(
      docs: DataFrame,
      textCol: String,
      n: Int,
      evalGrams: Array[Long]): DataFrame = {
    val sorted = evalGrams.clone()
    java.util.Arrays.sort(sorted)
    val bc = docs.sparkSession.sparkContext.broadcast(sorted)
    val hitsUdf = udf { grams: scala.collection.Seq[Long] =>
      // null text -> null gram array: zero hits, matching the report path
      if (grams == null) 0L
      else {
        val a = bc.value
        var h = 0L
        val it = grams.iterator
        while (it.hasNext) {
          if (java.util.Arrays.binarySearch(a, it.next()) >= 0) h += 1
        }
        h
      }
    }
    docs
      .withColumn("__grams", shingle_hashes(tokens(col(textCol)), n))
      // null text -> size() is null; coalesce to 0 so gram-less docs carry
      // (n_ngrams = 0, n_hits = 0, contamination = null, contaminated =
      // false) — the contaminationReport contract
      .withColumn("n_ngrams", coalesce(size(col("__grams")).cast("long"), lit(0L)))
      .withColumn("n_hits", hitsUdf(col("__grams")))
      .drop("__grams")
      .withColumn("contamination", contaminationRatio)
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** The eval set's n-gram Bloom filter, built DISTRIBUTED (the
    * [[org.apache.spark.sql.graft.BloomFilterAgg bloom_agg]] aggregate:
    * each map task ships one m-bit sketch, merge is word-wise OR) and
    * collected as the word array. At m = 2^30 bits / k = 7 the filter is
    * 128 MiB for ~10^8 grams at <1% FPR — broadcast-able where the exact
    * sorted-Long-array of [[evalGramArray]] (800 MB+) is not. Feed to
    * [[contaminationReportBloom]].
    */
  def evalGramBloom(
      evalDocs: DataFrame,
      evalTextCol: String,
      n: Int,
      numBits: Int,
      numHashes: Int = 7): Array[Long] = {
    import org.apache.spark.sql.graft.BloomFilter.bloom_agg
    val bytes = evalDocs
      .select(explode(shingle_hashes(tokens(col(evalTextCol)), n)).as("s"))
      .agg(bloom_agg(col("s"), numBits, numHashes).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    org.apache.spark.sql.graft.BloomFilterOps.fromBytes(bytes)
  }

  /** [[contaminationReport]] through a Bloom-filter propose/verify plan —
    * the shape for eval suites too large for an exact driver-side set:
    *  1. map-side probe: every doc counts its grams that MIGHT be in the
    *     eval set (broadcast m-bit filter, zero shuffle);
    *  2. docs with zero maybe-hits get their (0 hits) report row WITHOUT
    *     ever entering a join — no false negatives means the filter's
    *     word is final for them (the overwhelming majority of a clean
    *     corpus);
    *  3. only bloom-candidate docs (true overlaps + the FPR-bounded
    *     false positives) explode into the exact gram join for
    *     verification.
    * Output is EXACT and identical to [[contaminationReport]] — the
    * bloom only prunes the join input, never decides a count (gate
    * `p_decontaminate_bloom` pins both paths to one oracle). The shuffle
    * carries candidate docs only: at 0.8% FPR, ~1% of a clean corpus
    * instead of all of it.
    */
  def contaminationReportBloom(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalDocs: DataFrame,
      evalTextCol: String,
      n: Int,
      numBits: Int = 1 << 22,
      numHashes: Int = 7): DataFrame = {
    val words = evalGramBloom(evalDocs, evalTextCol, n, numBits, numHashes)
    val bc = docs.sparkSession.sparkContext.broadcast(words)
    val maybeUdf = udf { grams: scala.collection.Seq[Long] =>
      if (grams == null) 0L
      else {
        val w = bc.value
        var h = 0L
        val it = grams.iterator
        while (it.hasNext) {
          if (org.apache.spark.sql.graft.BloomFilterOps.contains(w, numHashes, it.next())) h += 1
        }
        h
      }
    }
    val probed = docs
      .select(col(idCol).as("doc_id"), shingle_hashes(tokens(col(textCol)), n).as("__grams"))
      .withColumn("n_ngrams", coalesce(size(col("__grams")).cast("long"), lit(0L)))
      .withColumn("__maybe", maybeUdf(col("__grams")))
    val clean = probed.filter(col("__maybe") === 0)
      .select(col("doc_id"), col("n_ngrams"), lit(0L).as("n_hits"))
    val evalGrams = evalDocs
      .select(explode(shingle_hashes(tokens(col(evalTextCol)), n)).as("s"))
      .distinct()
      .withColumn("hit", lit(1L))
    val verified = probed.filter(col("__maybe") > 0)
      .select(col("doc_id"), col("n_ngrams"), explode(col("__grams")).as("s"))
      .join(broadcast(evalGrams), Seq("s"), "left")
      .groupBy("doc_id", "n_ngrams")
      .agg(coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .select("doc_id", "n_ngrams", "n_hits")
    clean.unionByName(verified)
      .withColumn("contamination", contaminationRatio)
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** The corpus with contaminated documents removed: docs whose distinct
    * n-gram overlap with the eval set exceeds `maxHits` (default 0 — any
    * shared n-gram disqualifies) are dropped, all original columns kept.
    * Implemented as a broadcast-able left-anti join against the flagged
    * id set, which is hit-bounded (≤ corpus docs, in practice tiny).
    */
  def decontaminatedCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalDocs: DataFrame,
      evalTextCol: String,
      n: Int,
      maxHits: Long = 0L): DataFrame = {
    val flagged = contaminationReport(docs, idCol, textCol, evalDocs, evalTextCol, n)
      .filter(col("n_hits") > maxHits)
      .select(col("doc_id"))
    docs.join(flagged, docs(idCol) === flagged("doc_id"), "left_anti")
  }

  /** NEAR-duplicate contamination report: training docs whose shingle
    * Jaccard against ANY eval doc reaches `threshold` — the guard the
    * exact-n-gram paths above cannot provide (a benchmark item
    * paraphrased, re-punctuated, or lightly edited into the crawl shares
    * few exact n-grams but high Jaccard). GPT-3's 13-gram rule misses
    * these; near-dup decontamination is the Dolma/FineWeb-style
    * complement.
    *
    * Output: `(doc_id, n_eval_matches, max_jaccard)` with one row PER
    * TRAINING DOC (`n_eval_matches = 0`, null `max_jaccard` for clean
    * docs — thresholding already happened, the report is the audit
    * artifact).
    *
    * Shape: MinHash-banding propose / exact-Jaccard verify — the same
    * propose/verify discipline as every dedup path here, pointed across
    * two corpora. The eval side is small by definition, so its banded
    * signatures AND its shingle inverted index broadcast; the corpus is
    * signed+banded once (or not at all: pass yesterday's
    * [[Dedup.bandedCorpusArtifact]] via `corpusBanded` and only the
    * candidate-bounded verification touches corpus text). Candidate
    * volume is controlled by the banding parameters; the exact verify is
    * candidate-bounded, so the n·|eval| pair space is never enumerated.
    * Result is exact (equal to the full cross-corpus Jaccard report)
    * whenever banding recall is 1 at the threshold — with b bands of r
    * rows the per-pair miss probability is (1−j^r)^b.
    *
    * Precondition: `idCol` is unique in `docs` and `evalIdCol` in
    * `evalDocs`. Shingle sets and their sizes are counted per id, so rows
    * sharing an id pool their shingles, and the Jaccard reported for that
    * id is neither row's.
    */
  def nearDupContaminationReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalDocs: DataFrame,
      evalIdCol: String,
      evalTextCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      corpusBanded: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold=$threshold must be in (0, 1]")
    val cBand = corpusBanded.getOrElse(
      Dedup.bandedCorpusArtifact(docs, idCol, textCol, numHashes, bands,
        shingleSize))
    val eBand = Dedup
      .bandedCorpusArtifact(evalDocs, evalIdCol, evalTextCol, numHashes,
        bands, shingleSize)
      .select(col("id").as("eval_id"), col("band"), col("bucket"))
    val cands = cBand
      .join(broadcast(eBand), Seq("band", "bucket"))
      .select(col("id"), col("eval_id"))
      .distinct()
    cands.persist()
    // candidate-bounded corpus side (r16): only corpus docs banding
    // actually proposed are re-tokenized for verification — the semi-join
    // prunes the corpus scan to the candidate neighborhoods, and the
    // per-doc shingle counts (`nc`) fall out of the same pruned index
    // (shingle_hashes emits DISTINCT keys, so the group count equals the
    // array size) instead of a second corpus-wide tokenize pass. Docs
    // without candidates can't reach `inter`/`verified` (inner joins), so
    // pruning them here changes nothing downstream.
    val candDocs = docs.join(
      cands.select(col("id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val cSh = candDocs.select(col(idCol).as("id"),
      explode(shingle_hashes(tokens(col(textCol)), shingleSize)).as("s"))
    cSh.persist()
    val eSh = evalDocs.select(col(evalIdCol).as("eval_id"),
      explode(shingle_hashes(tokens(col(evalTextCol)), shingleSize)).as("s"))
    eSh.persist()
    val eSizes = eSh.groupBy("eval_id").agg(count(lit(1)).as("ne"))
    val cSizes = cSh.groupBy("id").agg(count(lit(1)).as("nc"))
    val inter = cands
      .join(cSh, Seq("id"))
      .join(broadcast(eSh), Seq("eval_id", "s"))
      .groupBy("id", "eval_id")
      .agg(count(lit(1)).as("c"))
    val verified = inter
      .join(broadcast(eSizes), Seq("eval_id"))
      .join(cSizes, Seq("id"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("nc") + col("ne") - col("c")))
      .filter(col("jaccard") >= threshold)
    val perDoc = verified
      .groupBy("id")
      .agg(count(lit(1)).as("n_eval_matches"),
        max(round(col("jaccard"), 6)).as("max_jaccard"))
    val out = docs
      .select(col(idCol).as("doc_id"))
      .join(perDoc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
        col("max_jaccard"))
    out.persist()
    try out.count()
    catch { case e: Throwable =>
      out.unpersist(blocking = false)
      cands.unpersist(blocking = false); eSh.unpersist(blocking = false)
      cSh.unpersist(blocking = false)
      throw e
    }
    cands.unpersist(blocking = false); eSh.unpersist(blocking = false)
    cSh.unpersist(blocking = false)
    out
  }

  /** Semantic (embedding-level) decontamination — the FOURTH
    * decontamination plan, after exact n-gram, Bloom, and MinHash
    * near-dup: eval-set COSINE near-dups catch translated or heavily
    * paraphrased leakage that shares almost no surface n-grams. Same
    * report contract as [[nearDupContaminationReport]]:
    * `(doc_id, n_eval_matches, max_cos)` for EVERY corpus doc
    * (`n_eval_matches = 0`, null `max_cos` for clean ones).
    *
    * Plan shape (the 100 TB path): corpus and eval embeddings bucket
    * under the SAME seeded random hyperplanes
    * ([[Dedup.embeddingDupPairsLsh]]'s machinery); the banded eval side
    * — thousands of rows against a corpus of billions — BROADCASTS, so
    * candidate proposal is a map-side join. Cosines evaluate per
    * candidate instance (a pair seen in several tables recomputes a
    * cheap dot product rather than shuffling 64-dim vectors to a
    * distinct), then one slim `(id, eval_id, cos)` collapse and one
    * per-doc aggregate. Recall follows the LSH S-curve like every
    * banded path here; exact copies and scaled copies (identical
    * direction) bucket together with probability 1.
    */
  def semanticContaminationReport(
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      evalDocs: DataFrame,
      evalIdCol: String,
      evalVecCol: String,
      threshold: Double,
      dim: Int,
      planes: Int = 12,
      tables: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold=$threshold must be in (0, 1]")
    require(dim > 0 && planes > 0 && tables > 0,
      s"bad LSH shape: dim=$dim planes=$planes tables=$tables")
    val rng = new scala.util.Random(seed)
    val hyperplanes: Array[Array[Array[Double]]] =
      Array.fill(tables, planes, dim)(rng.nextGaussian())
    def banded(df: DataFrame, id: String, vec: String, outId: String) =
      df.select(col(id).as(outId), col(vec).cast("array<double>").as("v"))
        .select(col(outId), col("v"),
          explode(array((0 until tables).map(t =>
            struct(lit(t).as("t"),
              org.apache.spark.sql.graft.GraftExpressions
                .lshBucket(col("v"), hyperplanes(t)).as("bucket"))): _*)).as("bb"))
        .select(col(outId), col("v"), col("bb.t").as("t"), col("bb.bucket").as("bucket"))
    val cB = banded(docs, idCol, vecCol, "id")
    val eB = banded(evalDocs, evalIdCol, evalVecCol, "eval_id")
      .select(col("eval_id"), col("v").as("ev"), col("t"), col("bucket"))
    val verified = cB
      .join(broadcast(eB), Seq("t", "bucket"))
      .select(col("id"), col("eval_id"),
        round(Dedup.cosine(col("v"), col("ev")), 6).as("cos"))
      .groupBy("id", "eval_id")
      .agg(max(col("cos")).as("cos"))
      .filter(col("cos") >= threshold)
    val perDoc = verified
      .groupBy("id")
      .agg(count(lit(1)).as("n_eval_matches"), max(col("cos")).as("max_cos"))
    docs
      .select(col(idCol).as("doc_id"))
      .join(perDoc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
        col("max_cos"))
  }

  /** Drop every training doc the semantic report flags: the
    * corpus-minus-flagged complement of [[semanticContaminationReport]].
    */
  def decontaminatedCorpusSemantic(
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      evalDocs: DataFrame,
      evalIdCol: String,
      evalVecCol: String,
      threshold: Double,
      dim: Int,
      planes: Int = 12,
      tables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val flagged = semanticContaminationReport(docs, idCol, vecCol, evalDocs,
        evalIdCol, evalVecCol, threshold, dim, planes, tables, seed)
      .filter(col("n_eval_matches") > 0)
      .select(col("doc_id"))
    docs.join(flagged, docs(idCol) === flagged("doc_id"), "left_anti")
  }

  /** Drop every training doc the near-dup report flags: the
    * corpus-minus-flagged complement of [[nearDupContaminationReport]].
    */
  def decontaminatedCorpusNearDup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalDocs: DataFrame,
      evalIdCol: String,
      evalTextCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      corpusBanded: Option[DataFrame] = None): DataFrame = {
    val flagged = nearDupContaminationReport(docs, idCol, textCol, evalDocs,
        evalIdCol, evalTextCol, numHashes, bands, shingleSize, threshold,
        corpusBanded)
      .filter(col("n_eval_matches") > 0)
      .select(col("doc_id"))
    docs.join(flagged, docs(idCol) === flagged("doc_id"), "left_anti")
  }
}
