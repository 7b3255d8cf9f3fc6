package perfbench

import graft.pipeline.Dedup
import graft.pipeline.TextFunctions.tokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MinHashSignature.minhash_signature
import org.apache.spark.sql.graft.ShingleHashesFn.shingle_hashes

/** The one-shot dedup of a whole corpus, split into the public steps it
  * is made of and each timed as its own span: signatures, candidate
  * pairs, verified pairs, components and survivors, plus the two text
  * kernels under them. Its outputs are checked against the oracle.
  */
object OneShotDedup {

  /** (per-layer metrics, failed checks) for `docs`, whose trigrams are
    * `grams`.
    */
  def run(t: Tracer, docs: DataFrame, grams: Map[Long, Array[Long]]): (Map[String, Double], Seq[String]) = {
    val n = grams.size
    val shingles = t.span("sql_graft", "shingle_hashes")(
      docs.select(explode(shingle_hashes(tokens(col("text")), 3))).count())
    val signed = t.span("sql_graft", "minhash_signature")(
      docs.select(col("id"), explode(shingle_hashes(tokens(col("text")), 3)).as("h"))
        .groupBy("id").agg(minhash_signature(col("h"), 64)).count())
    val sigs = t.span("pipeline", "Dedup.minhashSignatures") {
      val s = Dedup.minhashSignatures(docs, "id", "text", 64)
      s.persist()
      s.count()
      s
    }
    val cands = t.span("pipeline", "Dedup.minhashCandidatePairs")(Dedup.minhashCandidatePairs(sigs, 16, 64))
    val proposed = cands.count()
    sigs.unpersist(blocking = false)
    cands.unpersist(blocking = false)
    val pairs = t.span("pipeline", "Dedup.minhashPairsVerified")(Dedup.minhashPairsVerified(docs, "id", "text"))
    t.span("pipeline", "Dedup.connectedComponents")(Dedup.connectedComponents(pairs, "doc_a", "doc_b"))
      .unpersist(blocking = false)
    val survivors = t.span("pipeline", "Dedup.nearDupCorpus")(Dedup.nearDupCorpus(docs, "id", pairs))
    val found = pairs.select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val kept = survivors.select("id").collect().map(_.getLong(0)).toSet
    pairs.unpersist(blocking = false)
    survivors.unpersist(blocking = false)

    val expectedShingles = grams.values.map(_.length.toLong).sum
    val expectedKept = grams.keySet -- Oracle.expectedDropped(found.map(p => (p._1, p._2)))
    val failures = checkPairs(found, grams) ++ Seq(
      if (shingles == expectedShingles) None
      else Some(s"shingle_hashes gave $shingles distinct trigrams, expected $expectedShingles"),
      if (signed == n) None else Some(s"minhash_signature signed $signed of $n documents"),
      if (kept == expectedKept) None
      else Some(s"survivors differ from the input minus each component's non-minimum members: " +
        s"${(kept -- expectedKept).size} unexpected, ${(expectedKept -- kept).size} missing")
    ).flatten
    def perS(name: String) = {
      val s = Workload.spanMedianS(t, name)
      if (s > 0) n / s else 0.0
    }
    val m = Workload.spanMedianS _
    (Map(
      "pipeline.signatures_s" -> m(t, "Dedup.minhashSignatures"),
      "pipeline.candidates_s" -> m(t, "Dedup.minhashCandidatePairs"),
      "pipeline.pairs_s" -> m(t, "Dedup.minhashPairsVerified"),
      "pipeline.components_s" -> m(t, "Dedup.connectedComponents"),
      "pipeline.survivors_s" -> m(t, "Dedup.nearDupCorpus"),
      "pipeline.candidates" -> proposed.toDouble,
      "pipeline.verified_pairs" -> found.size.toDouble,
      "pipeline.candidate_precision" -> (if (proposed > 0) found.size.toDouble / proposed else 0.0),
      "sql_graft.shingle_docs_per_s" -> perS("shingle_hashes"),
      "sql_graft.signature_docs_per_s" -> perS("minhash_signature")), failures)
  }

  /** Every reported pair must have exact trigram Jaccard at or above the
    * threshold, and its reported Jaccard must match the exact one.
    */
  def checkPairs(found: Seq[(Long, Long, Double)], grams: Long => Array[Long]): Seq[String] = {
    val bad = found.flatMap { case (a, b, j) =>
      val exact = Oracle.jaccard(grams(a), grams(b))
      if (exact >= Oracle.Threshold && math.abs(exact - j) < 1e-6) None
      else Some(f"($a, $b) reported J=$j%.6f, exact J=$exact%.6f")
    }
    if (bad.isEmpty) Nil
    else Seq(s"${bad.size} reported pairs fail the exact trigram Jaccard check, e.g. ${bad.take(3).mkString("; ")}")
  }
}
