package perfbench

import java.io.File

import scala.collection.mutable

import graft.pipeline.{Dedup, Sampling}
import graft.pipeline.TextFunctions.tokenCount
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The daily incremental loop: each op is one day in which a batch lands
  * next to a growing corpus and its banded artifact. Small batches, many
  * planned queries, and parquet writes beside the reads.
  */
final class DailyLoop(val spark: SparkSession, seed: Long, val cores: Int) extends Workload {
  import DailyLoop._

  private var dir: File = _
  private var gen: Gen.Corpus = _
  private var index = new Oracle.Index
  private val inCorpus = mutable.Set.empty[Long]
  private val tokenTotals = mutable.Map.empty[Long, Long]
  // the day in flight: its batch ids, planted copies, survivors, split
  // counts and the parquet bytes before its append
  private var batchIds: Seq[Long] = Nil
  private var planted: Seq[(Long, Long)] = Nil
  private var survivors: Option[DataFrame] = None
  private var splitStats: Seq[(Long, Long)] = Nil
  private var bytesBefore = 0L
  private val days = mutable.Map.empty[Int, (Long, Long)] // day -> (dropped, bytes appended)
  private var recallHits = 0
  private var recallTotal = 0
  private var oneShot: Map[String, Double] = Map.empty // per-layer metrics of the probe

  override def minOps: Int = 3
  override def maxOps: Int = MaxDays

  def prepare(dir: File): Unit = {
    gen = new Gen.Corpus(seed)
    val day0 = gen.take(CorpusDocs)
    val corpusDir = new File(dir, "corpus")
    writeParquet(day0.map(d => Row(d.id, Gen.text(d.tokens))), DocSchema, corpusDir)
    Dedup.bandedCorpusArtifact(read(corpusDir), "id", "text")
      .write.parquet(new File(dir, "artifact").getPath)
  }

  def open(dir: File): Unit = {
    this.dir = dir
    index = new Oracle.Index
    inCorpus.clear()
    tokenTotals.clear()
    gen.docs.foreach(add)
    inCorpus ++= gen.docs.map(_.id)
    days.clear()
    recallHits = 0
    recallTotal = 0
  }

  private def add(d: Gen.Doc): Unit = {
    index.add(d.id, Oracle.trigrams(d.tokens))
    tokenTotals(d.id) = d.tokens.length
  }

  private def batchDir(day: Int) = new File(dir, s"batch-$day")

  /** A batch arrives: the next generated documents, written as parquet. */
  override def before(day: Int): Unit = {
    val batch = gen.take(BatchDocs)
    batch.foreach(add)
    batchIds = batch.map(_.id)
    planted = gen.planted.filter(_._2 >= batchIds.head).toSeq
    writeParquet(batch.map(d => Row(d.id, Gen.text(d.tokens))), DocSchema, batchDir(day))
    bytesBefore = parquetBytes()
  }

  private def parquetBytes(): Long =
    dirBytes(new File(dir, "corpus")) + dirBytes(new File(dir, "artifact"))

  /** `WarmupDays` days against a scratch copy of the inputs, so the
    * measured days start from the prepared state once the day's latency
    * has levelled off (it falls over the first four days of a JVM).
    */
  def warmup(): Unit = {
    val scratch = new File(dir, "warmup")
    copyTree(new File(dir, "corpus"), new File(scratch, "corpus"))
    copyTree(new File(dir, "artifact"), new File(scratch, "artifact"))
    val gen = new Gen.Corpus(seed ^ 0x5eed, firstId = 1L << 40)
    (0 until WarmupDays).foreach { d =>
      val batch = new File(scratch, s"batch-$d")
      writeParquet(gen.take(BatchDocs).map(d => Row(d.id, Gen.text(d.tokens))), DocSchema, batch)
      runDay(new Tracer(spark.sparkContext, enabled = false), scratch, batch)
    }
  }

  def op(day: Int, t: Tracer): Unit = survivors = Some(runDay(t, dir, batchDir(day)))

  /** One day: dedup the batch against the corpus through the artifact,
    * split the survivors and count each split, then append the
    * survivors' bandings and text. Returns the checkpointed survivors.
    */
  private def runDay(t: Tracer, base: File, batchPath: File): DataFrame = {
    val corpus = read(new File(base, "corpus"))
    val artifact = read(new File(base, "artifact"))
    val batch = read(batchPath)
    val survivors = t.span("pipeline", "Dedup.incrementalDedupSurvivors") {
      val out = Dedup.incrementalDedupSurvivors(corpus, batch, "id", "text", corpusBanded = Some(artifact))
      // Appending to a path re-caches every cached plan that reads it, so
      // the survivors would be recomputed against the appended corpus (and
      // find themselves there). A local checkpoint cuts them loose.
      val snapshot = out.localCheckpoint()
      out.unpersist(blocking = false)
      snapshot
    }
    splitStats = t.span("pipeline", "Sampling.hashSplit") {
      Sampling.hashSplit(survivors, "id", Seq(0.7, 0.2, 0.1)).map { split =>
        val r = split.agg(count(lit(1)), coalesce(sum(tokenCount(col("text"))), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
    }
    // the banding is lazy, so its work is timed inside the append
    t.span("io", "append") {
      Dedup.bandedCorpusArtifact(survivors, "id", "text")
        .write.mode("append").parquet(new File(base, "artifact").getPath)
      survivors.select("id", "text").write.mode("append").parquet(new File(base, "corpus").getPath)
    }
    survivors
  }

  def check(d: Int): Seq[String] = survivors.toSeq.flatMap { out =>
    survivors = None
    val kept = out.select("id").collect().map(_.getLong(0)).toSet
    val batchSet = batchIds.toSet
    val dropped = batchIds.filterNot(kept)
    val failures = mutable.ArrayBuffer.empty[String]
    if (!kept.subsetOf(batchSet)) failures += s"day $d: ${(kept -- batchSet).size} survivors are not batch documents"
    val unjustified = dropped.filterNot { id =>
      index.hasNearDup(index(id), p => inCorpus(p) || (batchSet(p) && p < id))
    }
    if (unjustified.nonEmpty)
      failures += s"day $d: ${unjustified.size} dropped documents have no preceding document at " +
        s"trigram J >= ${Oracle.Threshold}, e.g. ${unjustified.take(3).mkString(", ")}"
    val (docs, toks) = (splitStats.map(_._1).sum, splitStats.map(_._2).sum)
    val expectedTokens = kept.toSeq.map(tokenTotals).sum
    if (docs != kept.size || toks != expectedTokens)
      failures += s"day $d: splits hold $docs docs / $toks tokens, expected ${kept.size} / $expectedTokens"
    // recall over planted copies whose source a dedup of this day can see
    val dup = planted.filter { case (src, cp) =>
      (inCorpus(src) || batchSet(src)) && Oracle.jaccard(index(src), index(cp)) >= Oracle.Threshold
    }.map(_._2).distinct
    recallTotal += dup.size
    recallHits += dup.count(id => !kept(id))
    inCorpus ++= kept
    days(d) = (dropped.size.toLong, parquetBytes() - bytesBefore)
    failures.toSeq
  }

  override def finalChecks(): Seq[String] = {
    val corpusRows = read(new File(dir, "corpus")).count()
    val artifactRows = read(new File(dir, "artifact")).count()
    Seq(
      if (corpusRows == inCorpus.size) None
      else Some(s"corpus holds $corpusRows rows, expected ${inCorpus.size}"),
      if (artifactRows == Bands.toLong * corpusRows) None
      else Some(s"artifact holds $artifactRows rows, expected $Bands x $corpusRows banded documents")
    ).flatten
  }

  private def quality: Double = recallHits.toDouble / recallTotal

  def throughputAndQuality(opS: Seq[Double]): (Double, Double) =
    (BatchDocs * opS.size / opS.sum, quality)

  def report(opS: Seq[Double]): Seq[String] = Seq(
    f"day_p50_s ${Stats.median(opS)}%.4f s (n=${opS.size})",
    (if (opS.size >= 3) f"day_growth_ratio ${Stats.growthRatio(opS)}%.4f ratio (${opS.size} days)"
     else "day_growth_ratio n/a (fewer than 3 days)"),
    f"dedup_recall $quality%.5f ratio ($recallTotal planted copies at trigram J >= ${Oracle.Threshold})")

  /** The one-shot dedup of the corpus as the days left it. */
  override def probes(t: Tracer): Seq[String] = {
    val (m, failures) = OneShotDedup.run(t, read(new File(dir, "corpus")),
      inCorpus.iterator.map(id => id -> index(id)).toMap)
    oneShot = m
    failures
  }

  def layerMetrics(t: Tracer, ev: SparkEvents): Map[String, Double] = {
    val m = Workload.spanMedianS _
    val ds = days.values.toSeq
    Map(
      "pipeline.day_dedup_s" -> m(t, "Dedup.incrementalDedupSurvivors"),
      "pipeline.day_split_stats_s" -> m(t, "Sampling.hashSplit"),
      "pipeline.day_append_s" -> m(t, "append"),
      "pipeline.day_dropped" -> (if (ds.isEmpty) 0.0 else ds.map(_._1).sum.toDouble / ds.size),
      "pipeline.artifact_rows" -> Bands.toDouble * inCorpus.size,
      "io.artifact_mb" -> dirBytes(new File(dir, "artifact")) / 1e6,
      "io.corpus_mb" -> dirBytes(new File(dir, "corpus")) / 1e6,
      "io.append_mb" -> (if (ds.isEmpty) 0.0 else ds.map(_._2).sum / 1e6 / ds.size)) ++ oneShot
  }
}

object DailyLoop {
  val CorpusDocs = 2000
  val BatchDocs = 300
  val MaxDays = 60
  val WarmupDays = 4
  val Bands = 16

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("text", StringType, nullable = false)))

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length()
    else 0L

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyTree(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
}
