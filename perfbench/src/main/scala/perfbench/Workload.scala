package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark workload: a closed loop of operations, one client, each
  * operation started when the previous one ends.
  *
  * `Main` calls `prepare` several times (set-up is timed as a median),
  * `open` on the last prepared inputs, `warmup` once, then runs passes of
  * `before(i)` (untimed), `op(i)` (timed) and `check(i)` (untimed).
  */
trait Workload {
  def spark: SparkSession
  def cores: Int

  /** Generates the inputs from the seed and writes them under `dir`. */
  def prepare(dir: File): Unit

  /** Opens the prepared inputs the way a user opens their files, and
    * clears the samples of any earlier pass.
    */
  def open(dir: File): Unit

  /** Untimed work that warms the code paths the ops take. */
  def warmup(): Unit

  /** Untimed work that must precede op `i`, such as a batch arriving. */
  def before(i: Int): Unit = ()

  def op(i: Int, t: Tracer): Unit

  /** Failed checks of op `i`'s outputs; also releases them. */
  def check(i: Int): Seq[String]

  /** A pass runs at least this many ops, and at most `maxOps`. */
  def minOps: Int = 1
  def maxOps: Int = Int.MaxValue

  /** Checks on state the whole pass built up. */
  def finalChecks(): Seq[String] = Nil

  /** (rows per second of op time, quality) of the pass's ops. */
  def throughputAndQuality(opS: Seq[Double]): (Double, Double)

  /** Lines naming the workload's own end-to-end figures, with units. */
  def report(opS: Seq[Double]): Seq[String]

  /** Calls made only by the traced pass, after its ops, that time the
    * public steps the ops' library calls are made of; returns failed
    * checks of their outputs.
    */
  def probes(t: Tracer): Seq[String] = Nil

  /** The workload's per-layer metrics from the traced pass. */
  def layerMetrics(t: Tracer, ev: SparkEvents): Map[String, Double]

  protected def writeParquet(rows: Seq[Row], schema: StructType, path: File): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), schema)
      .write.parquet(path.getPath)

  protected def read(path: File): DataFrame = spark.read.parquet(path.getPath)
}

object Workload {
  val names: Seq[String] = Seq("ensemble-fit", "daily-loop")

  def apply(name: String, spark: SparkSession, seed: Long, cores: Int): Workload = name match {
    case "ensemble-fit" => new EnsembleFit(spark, seed, cores)
    case "daily-loop" => new DailyLoop(spark, seed, cores)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
  }

  /** Median call time, in seconds, of the spans with this name. */
  def spanMedianS(t: Tracer, name: String): Double = {
    val xs = t.spans.filter(_.name == name).map(_.durMs / 1000.0).toSeq
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}
