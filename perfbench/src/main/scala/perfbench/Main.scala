package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM on
  * `local[cores]`. The last line of standard output is the JSON result;
  * the lines before it name each figure with its unit.
  *
  *   --workload NAME --seed N --seconds S --trace 0|1 --cores C --work DIR
  *
  * `--trace 0` prints the end-to-end metrics of an untraced pass.
  * `--trace 1` runs three passes of `TraceOps` ops, each on freshly
  * prepared inputs: untraced, traced, untraced. It prints the per-layer
  * metrics of the traced pass and the tracing overhead against the mean
  * of the two untraced passes, whose order cancels a steady warm-up
  * drift, and writes the spans to DIR/../traces.
  */
object Main {
  val SetupReps = 3
  val TraceOps = 1

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int, work: File)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, trace == "1",
      get("cores").toInt, new File(get("work")))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] failed: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    Runtime.getRuntime.halt(code)
  }

  /** One pass: latencies of the ops that succeeded, ops attempted, ops
    * failed (an exception or a failed output check) and the failure
    * messages, including those of the pass's final checks.
    */
  final case class Pass(opS: Seq[Double], attempted: Int, failed: Int, failures: Seq[String])

  private def runPass(w: Workload, t: Tracer, seconds: Double, fixedOps: Option[Int]): Pass = {
    val opS = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var i = 0
    var busy = 0.0
    def more = fixedOps match {
      case Some(n) => i < n
      case None => i < w.maxOps && (busy < seconds || i < w.minOps)
    }
    while (more) {
      w.before(i)
      t.op = i
      val t0 = System.nanoTime()
      val ok =
        try { t.span("bench", "op")(w.op(i, t)); true }
        catch {
          case e: Exception =>
            failures += s"op $i threw $e"
            false
        }
      val s = (System.nanoTime() - t0) / 1e9
      t.op = -1
      busy += s
      val bad = if (ok) w.check(i) else Nil
      failures ++= bad
      if (ok && bad.isEmpty) opS += s
      i += 1
    }
    val last = w.finalChecks()
    // a failed final check fails the pass's last op
    val failed = math.min(i, i - opS.size + (if (last.nonEmpty && opS.size == i) 1 else 0))
    Pass(opS.toSeq, i, failed, failures.toSeq ++ last)
  }

  def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    a.work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w = Workload(a.workload, spark, a.seed, a.cores)

    val prepS = mutable.ArrayBuffer.empty[Double]
    var rep = 0
    def prepared(): File = {
      val dir = new File(a.work, s"inputs-$rep")
      rep += 1
      val t0 = System.nanoTime()
      w.prepare(dir)
      prepS += (System.nanoTime() - t0) / 1e9
      dir
    }
    val dirs = (0 until SetupReps).map(_ => prepared())
    dirs.init.foreach(deleteTree)
    val t0 = System.nanoTime()
    w.open(dirs.last)
    w.warmup()
    val warmupS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Stats.median(prepS.toSeq) + warmupS
    val setupLine = f"setup_s $setupS%.4f s (session $sessionS%.3f s, input set-up median of " +
      prepS.map(x => f"$x%.3f").mkString(", ") + f" s, open and warm-up $warmupS%.3f s)"

    def untracedPass(fixedOps: Option[Int]) =
      runPass(w, new Tracer(spark.sparkContext, enabled = false), a.seconds, fixedOps)
    val untraced = untracedPass(if (a.trace) Some(TraceOps) else None)
    val lines = mutable.ArrayBuffer.empty[String]
    lines += s"workload ${a.workload} seed ${a.seed} cores ${a.cores}"
    lines += setupLine
    lines += s"op latency ${Stats.describe(untraced.opS, "s")}; in order: " +
      untraced.opS.map(x => f"$x%.3f").mkString(" ")
    val (rowsPerS, quality) =
      if (untraced.opS.nonEmpty) w.throughputAndQuality(untraced.opS) else (0.0, 0.0)
    if (untraced.opS.nonEmpty) lines ++= w.report(untraced.opS)

    val (metrics, attempted, failed, failures) =
      if (!a.trace) {
        val m = Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_s", Stats.median(untraced.opS), "s"),
          ("rows_per_s", rowsPerS, "rows/s"),
          ("quality", quality, "ratio"))
        (m, untraced.attempted, untraced.failed, untraced.failures)
      } else {
        // the same ops again, traced, then untraced, each on freshly
        // prepared inputs so every pass starts from the same state
        w.open(prepared())
        val events = new SparkEvents(spark)
        val tracer = new Tracer(spark.sparkContext, enabled = true)
        val gcBefore = gcSeconds()
        ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
        events.start()
        val traced = runPass(w, tracer, a.seconds, Some(TraceOps))
        val heapPeakMb = heapPeakBytes() / 1e6
        val gcS = gcSeconds() - gcBefore
        val probeFailures = w.probes(tracer)
        events.stop()
        val pass = Layers.metrics(tracer, events, a.cores) ++ w.layerMetrics(tracer, events)
        w.open(prepared())
        val after = untracedPass(Some(TraceOps))
        val (u1, u2, t) = (mean(untraced.opS), mean(after.opS), mean(traced.opS))
        val u = (u1 + u2) / 2
        val overhead = Overhead(t / u - 1, math.abs(u1 - u2) / u)
        val layers = pass ++ Map(
          "jvm.heap_peak_mb" -> heapPeakMb,
          "jvm.gc_s" -> gcS / math.max(1, traced.opS.size),
          "trace.untraced_op_s" -> u,
          "trace.traced_op_s" -> t,
          "trace.overhead_frac" -> overhead.frac,
          "trace.untraced_spread_frac" -> overhead.spread)
        val out = new File(a.work.getParentFile, "traces")
        out.mkdirs()
        Layers.writeTrace(new File(out, s"${a.workload}-seed${a.seed}.json"), a, tracer, events, layers)
        lines += s"tracing overhead ${overhead.describe} " +
          f"(mean op $t%.4f s traced vs $u1%.4f s and $u2%.4f s untraced before and after)"
        val m = Layers.perLayer.map { case (name, unit) => (name, layers.getOrElse(name, 0.0), unit) }
        (m, untraced.attempted + traced.attempted + after.attempted,
          untraced.failed + traced.failed + after.failed +
            (if (probeFailures.nonEmpty && traced.failed == 0) 1 else 0),
          untraced.failures ++ traced.failures ++ probeFailures ++ after.failures)
      }

    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    lines += f"error_rate ${failed.toDouble / math.max(1, attempted)}%.4f ratio ($failed of $attempted ops)"
    lines.foreach(println)
    println(Layers.resultJson(failures.isEmpty, attempted, failed, metrics))
    // no spark.stop(): the JVM halts next, and the scratch space it would
    // clean up is the caller's to delete
    if (failures.isEmpty) 0 else 1
  }

  /** Tracing overhead as a share of the untraced mean op, and the share
    * by which the two untraced passes differ: an overhead no larger than
    * that spread is not resolved by the run.
    */
  final case class Overhead(frac: Double, spread: Double) {
    def describe: String =
      if (math.abs(frac) > spread) f"${frac * 100}%.2f%% (untraced passes within ${spread * 100}%.2f%%)"
      else f"unresolved: ${frac * 100}%.2f%% is within the ${spread * 100}%.2f%% between the untraced passes"
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPeakBytes(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
