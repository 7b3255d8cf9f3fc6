package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer. `parent` is -1 for an operation's root. */
final case class Span(
    id: Int, parent: Int, op: Int, layer: String, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spans recorded around the benchmark's own calls into the library.
  * Disabled, `span` only runs its body. Enabled, it also tags the Spark
  * jobs submitted inside it with the span id through a local property,
  * which is how `SparkEvents` attributes scheduler events to spans.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.SpanProperty

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      sc.setLocalProperty(SpanProperty, id.toString)
      val start = nowMs()
      try body
      finally {
        spans += Span(id, parent, op, layer, name, start, nowMs())
        open = open.tail
        sc.setLocalProperty(SpanProperty, open.headOption.map(_.toString).orNull)
      }
    }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Each span's duration minus the part of it its children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (toUs(c.startMs), toUs(c.endMs)))
      s.id -> (s.durMs - Stats.unionLength(
        kids.map { case (a, b) => (math.max(a, toUs(s.startMs)), math.min(b, toUs(s.endMs))) }) / 1000.0)
    }.toMap
  }

  private def toUs(ms: Double): Long = math.round(ms * 1000)

  /** The innermost span open at `tMs`, or -1. */
  def enclosing(spans: Seq[Span], tMs: Double): Int = {
    val hits = spans.filter(s => s.startMs <= tMs && tMs <= s.endMs)
    if (hits.isEmpty) -1 else hits.minBy(_.durMs).id
  }
}

final case class TaskRec(
    span: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleReadB: Long, shuffleWriteB: Long, spillB: Long)

final case class QueryRec(
    startMs: Double, planMs: Double, execMs: Double, nodes: Int, exchanges: Int)

/** Observes Spark through its public listener interfaces only: a
  * `SparkListener` for jobs, stages and tasks, and a
  * `QueryExecutionListener` for Catalyst phase times and final plans.
  */
final class SparkEvents(spark: SparkSession) {
  import SparkEvents._

  private val jobs = new ConcurrentLinkedQueue[(Int, Int)]() // (job id, span)
  val jobTimes = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]() // job -> (start, end) ms
  private val stages = new ConcurrentLinkedQueue[Int]() // span per completed stage
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var markerSeen = false

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).forall(_.getProperty(MarkerProperty) == null)) {
        val span = spanOf(e.properties)
        e.stageIds.foreach(stageSpan.put(_, span))
        jobs.add((e.jobId, span))
        jobTimes.put(e.jobId, (e.time, e.time))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobTimes.get(e.jobId)).foreach(t => jobTimes.put(e.jobId, (t._1, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => stages.add(s))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && stageSpan.containsKey(e.stageId)) tasks.add(TaskRec(
        stageSpan.get(e.stageId), i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs / 1e6)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0.0)
  }

  private def record(qe: QueryExecution, execMs: Double): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val start = phases.get("planning").map(_.endTimeMs.toDouble)
      .orElse(phases.values.map(_.endTimeMs.toDouble).maxOption).getOrElse(0.0)
    val nodes = finalPlanNodes(qe.executedPlan)
    queries.add(QueryRec(start, planMs.toDouble, execMs, nodes.length,
      nodes.count(_.isInstanceOf[Exchange])))
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Waits until every event posted before this call has been delivered:
    * both listeners sit on Spark's shared event queue, which delivers in
    * order, so once a marker job's start is seen, everything before it
    * has been seen too.
    */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    markerSeen = false
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerProperty) != null)) markerSeen = true
    }
    sc.addSparkListener(marker)
    val prev = sc.getLocalProperty(Tracer.SpanProperty)
    sc.setLocalProperty(MarkerProperty, "1")
    sc.setLocalProperty(Tracer.SpanProperty, null)
    try spark.range(1).count()
    finally {
      sc.setLocalProperty(MarkerProperty, null)
      sc.setLocalProperty(Tracer.SpanProperty, prev)
    }
    val deadline = System.currentTimeMillis() + 30000
    while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
    sc.removeSparkListener(marker)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  def jobList: Seq[(Int, Int)] = jobs.asScala.toSeq
  def stageList: Seq[Int] = stages.asScala.toSeq
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
  def queryList: Seq[QueryRec] = queries.asScala.toSeq.filter(_.startMs > 0)
}

object SparkEvents {
  val MarkerProperty = "perfbench.marker"

  /** Nodes of the plan that actually ran. Adaptive execution hides the
    * final plan behind `AdaptiveSparkPlanExec` and wraps each exchange in
    * a query stage, so a plain `collect` over `executedPlan` sees a single
    * node; this descends into both.
    */
  def finalPlanNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => finalPlanNodes(a.executedPlan)
    case s: QueryStageExec => finalPlanNodes(s.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(finalPlanNodes)
  }
}
