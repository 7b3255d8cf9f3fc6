package perfbench

import java.io.{File, PrintWriter}

/** Per-layer metrics shared by every workload, the per-layer metric list
  * the benchmark prints with `--trace 1`, and the JSON it writes.
  */
object Layers {

  /** Every per-layer metric, in print order, with its unit. A workload
    * that never enters a layer reports 0 for that layer's metrics.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "ml_graft.fit_s.gbm_reg" -> "s",
    "ml_graft.fit_s.gbm_cls" -> "s",
    "ml_graft.fit_s.boost_cls" -> "s",
    "ml_graft.fit_s.bag_reg" -> "s",
    "ml_graft.fit_s.stack_cls" -> "s",
    "ml_graft.transform_s" -> "s",
    "ml_graft.jobs_per_iter.gbm_reg" -> "count",
    "ml_graft.jobs_per_iter.gbm_cls" -> "count",
    "ml_graft.jobs_per_iter.boost_cls" -> "count",
    "ml_graft.jobs_per_fit.bag_reg" -> "count",
    "ml_graft.jobs_per_fit.stack_cls" -> "count",
    "pipeline.signatures_s" -> "s",
    "pipeline.candidates_s" -> "s",
    "pipeline.pairs_s" -> "s",
    "pipeline.components_s" -> "s",
    "pipeline.survivors_s" -> "s",
    "pipeline.candidates" -> "count",
    "pipeline.verified_pairs" -> "count",
    "pipeline.candidate_precision" -> "ratio",
    "pipeline.day_dedup_s" -> "s",
    "pipeline.day_split_stats_s" -> "s",
    "pipeline.day_append_s" -> "s",
    "pipeline.day_dropped" -> "count",
    "pipeline.artifact_rows" -> "count",
    "sql_graft.shingle_docs_per_s" -> "docs/s",
    "sql_graft.signature_docs_per_s" -> "docs/s",
    "spark.sql.queries" -> "count",
    "spark.sql.plan_s" -> "s",
    "spark.sql.exec_s" -> "s",
    "spark.sql.plan_nodes" -> "count",
    "spark.sql.exchanges" -> "count",
    "spark.sched.jobs" -> "count",
    "spark.sched.stages" -> "count",
    "spark.sched.tasks" -> "count",
    "spark.sched.task_run_s" -> "s",
    "spark.sched.task_cpu_s" -> "s",
    "spark.sched.busy_frac" -> "ratio",
    "spark.sched.driver_gap_s" -> "s",
    "spark.sched.gc_s" -> "s",
    "spark.sched.shuffle_read_mb" -> "MB",
    "spark.sched.shuffle_write_mb" -> "MB",
    "spark.sched.spill_mb" -> "MB",
    "io.artifact_mb" -> "MB",
    "io.corpus_mb" -> "MB",
    "io.append_mb" -> "MB",
    "jvm.heap_peak_mb" -> "MB",
    "jvm.gc_s" -> "s",
    "self_s.bench" -> "s",
    "self_s.ml_graft" -> "s",
    "self_s.pipeline" -> "s",
    "self_s.io" -> "s",
    "trace.untraced_op_s" -> "s",
    "trace.traced_op_s" -> "s",
    "trace.overhead_frac" -> "ratio",
    "trace.untraced_spread_frac" -> "ratio")

  // sql_graft is entered only by the probes after the ops
  val spanLayers: Seq[String] = Seq("bench", "ml_graft", "pipeline", "io")

  /** Spark and self-time metrics of the traced ops, per op (busy_frac is
    * a share of the ops' wall time). Events inside the probes that follow
    * the ops are left out.
    */
  def metrics(t: Tracer, ev: SparkEvents, cores: Int): Map[String, Double] = {
    val spans = t.spans.toSeq
    val inOp = spans.filter(_.op >= 0).map(_.id).toSet
    val roots = spans.filter(s => s.op >= 0 && s.parent == -1)
    val n = math.max(1, roots.size).toDouble
    val wallS = roots.map(_.durMs).sum / 1e3
    val tasks = ev.taskList.filter(r => inOp(r.span))
    val queries = ev.queryList.filter(q => inOp(Tracer.enclosing(spans, q.startMs)))
    val runS = tasks.map(_.runMs).sum / 1e3
    val opOf = spans.map(s => s.id -> s.op).toMap
    val gapMs = roots.map { r =>
      val mine = tasks.filter(x => opOf(x.span) == r.op).map(x => (x.launchMs, x.finishMs))
      Stats.uncovered((math.round(r.startMs), math.round(r.endMs)), mine).toDouble
    }.sum
    val self = Tracer.selfMs(spans)
    Map(
      "spark.sql.queries" -> queries.size / n,
      "spark.sql.plan_s" -> queries.map(_.planMs).sum / 1e3 / n,
      "spark.sql.exec_s" -> queries.map(_.execMs).sum / 1e3 / n,
      "spark.sql.plan_nodes" -> queries.map(_.nodes).sum / n,
      "spark.sql.exchanges" -> queries.map(_.exchanges).sum / n,
      "spark.sched.jobs" -> ev.jobList.count(j => inOp(j._2)) / n,
      "spark.sched.stages" -> ev.stageList.count(inOp) / n,
      "spark.sched.tasks" -> tasks.size / n,
      "spark.sched.task_run_s" -> runS / n,
      "spark.sched.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "spark.sched.busy_frac" -> Stats.busyFrac(runS, wallS, cores),
      "spark.sched.driver_gap_s" -> gapMs / 1e3 / n,
      "spark.sched.gc_s" -> tasks.map(_.gcMs).sum / 1e3 / n,
      "spark.sched.shuffle_read_mb" -> tasks.map(_.shuffleReadB).sum / 1e6 / n,
      "spark.sched.shuffle_write_mb" -> tasks.map(_.shuffleWriteB).sum / 1e6 / n,
      "spark.sched.spill_mb" -> tasks.map(_.spillB).sum / 1e6 / n) ++
      spanLayers.map { l =>
        s"self_s.$l" -> spans.filter(s => s.op >= 0 && s.layer == l).map(s => self(s.id)).sum / 1e3 / n
      }
  }

  /** The run's spans, each with its self time and the Spark work
    * attributed to it, plus the per-layer metrics.
    */
  def writeTrace(
      file: File, a: Main.Args, t: Tracer, ev: SparkEvents, layers: Map[String, Double]): Unit = {
    val spans = t.spans.toSeq
    val self = Tracer.selfMs(spans)
    val jobs = ev.jobList.groupBy(_._2).map { case (s, js) => s -> js.size }
    val tasks = ev.taskList.groupBy(_.span)
    val queries = ev.queryList.groupBy(q => Tracer.enclosing(spans, q.startMs))
    val spanJson = spans.map { s =>
      val ts = tasks.getOrElse(s.id, Nil)
      val qs = queries.getOrElse(s.id, Nil)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "dur_ms" -> Json.num(s.durMs), "self_ms" -> Json.num(self(s.id)),
        "jobs" -> Json.num(jobs.getOrElse(s.id, 0)),
        "job_ms" -> Json.num(Stats.unionLength(ev.jobList.filter(_._2 == s.id)
          .flatMap(j => Option(ev.jobTimes.get(j._1))).map(t => (t._1, t._2)))),
        "tasks" -> Json.num(ts.size),
        "task_run_ms" -> Json.num(ts.map(_.runMs).sum), "queries" -> Json.num(qs.size),
        "plan_ms" -> Json.num(qs.map(_.planMs).sum), "plan_nodes" -> Json.num(qs.map(_.nodes).sum),
        "exchanges" -> Json.num(qs.map(_.exchanges).sum)))
    }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed), "cores" -> Json.num(a.cores),
      "metrics" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> spanJson.mkString("[\n", ",\n", "\n]")))
    val w = new PrintWriter(file, "UTF-8")
    try w.println(doc) finally w.close()
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (name, v, unit) =>
        name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      })))
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** A finite number as written by `toString`, which keeps every digit;
    * non-finite values have no JSON form and become null.
    */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
